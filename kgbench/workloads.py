"""One iteration of each workload's product entry points, and the layer
probes of the traced pass.

Batch iteration (kg_batch, kg_bigdict): ``read_transcripts`` ->
``run_pipeline`` -> ``write_triples``. Stream iteration (kg_stream):
``read_transcripts_stream(maxFilesPerTrigger=1)`` ->
``incremental_triples`` -> ``write_triples_stream`` into an
``IdempotentTripleSink``, run as availableNow. Each iteration writes into
fresh directories, which the caller deletes after the output check.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import time
from dataclasses import dataclass, field

import pandas as pd

import check
from proctree import Interval, Sampler
from spans import Tracer

WINDOW = 3  # the pipeline's default turn window
PANDAS_BATCH = 10_000  # the session's spark.sql.execution.arrow.maxRecordsPerBatch


@dataclass
class Iteration:
    triples: int = 0
    wall_s: float = 0.0
    plan_s: float = 0.0  # building the lazy product plan
    exec_s: float = 0.0  # committing it
    usage: Interval = field(default_factory=Interval)
    keys: pd.DataFrame | None = None  # the committed output's key columns
    progress: list[dict] = field(default_factory=list)  # stream only
    batches_committed: int = 0  # stream only
    out_dir: str = ""  # the committed table or sink


def batch_iteration(spark, transcripts_dir: str, dict_path: str,
                    out_dir: str, sampler: Sampler,
                    tracer: Tracer | None = None) -> Iteration:
    from kgpipe.pipeline import read_transcripts, run_pipeline
    from kgpipe.sources.storage import write_triples

    span = tracer.span if tracer else _no_span
    it = Iteration()
    sampler.begin()
    t0 = time.perf_counter()
    with span("iteration"):
        with span("sources.read_transcripts"):
            tr = read_transcripts(spark, transcripts_dir)
        cd = pd.read_parquet(dict_path)
        t1 = time.perf_counter()
        with span("pipeline.run_pipeline"):
            out = run_pipeline(spark, tr, cd)
        t2 = time.perf_counter()
        with span("storage.write_triples"):
            it.triples = write_triples(out["triples"], out_dir)
    t3 = time.perf_counter()
    it.usage = sampler.end()
    it.wall_s, it.plan_s, it.exec_s = t3 - t0, t2 - t1, t3 - t2
    it.out_dir = out_dir
    it.keys = check.batch_keys(out_dir)
    return it


def stream_iteration(spark, stream_dir: str, dict_path: str, sink_dir: str,
                     checkpoint_dir: str, sampler: Sampler,
                     timeout_s: float, tracer: Tracer | None = None
                     ) -> Iteration:
    from kgpipe.streaming import (
        IdempotentTripleSink,
        incremental_triples,
        read_transcripts_stream,
        write_triples_stream,
    )

    span = tracer.span if tracer else _no_span
    it = Iteration()
    sampler.begin()
    t0 = time.perf_counter()
    with span("iteration"):
        with span("sources.read_transcripts_stream"):
            src = read_transcripts_stream(spark, stream_dir,
                                          max_files_per_trigger=1)
        cd = pd.read_parquet(dict_path)
        t1 = time.perf_counter()
        with span("streaming.incremental_triples"):
            triples = incremental_triples(spark, src, cd)
        t2 = time.perf_counter()
        with span("streaming.write_triples_stream"):
            sink = IdempotentTripleSink(sink_dir)
            q = write_triples_stream(triples, sink, checkpoint_dir)
            try:
                if not q.awaitTermination(timeout_s):
                    raise TimeoutError("stream query did not drain in time")
            finally:
                q.stop()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            done = sink.committed_batches()
    t3 = time.perf_counter()
    it.usage = sampler.end()
    it.wall_s, it.plan_s, it.exec_s = t3 - t0, t2 - t1, t3 - t2
    it.progress = [dict(p) for p in q.recentProgress]
    it.batches_committed = len(done)
    it.out_dir = sink_dir
    it.keys = check.stream_keys(sink_dir)
    it.triples = len(it.keys)
    return it


def output_digest(spark, it: Iteration, stream: bool) -> tuple[int, int]:
    """check.xor_digest of an iteration's committed output, read back
    through the product's own readers."""
    from kgpipe.sources.storage import read_triples
    from kgpipe.streaming import IdempotentTripleSink

    if stream:
        return check.xor_digest(IdempotentTripleSink(it.out_dir).read(spark))
    return check.xor_digest(read_triples(spark, it.out_dir))


def _no_span(name: str) -> contextlib.nullcontext:
    return contextlib.nullcontext()


# -- the traced pass ---------------------------------------------------------

# driver-side kgpipe functions wrapped in spans during the traced iteration.
# Functions that pipeline.py imported at module level are patched where
# pipeline.py looks them up; the rest are imported at call time and are
# patched in their own module. No wrapped function is shipped to workers.
TRACED_CALLS = [
    ("kgpipe.pipeline", "label_transcripts", "labeler.label_transcripts"),
    ("kgpipe.pipeline", "extract_mentions", "mentions.extract_mentions"),
    ("kgpipe.pipeline", "dict_to_df", "linker.dict_to_df"),
    ("kgpipe.pipeline", "link_entities", "linker.link_entities"),
    ("kgpipe.operators.labeler", "label_transcripts", "labeler.label_transcripts"),
    ("kgpipe.operators.labeler", "build_gazetteer", "labeler.build_gazetteer"),
    ("kgpipe.operators.mentions", "extract_mentions", "mentions.extract_mentions"),
    ("kgpipe.operators.linker", "dict_to_df", "linker.dict_to_df"),
    ("kgpipe.operators.linker", "link_entities", "linker.link_entities"),
    ("kgpipe.operators.linker", "top1_dict", "linker.top1_dict"),
    ("kgpipe.operators.canon", "build_canon_map_local", "canon.build_canon_map_local"),
    ("kgpipe.operators.relations", "extract_triples_fused",
     "relations.extract_triples_fused"),
    ("kgpipe.operators.relations", "turn_digests", "relations.turn_digests"),
    ("kgpipe.operators.relations", "triples_from_digests",
     "relations.triples_from_digests"),
]


def patch_calls(tracer: Tracer) -> None:
    import importlib

    for mod, attr, name in TRACED_CALLS:
        tracer.patch(importlib.import_module(mod), attr, name)


def _noop_count(df) -> int:
    """Force ``df`` with a noop-format write; returns its row count."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation("kgbench")
    (df.observe(obs, F.count(F.lit(1)).alias("rows"))
     .write.format("noop").mode("overwrite").save())
    return int(obs.get["rows"])


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet files under ``path``."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return total, files


def canon_blocks(candidate_dict: pd.DataFrame) -> list[int]:
    """Sizes of the (ent_class, first-token) blocks the driver-side canon
    compares all-pairs within: one member per entity, keyed by the first
    token of the entity's best (max prior, then max alias) surface."""
    ordered = candidate_dict.sort_values(["prior", "alias"], kind="mergesort")
    best = ordered.groupby("entity_id", sort=False)["alias"].last()
    # the class is the entity's FIRST row's, as in build_canon_map_local
    cls = candidate_dict.groupby("entity_id", sort=False)["ent_class"].first()
    keys = pd.DataFrame({"cls": cls, "block": best.str.split(" ").str[0]})
    return keys.groupby(["cls", "block"]).size().tolist()


def driver_probes(candidate_dict: pd.DataFrame) -> dict[str, float]:
    """In-process timings of the driver-side builds run_pipeline makes."""
    from kgpipe.operators.canon import build_canon_map_local
    from kgpipe.operators.labeler import build_gazetteer
    from kgpipe.operators.linker import top1_dict

    m: dict[str, float] = {}
    _, m["labeler.gazetteer_s"] = _timed(lambda: build_gazetteer(candidate_dict))
    _, m["linker.top1_s"] = _timed(lambda: top1_dict(candidate_dict))
    canon, m["canon.local_s"] = _timed(
        lambda: build_canon_map_local(candidate_dict))
    m["canon.merged"] = len(canon)
    sizes = canon_blocks(candidate_dict)
    m["canon.pairs"] = sum(b * (b - 1) // 2 for b in sizes)
    m["canon.max_block"] = max(sizes)
    return m


def pandas_probes(transcripts_dir: str,
                  candidate_dict: pd.DataFrame) -> dict[str, float]:
    """tokenize_batch and label_texts over the corpus in the session's
    Arrow batch size, in this process."""
    import pyarrow.parquet as pq

    from kgpipe.functions.tokenize import tokenize_batch
    from kgpipe.operators.labeler import (
        build_gazetteer,
        build_transitions,
        label_texts,
    )

    texts = pq.read_table(transcripts_dir, columns=["text"]).column(
        "text").to_pandas()
    gaz, trans = build_gazetteer(candidate_dict), build_transitions()
    tok_s = label_s = 0.0
    tokens = spans = rows_with = 0
    for lo in range(0, len(texts), PANDAS_BATCH):
        batch = texts.iloc[lo:lo + PANDAS_BATCH]
        (toks, *_), dt = _timed(lambda: tokenize_batch(batch))
        tok_s += dt
        tokens += len(toks)
        labels, dt = _timed(lambda: label_texts(batch, gaz, trans))
        label_s += dt
        n = labels.map(len)
        spans += int(n.sum())
        rows_with += int((n > 0).sum())
    return {"tokenize.s": tok_s, "tokenize.tokens": tokens,
            "labeler.label_s": label_s,
            "labeler.label_self_s": label_s - tok_s,
            "labeler.spans": spans,
            "labeler.rows_with_spans_frac": rows_with / max(1, len(texts))}


def spark_probes(spark, transcripts_dir: str, candidate_dict: pd.DataFrame,
                 triples_dir: str, scratch: str) -> dict[str, float]:
    """Each layer's Spark work alone, forced by a noop write (or, for the
    storage layer, a real write of a pre-materialized table)."""
    from kgpipe.operators.canon import build_canon_map_local
    from kgpipe.operators.labeler import label_transcripts
    from kgpipe.operators.linker import dict_to_df, link_entities, top1_dict
    from kgpipe.operators.mentions import extract_mentions
    from kgpipe.operators.relations import triples_from_digests, turn_digests
    from kgpipe.pipeline import read_transcripts
    from kgpipe.sources.storage import read_triples, write_triples
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    m: dict[str, float] = {}
    scan = lambda: read_transcripts(spark, transcripts_dir)  # noqa: E731
    rows, m["sources.scan_s"] = _timed(
        lambda: _noop_count(scan().select("conv_id", "turn_idx", "text")))
    m["sources.rows"] = rows
    m["sources.bytes_in"] = dir_bytes(transcripts_dir)[0]
    _, m["labeler.udf_s"] = _timed(
        lambda: _noop_count(label_transcripts(spark, scan(), candidate_dict)))

    # linked mentions over spans, in one job: the observation counts the
    # mentions entering the broadcast join
    obs = Observation("kgbench-mentions")
    mentions = extract_mentions(
        label_transcripts(spark, scan(), candidate_dict)).observe(
            obs, F.count(F.lit(1)).alias("rows"))
    linked = _noop_count(link_entities(
        mentions, dict_to_df(spark, top1_dict(candidate_dict)),
        k=1, ranked=False))
    m["linker.linked_frac"] = linked / max(1, int(obs.get["rows"]))

    canon_pdf = build_canon_map_local(candidate_dict)
    canon = dict(zip(canon_pdf["entity_id"], canon_pdf["canonical_id"]))
    digests = lambda: turn_digests(  # noqa: E731
        spark, scan(), candidate_dict, canon=canon, inline_labeler="gaz")
    n_dig, m["relations.digests_s"] = _timed(lambda: _noop_count(digests()))
    m["relations.digest_frac"] = n_dig / max(1, rows)
    dig_dir = os.path.join(scratch, "digests")
    digests().write.parquet(dig_dir)
    n_tri, m["relations.window_s"] = _timed(lambda: _noop_count(
        triples_from_digests(spark.read.parquet(dig_dir), window=WINDOW,
                             dedup=True)))
    m["relations.triples_out"] = n_tri

    mat_dir = os.path.join(scratch, "triples")
    read_triples(spark, triples_dir).write.parquet(mat_dir)
    out_dir = os.path.join(scratch, "write")
    _, m["storage.write_s"] = _timed(
        lambda: write_triples(spark.read.parquet(mat_dir), out_dir))
    m["storage.bytes_out"], m["storage.files_out"] = dir_bytes(
        os.path.join(out_dir, "data"))
    return m


def stream_metrics(progress: list[dict]) -> dict[str, float]:
    """Per-batch medians of the query's progress reports, and the state
    size in the last one."""
    def med(key: str) -> float:
        vals = [p["durationMs"].get(key, 0) / 1000.0 for p in progress]
        return statistics.median(vals) if vals else 0.0

    last = progress[-1] if progress else {}
    ops = last.get("stateOperators") or [{}]
    return {"stream.batches": len(progress),
            "stream.batch_s": med("triggerExecution"),
            "stream.add_batch_s": med("addBatch"),
            "stream.commit_s": med("walCommit"),
            "stream.state_rows": sum(o.get("numRowsTotal", 0) for o in ops),
            "stream.state_bytes": sum(o.get("memoryUsedBytes", 0) for o in ops)}
