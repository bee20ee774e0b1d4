"""End-to-end KG-construction pipeline (BASELINE.json north_rule).

scan -> one Arrow UDF per turn (CRF-style labeling, entity linking onto
canonical ids, predicate pairing: operators/relations.py turn_digests) ->
conv_id window over the narrow per-turn digests -> triples. The canon map
(blocked similarity join + union-find) is built from the dictionary
before any corpus job and composed into the UDF's link map.

Every stage is a DataFrame-in/DataFrame-out function so stages can be
checkpointed and resumed independently (operators/checkpoint.py).
"""

from __future__ import annotations

import functools
import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgpipe.operators.labeler import label_transcripts
from kgpipe.operators.linker import dict_to_df, link_entities, top1_dict
from kgpipe.operators.mentions import extract_mentions
from kgpipe.predicates import load_predicates, predicates_dict
from kgpipe.schemas import TRANSCRIPTS


def read_transcripts(spark: SparkSession, path: str) -> DataFrame:
    """A1 scan: schema-enforced read; column pruning/pushdown via Catalyst.

    Deliberately NO repartition here: a blanket rebalance-to-all-cores
    shuffles the full text corpus before any work, and A/B runs on the
    gazetteer pipeline at sf0.1 measured it as a pure loss (13-17s
    without vs 23-61s with at local[32] — the extra shuffle plus this
    host's >8-busy-thread contention). The one stage that genuinely
    needs input parallelism — labeling with trained weights, ~13x the
    per-row cost of the gazetteer decoder — rebalances its own input
    (``labeler.spread_for``). At real scale neither path repartitions: a
    10^12-turn table scans as orders of magnitude more splits than
    executors."""
    return spark.read.schema(TRANSCRIPTS).parquet(path)


def locate_transcripts(fixture_dir: str) -> str:
    """First transcripts file present in the fixture dir, by format
    preference: parquet (pruning+pushdown fast path), then the dump
    formats logs arrive in (sources/transcripts.py reads any of them
    schema-enforced). Shared by every fixture-dir entry point so the
    ingestion surface cannot silently differ between them. Raises
    FileNotFoundError naming every probed file when none exists."""
    probed = [os.path.join(fixture_dir, f"transcripts.{ext}")
              for ext in ("parquet", "jsonl", "csv")]
    for p in probed:
        if os.path.exists(p):
            return p
    raise FileNotFoundError(
        f"no transcripts file in {fixture_dir}; probed {', '.join(probed)}")


def fixture_predicates(fixture_dir: str, predicates):
    """``predicates``, else the dir's predicates.parquet if present: the
    one rule both fixture-dir entry points apply."""
    ppath = os.path.join(fixture_dir, "predicates.parquet")
    if predicates is None and os.path.exists(ppath):
        return load_predicates(ppath)
    return predicates


# Both canon builders run canon_blocks and return the same map: up to this
# many dictionary rows once on the driver (no Spark job latency), above it
# per block through applyInPandas (spread over the cores).
LOCAL_CANON_MAX_DICT = 200_000


def canon_map_for(spark: SparkSession,
                  candidate_dict: pd.DataFrame) -> pd.DataFrame:
    """The dictionary's canon map (entity_id, canonical_id; non-roots
    only) as pandas, for composing into the digest link map.

    Collecting the distributed result is safe at any dictionary size the
    digest UDF accepts: that UDF already ships the whole top-1 link map to
    every worker as a driver dict, and the canon map has at most one row
    per entity."""
    from kgpipe.operators.canon import build_canon_map, build_canon_map_local

    if len(candidate_dict) > LOCAL_CANON_MAX_DICT:
        return build_canon_map(dict_to_df(spark, candidate_dict)).toPandas()
    return build_canon_map_local(candidate_dict)


class _LazyOutputs(dict):
    """run_pipeline's result: a value missing from the dict is built by its
    thunk on first read, then stored (plain assignment works as usual)."""

    def __init__(self, thunks: dict):
        super().__init__()
        self._thunks = thunks

    def __missing__(self, key: str):
        self[key] = value = self._thunks[key]()
        return value


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    candidate_dict: pd.DataFrame,
    window: int = 3,
    predicates=None,
    labeler_model=None,
) -> dict[str, DataFrame]:
    """Plan the product ``triples``; the other stages are built on demand.

    The product is one plan at every dictionary size: scan -> one
    ArrowEvalPython (labeling, linking onto canonical ids and predicate
    pairing inside the digest UDF: operators/relations.py turn_digests)
    -> the conv_id window over ~50-byte per-turn rows -> per-turn
    max-conf dedup. The canon map (``canon_map_for``) is composed into the
    UDF's link map, so no join rewrites ids and no exchange dedups; the
    only shuffle carries no text.

    ``labeler_model``: optional ``TrainedLabeler`` (operators/train.py) —
    when given, labeling uses the learned perceptron weights instead of
    the hand-weighted gazetteer decoder; everything downstream is
    identical.

    Return contract: a dict of LAZY DataFrames under the keys
    ``labeled``, ``mentions``, ``linked``, ``raw_triples``, ``canon_map``
    and ``triples``. Only ``triples`` is planned here; each side output is
    planned on its first ``out[key]`` read (then kept, and shared by any
    side output that depends on it), so a caller that reads only
    ``triples`` builds the gazetteer once and plans nothing else. Keys
    appear in the dict once read. ``raw_triples`` is the same digest plan
    without the canon map and dedup — an INDEPENDENT plan from
    ``triples``, so evaluating both runs the corpus scan + inline
    labeling twice.
    """
    from kgpipe.operators.relations import extract_triples_fused

    fused = functools.partial(
        extract_triples_fused, spark, transcripts, candidate_dict,
        window=window, predicates=predicates, model=labeler_model)
    canon_pdf = canon_map_for(spark, candidate_dict)
    # no persist anywhere: every intermediate is referenced at most once
    # per plan. Block-manager persists measurably ANTI-scaled at high core
    # counts (MemoryStore unroll contention: 46s vs 16s to build the same
    # 2.8M-row stage at local[32]).
    out = _LazyOutputs({
        "labeled": lambda: label_transcripts(
            spark, transcripts, candidate_dict, labeler_model),
        "mentions": lambda: extract_mentions(out["labeled"]),
        "linked": lambda: link_entities(
            out["mentions"], dict_to_df(spark, top1_dict(candidate_dict)),
            k=1, ranked=False),
        "canon_map": lambda: spark.createDataFrame(
            canon_pdf, schema="entity_id string, canonical_id string"),
        "raw_triples": fused,
        "triples": lambda: fused(
            canon=dict(zip(canon_pdf["entity_id"],
                           canon_pdf["canonical_id"])), dedup=True),
    })
    out["triples"]  # the product is planned now, side outputs on first read
    return out


def run_pipeline_checkpointed(
    spark: SparkSession,
    fixture_dir: str,
    run_dir: str,
    window: int = 3,
    n_buckets: int = 32,
    predicates=None,
    labeler_model=None,
) -> dict[str, object]:
    """A14 resumable run: conv_id-bucketed stages with per-bucket lineage
    manifests (operators/checkpoint.py). Re-invoking with the same
    ``run_dir`` + unchanged input skips every completed bucket; a run
    interrupted mid-stage resumes from the last durably-committed bucket.

    The durable cut is the product plan's own: stage ``digests`` is scan
    -> one ArrowEvalPython (operators/relations.py turn_digests, labeling
    inlined, canonical ids composed into the link map) -> narrow bucket
    write, so the expensive labeling stays independently resumable at
    bucket granularity while the staged rows are the ~50-byte digests,
    not text. Stage ``triples`` is the conv_id window + per-turn dedup
    (the window partitions by conv_id, so it is bucket-local). Every
    dictionary size takes this path, with the canon map from
    ``canon_map_for``. Output equals ``run_pipeline``'s ``triples``,
    pinned by tests/test_checkpoint.py.

    Stage fingerprints chain (fp_{k+1} = h(fp_k, params)): the pipeline is
    deterministic, so a stage's output is fully determined by its input
    fingerprint — no re-stat of intermediate files needed, and any change
    to the source input invalidates every downstream stage transitively.
    """
    import hashlib

    from kgpipe.operators.checkpoint import CheckpointedRun, input_fingerprint
    from kgpipe.operators.relations import triples_from_digests, turn_digests
    from kgpipe.sources.transcripts import read_transcripts_any

    tpath = locate_transcripts(fixture_dir)
    dpath = os.path.join(fixture_dir, "candidate_dict.parquet")
    transcripts = read_transcripts_any(spark, tpath)
    candidate_dict = pd.read_parquet(dpath)

    pred_map = predicates_dict(fixture_predicates(fixture_dir, predicates))
    # the predicate table is stage config: changing it must invalidate the
    # digests checkpoint (and transitively everything downstream)
    pred_fp = hashlib.sha256(
        repr(sorted(pred_map.items())).encode()).hexdigest()[:8]
    # the labeler's weight set is stage-1 config: a different trained model
    # (weights, transitions or cluster map) or switching gazetteer<->trained
    # must invalidate the digests checkpoint
    model_fp = ("gazetteer" if labeler_model is None
                else labeler_model.fingerprint())
    # digests depend on the dictionary+canon (both derived from dpath),
    # the predicate table (first_pred/intra matching happens inside the
    # digest UDF) and the labeler weights — but NOT on the turn window
    fpd1 = input_fingerprint(
        [tpath, dpath],
        {"stage": "digests", "v": 1, "labeler": model_fp, "p": pred_fp})
    fpd2 = hashlib.sha256(
        f"{fpd1}|triples|w={window}|v=1".encode()).hexdigest()[:16]

    canon_pdf = canon_map_for(spark, candidate_dict)
    canon_d = dict(zip(canon_pdf["entity_id"], canon_pdf["canonical_id"]))

    def _digests(df: DataFrame) -> DataFrame:
        return turn_digests(
            spark, df, candidate_dict, predicates=pred_map, canon=canon_d,
            model=labeler_model)

    run = CheckpointedRun(spark, run_dir)
    s1 = run.stage("digests", transcripts, _digests,
                   n_buckets=n_buckets, fingerprint=fpd1)
    s2 = run.stage(
        "triples", s1.df,
        lambda df: triples_from_digests(df, window=window, dedup=True),
        n_buckets=n_buckets, fingerprint=fpd2)
    canon_map = spark.createDataFrame(
        canon_pdf, schema="entity_id string, canonical_id string")
    run.write_metrics()
    return {"triples": s2.df, "digests": s1.df, "canon_map": canon_map,
            "metrics": run.metrics, "run": run}


def fit_labeler(spark: SparkSession, tpath: str,
                candidate_dict: pd.DataFrame, train_sample: int = 2000):
    """Fit the structured perceptron (driver-side) on a bounded sample of
    the transcripts file ``tpath``, in any supported format."""
    from kgpipe.operators.train import fit_perceptron, sample_texts
    from kgpipe.sources.transcripts import read_transcripts_any

    if tpath.endswith(".parquet"):
        sample = sample_texts(tpath, train_sample)
    else:
        # text formats lack parquet's metadata row count / row-take, so
        # sample via Spark: the n smallest rows by a content hash — a
        # deterministic uniform draw with NO head bias (sample().limit()
        # trims in partition order, i.e. a head). Spark plans orderBy+limit
        # as TakeOrderedAndProject: per-partition top-K heaps, no full sort.
        sample = (read_transcripts_any(spark, tpath)
                  .select("text",
                          F.xxhash64("conv_id", "turn_idx", "text").alias("_h"))
                  .orderBy("_h").limit(train_sample)
                  .toPandas()["text"])
    return fit_perceptron(sample, candidate_dict)


def run_from_dir(spark: SparkSession, fixture_dir: str,
                 window: int = 3, predicates=None,
                 trained: bool = False,
                 train_sample: int = 2000) -> dict[str, DataFrame]:
    """Run the pipeline over a fixture directory (transcripts in any
    format ``locate_transcripts`` finds + candidate_dict.parquet
    [+ gold_triples.parquet, attached as ``gold``] [+ predicates.parquet:
    a (phrase, pred) table overriding the default predicate config]).

    ``trained=True`` fits the structured perceptron on a bounded sample of
    the input (``fit_labeler``) and labels with it instead of the
    hand-weighted gazetteer decoder.
    """
    from kgpipe.sources.transcripts import read_transcripts_any

    tpath = locate_transcripts(fixture_dir)
    candidate_dict = pd.read_parquet(
        os.path.join(fixture_dir, "candidate_dict.parquet"))
    model = (fit_labeler(spark, tpath, candidate_dict, train_sample)
             if trained else None)
    out = run_pipeline(spark, read_transcripts_any(spark, tpath),
                       candidate_dict, window=window,
                       predicates=fixture_predicates(fixture_dir, predicates),
                       labeler_model=model)
    gold_path = os.path.join(fixture_dir, "gold_triples.parquet")
    if os.path.exists(gold_path):
        out["gold"] = spark.read.parquet(gold_path)
    return out
