"""Structured Streaming gates (SURVEY.md §5.2 streaming row, B29–B32):
stream == batch for windowed aggs, late data dropped by the watermark,
watermark-bounded dedup, and the stateful incremental-triples operator
matching the batch pipeline when a conversation spans micro-batches."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from kgpipe.fixtures.generator import materialize
from kgpipe.streaming import (
    incremental_triples,
    read_events_stream,
    read_transcripts_stream,
    session_counts_stream,
    stream_dedup,
    tumbling_counts_stream,
)

SF = "/root/testdata/sf0.001"


_SINK_N = [0]


def _run_stream(q_df, tmp, mode="append"):
    _SINK_N[0] += 1
    name = f"sink{_SINK_N[0]}"
    spark = q_df.sparkSession
    q = (q_df.writeStream.format("memory").queryName(name)
         .outputMode(mode)
         .option("checkpointLocation", os.path.join(tmp, "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    return spark.sql(f"select * from {name}")


@pytest.fixture()
def events_dir(spark, tmp_path):
    """events split into 3 files so availableNow still sees multiple
    micro-batches (maxFilesPerTrigger=1)."""
    d = str(tmp_path / "events_in")
    ev = spark.read.parquet(os.path.join(SF, "events.parquet"))
    ev.orderBy("ts").coalesce(1).write.parquet(d + "_sorted")
    pdf = pd.read_parquet(d + "_sorted")
    os.makedirs(d)
    n = len(pdf)
    for i, lo in enumerate(range(0, n, (n + 2) // 3)):
        pdf.iloc[lo:lo + (n + 2) // 3].to_parquet(
            os.path.join(d, f"part{i}.parquet"), index=False,
            coerce_timestamps="us", allow_truncated_timestamps=True)
    return d


def test_tumbling_stream_equals_batch(spark, events_dir, tmp_path):
    from pyspark.sql import functions as F

    got = _run_stream(
        tumbling_counts_stream(read_events_stream(spark, events_dir)),
        str(tmp_path), mode="complete")
    batch = (spark.read.parquet(events_dir)
             .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.round(F.sum("value"), 4).alias("total_value"))
             .select(F.unix_timestamp("w.start").alias("window_start"),
                     "event_type", "n", "total_value"))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))


def test_session_stream_equals_batch(spark, events_dir, tmp_path):
    from pyspark.sql import functions as F

    got = _run_stream(
        session_counts_stream(read_events_stream(spark, events_dir)),
        str(tmp_path), mode="complete")
    batch = (spark.read.parquet(events_dir)
             .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
             .agg(F.count(F.lit(1)).alias("n_events"))
             .select("user_id",
                     F.unix_timestamp("w.start").alias("session_start"),
                     F.unix_timestamp("w.end").alias("session_end"),
                     "n_events"))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))


def test_watermark_drops_late_rows(spark, tmp_path):
    """B31: a row older than (max event time - watermark) arriving in a
    later micro-batch must not re-open its window."""
    d = str(tmp_path / "late_in")
    os.makedirs(d)
    base = pd.Timestamp("2026-01-01 00:00:00")

    def mk(rows, name):
        pd.DataFrame(rows, columns=["event_id", "ts", "user_id",
                                    "event_type", "value", "props"]).to_parquet(
            os.path.join(d, name), index=False, coerce_timestamps="us",
            allow_truncated_timestamps=True)

    import time

    # batch 0: events at t=0m and t=120m -> watermark becomes 110m
    mk([(1, base, 1, "click", 1.0, "{}"),
        (2, base + pd.Timedelta(minutes=120), 1, "click", 1.0, "{}")], "a.parquet")
    time.sleep(1.2)  # file-source ordering is by modification time
    # batch 1: advances event time further; the 00:00 window is evicted here.
    # (the watermark computed from batch N applies to batch N+1's input, so
    # the late row must arrive one batch AFTER the eviction batch)
    mk([(4, base + pd.Timedelta(minutes=125), 1, "click", 1.0, "{}")], "b.parquet")
    time.sleep(1.2)
    # batch 2: late event at t=5m — inside the 00:00 window, behind watermark
    mk([(3, base + pd.Timedelta(minutes=5), 1, "click", 100.0, "{}")], "c.parquet")

    got = _run_stream(
        tumbling_counts_stream(read_events_stream(spark, d),
                               watermark="10 minutes"),
        str(tmp_path), mode="append")
    rows = {r.window_start: (r.n, r.total_value) for r in got.collect()}
    first_window = int(base.timestamp())
    # the 00:00 window closed with only event 1; the late event 3 was dropped
    assert rows.get(first_window) == (1, 1.0)


def test_stream_dedup_within_watermark(spark, tmp_path):
    d = str(tmp_path / "dup_in")
    os.makedirs(d)
    base = pd.Timestamp("2026-01-01 00:00:00")
    rows = [(1, base, 1, "click", 1.0, "{}"),
            (1, base + pd.Timedelta(seconds=30), 1, "click", 1.0, "{}"),
            (2, base + pd.Timedelta(minutes=1), 1, "click", 1.0, "{}")]
    pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "event_type",
                                "value", "props"]).to_parquet(
        os.path.join(d, "a.parquet"), index=False, coerce_timestamps="us",
        allow_truncated_timestamps=True)
    got = _run_stream(stream_dedup(read_events_stream(spark, d)), str(tmp_path))
    assert sorted(r.event_id for r in got.collect()) == [1, 2]


def test_incremental_triples_match_batch_across_microbatches(spark, tmp_path):
    """The flagship stateful op: split the unit fixture's transcripts into
    two micro-batches mid-conversation; keyed state must carry the
    turn-window context so triples equal the batch pipeline's raw triples."""
    from kgpipe.pipeline import read_transcripts, run_from_dir

    fixture = materialize("unit")
    out_batch = run_from_dir(spark, fixture)
    want = {tuple(r) for r in out_batch["raw_triples"]
            .select("subj", "pred", "obj", "conv_id", "turn_idx").collect()}

    t = pd.read_parquet(os.path.join(fixture, "transcripts.parquet"))
    t = t.sort_values(["conv_id", "turn_idx"], kind="mergesort")
    d = str(tmp_path / "stream_in")
    os.makedirs(d)
    # batch 1: even-half of each conversation's turns (prefix), batch 2: rest
    cut = t.groupby("conv_id")["turn_idx"].transform("median")
    t[t["turn_idx"] <= cut].to_parquet(os.path.join(d, "a.parquet"),
                                       index=False, coerce_timestamps="us",
                                       allow_truncated_timestamps=True)
    import time
    time.sleep(1.1)
    t[t["turn_idx"] > cut].to_parquet(os.path.join(d, "b.parquet"),
                                      index=False, coerce_timestamps="us",
                                      allow_truncated_timestamps=True)

    cd = pd.read_parquet(os.path.join(fixture, "candidate_dict.parquet"))
    got_df = _run_stream(
        incremental_triples(spark, read_transcripts_stream(spark, d), cd),
        str(tmp_path), mode="append")
    got = {tuple(r) for r in got_df
           .select("subj", "pred", "obj", "conv_id", "turn_idx").collect()}
    assert got == want


def test_incremental_triples_three_microbatches_equal_batch(spark, tmp_path):
    """Thirds of every conversation arrive in three micro-batches, so the
    keyed lag state carries across two boundaries: the stream must emit
    exactly the batch raw triples, row for row, conf included."""
    import time

    from kgpipe.pipeline import run_from_dir

    fixture = materialize("unit")
    cols = ["subj", "pred", "obj", "conv_id", "turn_idx", "conf"]
    want = sorted(map(tuple, run_from_dir(spark, fixture)["raw_triples"]
                      .select(*cols).collect()))

    t = pd.read_parquet(os.path.join(fixture, "transcripts.parquet"))
    t = t.sort_values(["conv_id", "turn_idx"], kind="mergesort")
    third = (3 * t.groupby("conv_id").cumcount()
             // t.groupby("conv_id")["turn_idx"].transform("count"))
    d = str(tmp_path / "stream_in")
    os.makedirs(d)
    for i in range(3):
        if i:
            time.sleep(1.1)  # file-source ordering is by modification time
        t[third == i].to_parquet(os.path.join(d, f"p{i}.parquet"),
                                 index=False, coerce_timestamps="us",
                                 allow_truncated_timestamps=True)

    cd = pd.read_parquet(os.path.join(fixture, "candidate_dict.parquet"))
    got_df = _run_stream(
        incremental_triples(spark, read_transcripts_stream(spark, d), cd),
        str(tmp_path), mode="append")
    got = sorted(map(tuple, got_df.select(*cols).collect()))
    assert got == want and want


def test_idempotent_sink_crash_mid_batch_no_duplicates(spark, tmp_path):
    """B32 exactly-once sink half: kill the stream in the WORST crash
    window (batch data renamed into place, manifest commit not yet
    written), restart from the same checkpoint, and the committed triple
    table must equal the uninterrupted run's — zero duplicates, zero
    losses."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from kgpipe.streaming import (
        IdempotentTripleSink,
        incremental_triples,
        read_transcripts_stream,
        write_triples_stream,
    )

    fixture = materialize("unit")
    t = pd.read_parquet(os.path.join(fixture, "transcripts.parquet"))
    t = t.sort_values(["conv_id", "turn_idx"], kind="mergesort")
    d = str(tmp_path / "stream_in")
    os.makedirs(d)
    cut = t.groupby("conv_id")["turn_idx"].transform("median")
    t[t["turn_idx"] <= cut].to_parquet(os.path.join(d, "a.parquet"),
                                       index=False, coerce_timestamps="us",
                                       allow_truncated_timestamps=True)
    import time
    time.sleep(1.1)
    t[t["turn_idx"] > cut].to_parquet(os.path.join(d, "b.parquet"),
                                      index=False, coerce_timestamps="us",
                                      allow_truncated_timestamps=True)
    cd = pd.read_parquet(os.path.join(fixture, "candidate_dict.parquet"))

    def run(out_dir, ckpt_dir, sink):
        q = write_triples_stream(
            incremental_triples(
                spark, read_transcripts_stream(spark, d), cd),
            sink, ckpt_dir)
        q.awaitTermination(300)

    # uninterrupted reference run
    ref_sink = IdempotentTripleSink(str(tmp_path / "out_ref"))
    run(str(tmp_path / "out_ref"), str(tmp_path / "ckpt_ref"), ref_sink)
    want = sorted(map(tuple, ref_sink.read(spark).collect()))
    assert want and len(ref_sink.committed_batches()) >= 2

    class CrashBeforeCommit(IdempotentTripleSink):
        def _commit(self, batch_id, rows):
            if batch_id == 1:
                raise RuntimeError("injected crash before manifest commit")
            super()._commit(batch_id, rows)

    out2 = str(tmp_path / "out_crash")
    ckpt2 = str(tmp_path / "ckpt_crash")
    with pytest.raises((StreamingQueryException, Py4JJavaError)):
        run(out2, ckpt2, CrashBeforeCommit(out2))
    crashed = IdempotentTripleSink(out2)
    # batch 1's data dir exists on disk but is NOT visible: uncommitted
    assert 1 not in crashed.committed_batches()
    assert os.path.isdir(os.path.join(out2, "data", "batch_id=1"))
    mid = sorted(map(tuple, crashed.read(spark).collect()))
    assert set(mid) < set(want)

    # restart with a fresh (non-crashing) sink over the same dirs:
    # Structured Streaming replays batch 1; the sink re-replaces the
    # orphan dir and commits exactly once
    run(out2, ckpt2, crashed)
    got = sorted(map(tuple, crashed.read(spark).collect()))
    assert got == want
    # and a THIRD run (everything already committed) changes nothing
    run(out2, ckpt2, IdempotentTripleSink(out2))
    assert sorted(map(tuple,
                      IdempotentTripleSink(out2).read(spark).collect())) == want


def test_incremental_triples_over_jsonl_stream(spark, tmp_path):
    """The stream tails JSONL dumps (the format logs land in) with the
    same schema-enforced contract as the batch reader: two mid-
    conversation micro-batches of line-delimited JSON must yield exactly
    the batch pipeline's raw triples."""
    from kgpipe.pipeline import run_from_dir
    from kgpipe.streaming import incremental_triples, read_transcripts_stream

    fixture = materialize("unit")
    out_batch = run_from_dir(spark, fixture)
    want = {tuple(r) for r in out_batch["raw_triples"]
            .select("subj", "pred", "obj", "conv_id", "turn_idx").collect()}

    t = pd.read_parquet(os.path.join(fixture, "transcripts.parquet"))
    t = t.sort_values(["conv_id", "turn_idx"], kind="mergesort")
    d = str(tmp_path / "stream_in")
    os.makedirs(d)
    cut = t.groupby("conv_id")["turn_idx"].transform("median")
    t[t["turn_idx"] <= cut].to_json(os.path.join(d, "a.jsonl"),
                                    orient="records", lines=True,
                                    date_format="iso")
    import time
    time.sleep(1.1)
    t[t["turn_idx"] > cut].to_json(os.path.join(d, "b.jsonl"),
                                   orient="records", lines=True,
                                   date_format="iso")

    cd = pd.read_parquet(os.path.join(fixture, "candidate_dict.parquet"))
    got_df = _run_stream(
        incremental_triples(
            spark, read_transcripts_stream(spark, d, fmt="jsonl"), cd),
        str(tmp_path), mode="append")
    got = {tuple(r) for r in got_df
           .select("subj", "pred", "obj", "conv_id", "turn_idx").collect()}
    assert got == want


def test_csv_stream_reads_csv_like_the_batch_reader(spark, tmp_path):
    """fmt='csv' tails CSV dumps with the batch CSV reader's contract
    (header, quoting, multi-line text, ts format): two CSV files stream
    in as exactly the rows the batch reader reads from them."""
    import warnings

    from kgpipe.sources.transcripts import read_transcripts_csv

    t = pd.read_parquet(os.path.join(materialize("unit"),
                                     "transcripts.parquet"))
    t.loc[t.index[0], "text"] = 'a "quoted",\nmulti-line turn'
    d = str(tmp_path / "csv_in")
    os.makedirs(d)
    half = len(t) // 2
    for name, part in (("a.csv", t.iloc[:half]), ("b.csv", t.iloc[half:])):
        part.to_csv(os.path.join(d, name), index=False,
                    date_format="%Y-%m-%dT%H:%M:%S.%f")
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", UserWarning)  # 2 files < cores
        want = sorted(map(tuple, read_transcripts_csv(spark, d).collect()))
    got = _run_stream(read_transcripts_stream(spark, d, fmt="csv"),
                      str(tmp_path))
    assert len(want) == len(t)
    assert sorted(map(tuple, got.collect())) == want


def test_unknown_stream_format_is_named(spark):
    with pytest.raises(ValueError, match="'orc2'"):
        read_transcripts_stream(spark, "/nonexistent", fmt="orc2")
