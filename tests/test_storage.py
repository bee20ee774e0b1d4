"""A13/B2 storage gates: the parquet path's Iceberg-style snapshot
emulation — manifest-planned scans, metadata partition pruning, time
travel, snapshot expiry, and the crash-safe pointer-swap commit
(SURVEY.md §4.4)."""

from __future__ import annotations

import json
import os

import pytest

from kgpipe.sources.storage import (
    expire_snapshots,
    read_triples,
    snapshot_ids,
    write_triples,
)


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "subj string, pred string, obj string, conv_id string, "
              "turn_idx int, conf float")


@pytest.fixture()
def v1_rows():
    return [(f"e{i}", "works_at", f"o{i % 3}", f"c{i}", i, 1.0)
            for i in range(20)] + \
           [(f"e{i}", "studied_at", f"u{i % 2}", f"c{i}", i, 0.9)
            for i in range(10)]


def _tset(df):
    # partitioned reads append the partition column last — fix the order
    return {tuple(r) for r in df.select(
        "subj", "pred", "obj", "conv_id", "turn_idx", "conf").collect()}


def test_snapshot_write_read_roundtrip(spark, tmp_path, v1_rows):
    path = str(tmp_path / "tbl")
    n = write_triples(_df(spark, v1_rows), path)
    assert n == 30
    assert snapshot_ids(path) == [1]
    got = read_triples(spark, path)
    assert _tset(got) == _tset(_df(spark, v1_rows))
    # manifest agrees with the data: per-file rows sum to the table size,
    # every file carries its partition value and subj min/max stats
    snap = json.load(open(os.path.join(path, "metadata", "snap-000001.json")))
    assert snap["summary"]["total_rows"] == 30
    assert set(snap["summary"]["partitions"]) == {"works_at", "studied_at"}
    assert all(m["partition"]["pred"] in ("works_at", "studied_at")
               and m["rows"] > 0 and m["subj_min"] <= m["subj_max"]
               for m in snap["manifest"])


def test_metadata_partition_pruning(spark, tmp_path, v1_rows):
    """pred= pruning happens at manifest level: the scan's input files are
    exactly the matching partition's files — no directory listing, no
    touch of the other partition."""
    path = str(tmp_path / "tbl")
    write_triples(_df(spark, v1_rows), path)
    pruned = read_triples(spark, path, pred="studied_at")
    assert pruned.count() == 10
    assert {r.pred for r in pruned.collect()} == {"studied_at"}
    assert all("pred=studied_at" in f for f in pruned.inputFiles())
    full = read_triples(spark, path)
    assert len(pruned.inputFiles()) < len(full.inputFiles())


def test_time_travel_and_expiry(spark, tmp_path, v1_rows):
    path = str(tmp_path / "tbl")
    write_triples(_df(spark, v1_rows), path)
    v2 = [("x", "works_at", "y", "c0", 0, 1.0)]
    write_triples(_df(spark, v2), path)

    assert snapshot_ids(path) == [1, 2]
    assert read_triples(spark, path).count() == 1          # current == v2
    assert read_triples(spark, path, snapshot_id=1).count() == 30
    expired = expire_snapshots(path, keep_last=1)
    assert expired == [1]
    assert snapshot_ids(path) == [2]
    assert not os.path.isdir(os.path.join(path, "data", "snap-000001"))
    assert read_triples(spark, path).count() == 1
    with pytest.raises(FileNotFoundError):
        read_triples(spark, path, snapshot_id=1)


def test_uncommitted_snapshot_is_invisible(spark, tmp_path, v1_rows):
    """Crash between data write and pointer swap: a snap dir (and even its
    manifest) without the current-pointer update must leave the previous
    snapshot the visible one — the commit IS the atomic pointer swap."""
    import shutil

    path = str(tmp_path / "tbl")
    write_triples(_df(spark, v1_rows), path)
    # fake a half-committed snapshot 2: data + manifest present, pointer not
    shutil.copytree(os.path.join(path, "data", "snap-000001"),
                    os.path.join(path, "data", "snap-000002"))
    shutil.copy(os.path.join(path, "metadata", "snap-000001.json"),
                os.path.join(path, "metadata", "snap-000002.json"))
    assert read_triples(spark, path).count() == 30
    # the next real commit takes the NEXT id after current (2), replacing
    # the orphaned attempt — mirroring Iceberg's retry-over-orphan behavior
    write_triples(_df(spark, [("x", "works_at", "y", "c0", 0, 1.0)]), path)
    assert read_triples(spark, path).count() == 1


def test_orphan_manifest_invisible_to_listing_and_time_travel(
        spark, tmp_path, v1_rows):
    """Crash BETWEEN manifest write and pointer swap: the orphan manifest
    (id > current) must not appear in snapshot_ids(), must not be readable
    via time travel (the next writer's retry rmtree's its data while a
    reader could be mid-scan), and expire_snapshots must GC it."""
    import shutil

    path = str(tmp_path / "tbl")
    write_triples(_df(spark, v1_rows), path)
    shutil.copytree(os.path.join(path, "data", "snap-000001"),
                    os.path.join(path, "data", "snap-000002"))
    shutil.copy(os.path.join(path, "metadata", "snap-000001.json"),
                os.path.join(path, "metadata", "snap-000002.json"))
    assert snapshot_ids(path) == [1]
    with pytest.raises(ValueError, match="never committed"):
        read_triples(spark, path, snapshot_id=2)
    expire_snapshots(path, keep_last=10)
    assert not os.path.exists(
        os.path.join(path, "metadata", "snap-000002.json"))
    assert not os.path.isdir(os.path.join(path, "data", "snap-000002"))
    # the committed snapshot is untouched
    assert read_triples(spark, path).count() == 30


def test_missing_pointer_never_cascades_into_deletion(spark, tmp_path,
                                                      v1_rows):
    """A table with manifests but NO `current` pointer is ambiguous: a
    crashed first-ever commit and a committed table whose pointer was
    lost out-of-band look identical on disk. expire_snapshots must GC
    NOTHING in that state (a lost pointer must never cascade into data
    loss); the crashed-first-commit case self-heals because the next
    writer's retry reuses and replaces slot pointer+1 = 1."""
    path = str(tmp_path / "tbl")
    write_triples(_df(spark, v1_rows), path)
    os.remove(os.path.join(path, "metadata", "current"))
    assert snapshot_ids(path) == []  # invisible without the pointer...
    expire_snapshots(path, keep_last=10)
    assert os.path.exists(  # ...but NOT deleted
        os.path.join(path, "metadata", "snap-000001.json"))
    assert os.path.isdir(os.path.join(path, "data", "snap-000001"))
    # the retry path: a fresh write reuses slot 1 and the table recovers
    write_triples(_df(spark, v1_rows), path)
    assert snapshot_ids(path) == [1]
    assert read_triples(spark, path).count() == 30


def test_hive_escaped_pred_values_prune_correctly(spark, tmp_path):
    """Predicates with URL-escaped characters (':' -> %3A in the hive dir
    name) must round-trip through the manifest RAW, so metadata pruning
    matches them; null preds land under the hive default-partition
    sentinel and are recorded as None."""
    rows = [("s1", "rdf:type", "o1", "c0", 0, 1.0),
            ("s2", "plain", "o2", "c1", 1, 1.0),
            ("s3", None, "o3", "c2", 2, 1.0)]
    path = str(tmp_path / "tbl")
    write_triples(_df(spark, rows), path)
    snap = json.load(open(os.path.join(path, "metadata", "snap-000001.json")))
    vals = {m["partition"]["pred"] for m in snap["manifest"]}
    assert vals == {"rdf:type", "plain", None}
    pruned = read_triples(spark, path, pred="rdf:type")
    assert [r.subj for r in pruned.collect()] == ["s1"]
    # the on-disk dir really is hive-escaped (that's what the unquote in
    # the manifest builder exists for), and the pruned scan reads only it
    dirs = os.listdir(os.path.join(path, "data", "snap-000001"))
    assert "pred=rdf%3Atype" in dirs
    assert all("rdf" in f for f in pruned.inputFiles())
    assert len(pruned.inputFiles()) < 3


def test_pruned_to_empty_read_keeps_full_schema(spark, tmp_path, v1_rows):
    """A pred that matches no manifest file must return the SAME schema a
    non-empty read carries (recorded in the manifest like Iceberg's table
    metadata) — not a guessed 3-column shape. Regression: selecting conf
    on an empty partition used to throw UNRESOLVED_COLUMN."""
    path = str(tmp_path / "tbl")
    write_triples(_df(spark, v1_rows), path)
    full = read_triples(spark, path, pred="works_at")
    empty = read_triples(spark, path, pred="no_such_pred")
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == \
        [f.name for f in full.schema.fields]
    # and the projection that used to crash
    assert empty.select("conf", "conv_id", "turn_idx").count() == 0


def test_concurrent_writers_both_commit(spark, tmp_path, v1_rows):
    """Two write_triples into the same table (sequentially here — the
    flock'd metadata commit is what serializes true concurrency) must
    produce two distinct surviving snapshots, each readable."""
    path = str(tmp_path / "tbl")
    write_triples(_df(spark, v1_rows), path)
    write_triples(_df(spark, [("x", "works_at", "y", "c0", 0, 1.0)]), path)
    ids = snapshot_ids(path)
    assert ids == [1, 2]
    assert read_triples(spark, path, snapshot_id=1).count() == 30
    assert read_triples(spark, path, snapshot_id=2).count() == 1
    # no staging leftovers after successful commits
    assert not [d for d in os.listdir(os.path.join(path, "data"))
                if d.startswith(".staging-")]


def test_expire_cleans_old_staging_orphans(spark, tmp_path, v1_rows):
    """A writer that crashed before its metadata commit leaves a
    data/.staging-* orphan; expire_snapshots GCs it once old, but never
    touches a recent one (a live concurrent writer's dir)."""
    import time

    path = str(tmp_path / "tbl")
    write_triples(_df(spark, v1_rows), path)
    old = os.path.join(path, "data", ".staging-deadbeef")
    new = os.path.join(path, "data", ".staging-cafebabe")
    os.makedirs(old)
    os.makedirs(new)
    past = time.time() - 100000
    os.utime(old, (past, past))
    expire_snapshots(path, keep_last=1)
    assert not os.path.exists(old)
    assert os.path.exists(new)
    assert read_triples(spark, path).count() == 30


def test_product_write_rides_the_window_stage(spark, tmp_path, monkeypatch,
                                              unit_fixture_dir):
    """The frame ``write_triples`` writes for the product triples keeps the
    plan's one Exchange (the conv_id window) and adds no repartition; the
    in-task ``(pred, subj)`` sort still gives one ``pred`` per file, files
    sorted by ``subj``, and manifest subj bounds equal to the data's."""
    import re

    import pandas as pd
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from kgpipe.pipeline import read_transcripts, run_pipeline

    t = read_transcripts(
        spark, os.path.join(unit_fixture_dir, "transcripts.parquet"))
    cd = pd.read_parquet(
        os.path.join(unit_fixture_dir, "candidate_dict.parquet"))
    triples = run_pipeline(spark, t, cd)["triples"]
    written = []
    write = type(triples).write
    monkeypatch.setattr(type(triples), "write", property(
        lambda df: written.append(df) or write.fget(df)))
    path = str(tmp_path / "kg")
    n = write_triples(triples, path)
    (frame,) = written
    qe = frame._jdf.queryExecution()
    assert "RepartitionByExpression" not in qe.optimizedPlan().toString()
    p = qe.executedPlan().toString()
    assert len(re.findall(r"\bExchange ", p)) == 1, p[:1500]
    assert "hashpartitioning(conv_id" in p, p[:1500]

    snap = json.load(open(os.path.join(path, "metadata", "snap-000001.json")))
    assert n > 0 and sum(m["rows"] for m in snap["manifest"]) == n
    preds_per_file = {
        r.f: r.k for r in read_triples(spark, path)
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.countDistinct("pred").alias("k")).collect()}
    assert len(preds_per_file) == len(snap["manifest"])
    assert set(preds_per_file.values()) == {1}
    for m in snap["manifest"]:
        subj = pq.read_table(os.path.join(path, m["path"]),
                             columns=["subj"])["subj"].to_pylist()
        assert subj == sorted(subj), m["path"]
        assert (m["subj_min"], m["subj_max"]) == (subj[0], subj[-1])
