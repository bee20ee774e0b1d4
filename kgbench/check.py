"""Output checks: precision/recall against the reference set, and the
(count, xor-hash) digest that must repeat across runs of one seed."""

from __future__ import annotations

import json
import os

import pandas as pd
import pyarrow.parquet as pq

from inputs import KEY


def key_set(df: pd.DataFrame) -> set[tuple]:
    return set(df[KEY].itertuples(index=False, name=None))


def precision_recall(got: set[tuple], ref: set[tuple]) -> tuple[float, float]:
    """Set precision and recall of ``got`` against ``ref`` (an empty side
    scores 0, so an empty output never passes)."""
    hit = len(got & ref)
    return (hit / len(got) if got else 0.0, hit / len(ref) if ref else 0.0)


def batch_keys(table_dir: str) -> pd.DataFrame:
    """Key columns of the current snapshot of a ``write_triples`` table,
    read without Spark: the file list and each file's ``pred`` partition
    value come from the snapshot manifest."""
    meta = os.path.join(table_dir, "metadata")
    with open(os.path.join(meta, "current")) as f:
        sid = int(f.read().strip())
    with open(os.path.join(meta, f"snap-{sid:06d}.json")) as f:
        snap = json.load(f)
    cols = [c for c in KEY if c != "pred"]
    frames = []
    for m in snap["manifest"]:
        t = pq.read_table(os.path.join(table_dir, m["path"]), columns=cols)
        df = t.to_pandas()
        df["pred"] = m["partition"]["pred"]
        frames.append(df)
    if not frames:
        return pd.DataFrame(columns=KEY)
    return pd.concat(frames, ignore_index=True)[KEY]


def stream_keys(sink_dir: str) -> pd.DataFrame:
    """Key columns of every batch listed in an ``IdempotentTripleSink``
    manifest, read without Spark."""
    with open(os.path.join(sink_dir, "manifest.jsonl")) as f:
        batches = sorted({json.loads(ln)["batch_id"] for ln in f if ln.strip()})
    frames = [pq.read_table(os.path.join(sink_dir, "data", f"batch_id={b}"),
                            columns=KEY).to_pandas() for b in batches]
    if not frames:
        return pd.DataFrame(columns=KEY)
    return pd.concat(frames, ignore_index=True)


def xor_digest(spark_df) -> tuple[int, int]:
    """(row count, bit_xor(xxhash64(subj, pred, obj, conv_id, turn_idx)))
    -- order-independent, computed by Spark."""
    from pyspark.sql import functions as F

    row = spark_df.agg(F.count(F.lit(1)).alias("n"),
                       F.bit_xor(F.xxhash64(*KEY)).alias("h")).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


def same_digest(path: str, digest: tuple[int, int]) -> bool:
    """Compare with the digest recorded for this seed's inputs; the first
    run records it. Returns False on a mismatch."""
    if os.path.exists(path):
        with open(path) as f:
            return tuple(json.load(f)) == tuple(digest)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(list(digest), f)
    os.replace(tmp, path)
    return True
