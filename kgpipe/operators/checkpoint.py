"""A14 checkpoint/resume + A15 stage metrics (SURVEY.md §2A, north_rule:
"resumable from checkpoint with per-partition lineage + metrics").

Design
------
Each pipeline stage is checkpointed at **bucket granularity**: rows are
bucketed by ``pmod(xxhash64(conv_id), n_buckets)`` — the same conv_id keying
the pipeline already shuffles on — and a stage's output is written as a
parquet table partitioned by ``_ckpt_bucket``. A JSONL **lineage manifest**
(one row per completed bucket: stage, bucket, rows_out, input fingerprint)
is appended *after* the bucket data is durably written, so the commit
protocol is:

    write bucket dirs (dynamic partition overwrite) -> fsync manifest rows

A crash between the two leaves data without a manifest row; resume treats
that bucket as incomplete, recomputes it, and the dynamic-partition
overwrite replaces the half-written directory. This gives exactly-once
output per bucket without any coordination service — the manifest is the
source of truth, the data dirs are disposable.

Resume = anti-join of the input's bucket set against the manifest's
completed set (driver-side: both are <= n_buckets integers, no Spark job),
then ``input.filter(~bucket.isin(done))`` — Catalyst turns that into a
pushed-down predicate over the bucketed scan. Global stages (connected
components) use n_buckets=1: stage-level resume.

Fingerprinting: a stage's manifest rows carry a fingerprint of (input files
name+size, stage params). If the fingerprint changes, all buckets are
invalidated — stale results can never leak across input versions.

Metrics (A15): per-stage wall, rows out, bucket-level row histogram
(skew evidence: max/median bucket ratio) — written to ``metrics.json`` in
the run dir and returned to the caller. Row counts come from parquet
footers (pyarrow, driver-side) — zero extra Spark jobs.

At 100 TB scale the same layout holds: n_buckets scales with input volume
(buckets ≈ a few executor-tasks' worth of data each), the manifest stays
tiny (one row per bucket, not per row), and the dynamic-partition-overwrite
commit is what Iceberg's ``overwritePartitions`` gives natively on the
production path (sources/storage.py).
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BUCKET_COL = "_ckpt_bucket"


def input_fingerprint(paths: list[str], params: dict | None = None) -> str:
    """Stable fingerprint of input files (name + size + mtime_ns) and stage
    params. mtime_ns matters: an in-place edit that happens to preserve
    file size must still invalidate downstream checkpoints ("stale results
    can never leak")."""

    def entry(fp: str, rel: str) -> tuple:
        st = os.stat(fp)
        return (rel, st.st_size, st.st_mtime_ns)

    entries = []
    for p in sorted(paths):
        if os.path.isdir(p):
            for root, _, files in os.walk(p):
                for fn in sorted(files):
                    if fn.startswith(("_", ".")):
                        continue
                    fp = os.path.join(root, fn)
                    entries.append(entry(fp, os.path.relpath(fp, p)))
        elif os.path.exists(p):
            entries.append(entry(p, os.path.basename(p)))
    key = json.dumps({"files": entries, "params": params or {}}, sort_keys=True)
    return hashlib.sha256(key.encode()).hexdigest()[:16]


def _bucket_expr(key_col: str, n_buckets: int):
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")


def _parquet_rows(directory: str) -> int:
    import pyarrow.parquet as pq

    total = 0
    for root, _, files in os.walk(directory):
        for fn in files:
            if fn.endswith(".parquet"):
                total += pq.ParquetFile(os.path.join(root, fn)).metadata.num_rows
    return total


@dataclass
class StageResult:
    df: DataFrame
    computed_buckets: list[int]
    skipped_buckets: list[int]
    rows_out: int
    wall_ms: int


class CheckpointedRun:
    """One pipeline run rooted at ``run_dir``; call :meth:`stage` per stage."""

    def __init__(self, spark: SparkSession, run_dir: str):
        self.spark = spark
        self.run_dir = run_dir
        os.makedirs(run_dir, exist_ok=True)
        self.metrics: dict[str, dict] = {}

    # -- manifest ---------------------------------------------------------
    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self.run_dir, stage, "manifest.jsonl")

    def _read_manifest(self, stage: str, fingerprint: str,
                       invalidate_stale: bool = True) -> dict[int, dict]:
        """Completed buckets for ``fingerprint``. If the manifest carries a
        DIFFERENT fingerprint the input changed: wipe the whole stage dir
        (data + manifest) so stale buckets from the old input can never
        leak into a read of the new run's output. Read-only probes
        (:meth:`load_committed`) pass ``invalidate_stale=False`` — they
        hold no lock on the run_dir, so deleting under a concurrent
        writer is not theirs to do."""
        path = self._manifest_path(stage)
        done: dict[int, dict] = {}
        if not os.path.exists(path):
            return done
        stale = False
        with open(path) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                row = json.loads(line)
                if row.get("fingerprint") != fingerprint:
                    stale = True
                    break
                if row.get("status") == "done":
                    done[int(row["bucket"])] = row
        if stale:
            if invalidate_stale:
                import shutil

                shutil.rmtree(os.path.join(self.run_dir, stage),
                              ignore_errors=True)
            return {}
        return done

    def _append_manifest(self, stage: str, rows: list[dict]) -> None:
        path = self._manifest_path(stage)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "a") as f:
            for row in rows:
                f.write(json.dumps(row) + "\n")
            f.flush()
            os.fsync(f.fileno())

    # -- stage ------------------------------------------------------------
    def stage(
        self,
        name: str,
        input_df: DataFrame,
        fn: Callable[[DataFrame], DataFrame],
        key_col: str = "conv_id",
        n_buckets: int = 32,
        fingerprint: str = "",
    ) -> StageResult:
        """Run ``fn`` over the buckets of ``input_df`` not yet in the
        manifest; return the union of recomputed + checkpointed output.

        ``fn`` must be bucket-local w.r.t. ``key_col`` (every output row's
        ``key_col`` hashes to the bucket of the input rows that produced
        it) — true for all conv_id-keyed stages. Use ``n_buckets=1`` for
        global stages.
        """
        t0 = time.time()
        data_dir = os.path.join(self.run_dir, name, "data")
        done = self._read_manifest(name, fingerprint)
        all_buckets = list(range(n_buckets))
        todo = [b for b in all_buckets if b not in done]
        computed_rows = 0

        if todo:
            if n_buckets == 1:
                # global stage (self-joins, CC): the output schema need not
                # share any column with the input, so the bucket column is a
                # literal 0 — and the write keeps the stage's natural
                # parallelism (a repartition(1) here would funnel the whole
                # stage through one task; many files in the single bucket
                # dir are fine, footers are summed).
                out = fn(input_df)
                if BUCKET_COL not in out.columns:
                    out = out.withColumn(BUCKET_COL, F.lit(0).cast("int"))
                writer = out
            else:
                bucketed = input_df.withColumn(
                    BUCKET_COL, _bucket_expr(key_col, n_buckets))
                if done:
                    bucketed = bucketed.filter(~F.col(BUCKET_COL).isin(*done))
                out = fn(bucketed)
                if BUCKET_COL not in out.columns:
                    out = out.withColumn(
                        BUCKET_COL, _bucket_expr(key_col, n_buckets))
                # align tasks with output partitions: without this every
                # task writes a sliver into every bucket dir (n_tasks ×
                # n_buckets tiny files); with it each bucket is one file
                # written by one task — same property Iceberg gets from a
                # bucket-transform write distribution.
                writer = out.repartition(len(todo), F.col(BUCKET_COL))
            (writer.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(BUCKET_COL)
                .parquet(data_dir))
            # per-bucket lineage rows from parquet footers (driver-side); the
            # buckets share one Spark job, so only the stage wall is measured
            bucket_rows_map = {}
            for b in todo:
                bdir = os.path.join(data_dir, f"{BUCKET_COL}={b}")
                rows = _parquet_rows(bdir) if os.path.isdir(bdir) else 0
                bucket_rows_map[b] = rows
                computed_rows += rows
            manifest_rows = [{
                "stage": name, "bucket": b, "rows_out": r,
                "fingerprint": fingerprint, "status": "done",
            } for b, r in bucket_rows_map.items()]
            # persist the output schema BEFORE the manifest commit: if every
            # bucket yields zero rows there is no parquet file to infer
            # from on resume, and writing it after the fsynced manifest
            # would leave a crash window where buckets are 'done' but the
            # schema needed to read the (empty) stage never lands
            with open(os.path.join(self.run_dir, name, "_schema.json"),
                      "w") as f:
                f.write(out.drop(BUCKET_COL).schema.json())
            self._append_manifest(name, manifest_rows)
            done.update({r["bucket"]: r for r in manifest_rows})

        wall_ms = int((time.time() - t0) * 1000)
        result = self._read_stage_output(name, data_dir, done)
        bucket_rows = sorted((r["rows_out"] for r in done.values()), reverse=True)
        nonzero = [r for r in bucket_rows if r > 0] or [0]
        self.metrics[name] = {
            "wall_ms": wall_ms,
            "rows_out": sum(bucket_rows),
            "rows_computed": computed_rows,
            "buckets_computed": len(todo),
            "buckets_skipped": n_buckets - len(todo),
            "skew_max_over_median": round(
                nonzero[0] / max(1, nonzero[len(nonzero) // 2]), 2),
        }
        return StageResult(
            df=result,
            computed_buckets=todo,
            skipped_buckets=[b for b in all_buckets if b not in todo],
            rows_out=sum(bucket_rows),
            wall_ms=wall_ms,
        )

    def load_committed(self, name: str, fingerprint: str,
                       n_buckets: int = 32) -> DataFrame | None:
        """The read-only twin of :meth:`stage`: return the stage's
        committed output WITHOUT computing anything, or None unless EVERY
        bucket is 'done' under ``fingerprint`` and validates against the
        files on disk. For consumers that can reuse a committed stage
        table when one exists but have their own compute path otherwise
        (e.g. the near-dup query family reading dedup_pipeline's durable
        members table in a fresh session).

        Genuinely read-only: a stale fingerprint returns None WITHOUT the
        stage-wipe the compute path performs (this probe holds no lock on
        the run_dir), and every absorb-and-fall-back failure mode a shared
        /tmp dir can produce — torn manifest line (JSONDecodeError),
        truncated/corrupt parquet (pyarrow's ValueError subclasses),
        vanished files (OSError), count mismatch (RuntimeError) — returns
        None rather than crashing a caller that has its own compute path."""
        try:
            done = self._read_manifest(name, fingerprint,
                                       invalidate_stale=False)
            if set(done) != set(range(n_buckets)):
                return None
            return self._read_stage_output(
                name, os.path.join(self.run_dir, name, "data"), done)
        except (RuntimeError, OSError, ValueError):
            return None

    def _read_stage_output(self, name: str, data_dir: str,
                           done: dict[int, dict]) -> DataFrame:
        """Read a stage's parquet output after validating EVERY manifest
        bucket against the files on disk: for each 'done' bucket with
        rows_out > 0, the bucket directory's parquet footers must sum to
        exactly the recorded count. A missing or truncated bucket dir
        (deleted out-of-band) therefore fails loudly instead of silently
        returning a subset — the manifest is the source of truth, and a
        stage-level 'some files exist' glob cannot vouch for per-bucket
        completeness. Footer reads are driver-side metadata only (no Spark
        job, ~ms per bucket).

        An all-empty stage (zero rows in every bucket -> no parquet files
        on disk) returns an empty DataFrame built from the recorded output
        schema instead of failing with 'unable to infer schema'."""
        from pyspark.sql import types as _T

        any_files = False
        for b, row in sorted(done.items()):
            expect = int(row.get("rows_out", 0))
            bdir = os.path.join(data_dir, f"{BUCKET_COL}={b}")
            actual = _parquet_rows(bdir) if os.path.isdir(bdir) else 0
            if actual > 0:
                any_files = True
            if actual != expect:
                raise RuntimeError(
                    f"stage {name!r} bucket {b}: manifest records {expect} "
                    f"rows but {bdir} holds {actual} — checkpoint data was "
                    f"deleted or modified out-of-band; remove the run_dir "
                    f"stage to force recomputation")
        if any_files:
            return self.spark.read.parquet(data_dir).drop(BUCKET_COL)
        schema_path = os.path.join(self.run_dir, name, "_schema.json")
        if not os.path.exists(schema_path):
            raise RuntimeError(
                f"stage {name!r}: all buckets are empty and no _schema.json "
                f"was recorded (run_dir written by a pre-schema version?) — "
                f"remove {os.path.join(self.run_dir, name)} to force "
                f"recomputation")
        with open(schema_path) as f:
            schema = _T.StructType.fromJson(json.loads(f.read()))
        return self.spark.createDataFrame([], schema)

    def write_metrics(self) -> str:
        path = os.path.join(self.run_dir, "metrics.json")
        with open(path, "w") as f:
            json.dump(self.metrics, f, indent=2, sort_keys=True)
        return path
