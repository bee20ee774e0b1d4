"""Local replica of the driver's Spark-vs-DuckDB comparison so mismatches
surface in pytest before the driver runs (SURVEY.md §3.3).

Compare semantics: row count, column names (sorted), and order-insensitive
values — both results are normalized to pandas, columns sorted by name,
rows sorted by all columns, numeric dtypes unified.
"""

from __future__ import annotations

import glob

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def run_oracle(sql: str, sf_dir: str) -> pd.DataFrame:
    con = duckdb.connect()
    for t in TABLES:
        paths = glob.glob(f"{sf_dir}/{t}.parquet")
        if paths:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{paths[0]}')"
            )
    return con.execute(sql).fetchdf()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    out = df.copy()
    for c in out.columns:
        s = out[c]
        if pd.api.types.is_float_dtype(s):
            out[c] = s.astype(np.float64)
        elif pd.api.types.is_integer_dtype(s):
            out[c] = s.astype(np.int64)
        elif pd.api.types.is_datetime64_any_dtype(s):
            try:
                out[c] = pd.to_datetime(s, utc=True).dt.tz_localize(None)
            except (TypeError, ValueError):
                pass
        elif s.dtype == object:
            # duckdb may return Decimal / date objects
            out[c] = s.map(lambda v: float(v) if hasattr(v, "quantize") else v)
    out = out[sorted(out.columns)]
    out = out.sort_values(by=list(out.columns), na_position="first").reset_index(
        drop=True
    )
    return out


def compare(spark: SparkSession, name: str, sf_dir: str) -> dict:
    """Run query + oracle, return a comparison report dict."""
    from kgpipe.queries import QUERIES
    from kgpipe.queries import kg as _kg
    from kgpipe.queries.registry import ORACLES

    sdf = QUERIES[name](spark, sf_dir)
    got = _normalize(sdf.toPandas())
    report: dict = {"name": name, "rows": len(got)}
    # kg_* oracles are deferred: resolve them at the compared scale, so
    # gold and query see the same corpus
    oracle = ORACLES.get(name)
    if callable(oracle):
        oracle = oracle(_kg._scale_for(sf_dir))
    if oracle is None:
        report["check"] = "rows_only"
        report["ok"] = len(got) >= 0
        return report
    want = _normalize(run_oracle(oracle, sf_dir))
    report["check"] = "oracle"
    report["oracle_rows"] = len(want)
    report["cols_match"] = list(got.columns) == list(want.columns)
    report["rows_match"] = len(got) == len(want)
    # The driver hashes VALUES, so int 0 vs float 0.0 is a mismatch even
    # though assert_frame_equal(check_dtype=False) equates them. Replicate
    # that strictness: numeric kind ('i' vs 'f') must agree per column.
    # (Round-1 shipped exactly this bug: a DuckDB HUGEINT sum came back as
    # float64 while Spark emitted bigint — local parity passed, driver hash
    # failed. See join_left_outer_orderless.)
    if report["cols_match"]:
        kinds_got = [got[c].dtype.kind for c in got.columns]
        kinds_want = [want[c].dtype.kind for c in want.columns]
        report["dtype_kinds_match"] = all(
            kg == kw or {kg, kw} <= {"O", "U"}
            for kg, kw in zip(kinds_got, kinds_want)
        )
        if not report["dtype_kinds_match"]:
            report["dtype_detail"] = (
                f"spark kinds={kinds_got} oracle kinds={kinds_want} "
                f"cols={list(got.columns)}"
            )
    else:
        report["dtype_kinds_match"] = False
    if report["cols_match"] and report["rows_match"]:
        try:
            pd.testing.assert_frame_equal(
                got, want, check_dtype=False, check_exact=False, rtol=1e-9,
                atol=1e-9,
            )
            report["values_match"] = True
        except AssertionError as e:
            report["values_match"] = False
            report["detail"] = str(e)[:2000]
    else:
        report["values_match"] = False
        report["detail"] = (
            f"spark cols={list(got.columns)} rows={len(got)} | "
            f"oracle cols={list(want.columns)} rows={len(want)}"
        )
    report["ok"] = bool(
        report["cols_match"]
        and report["rows_match"]
        and report["values_match"]
        and report["dtype_kinds_match"]
    )
    if not report["ok"] and "detail" not in report:
        report["detail"] = report.get("dtype_detail", "dtype kind mismatch")
    return report
