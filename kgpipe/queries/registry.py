from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
# oracle SQL, or a deferred oracle: a callable resolved by oracles()
ORACLES: dict[str, str | Callable[..., str | None]] = {}


def register(name: str,
             oracle: str | Callable[..., str | None] | None = None):
    """Decorator: register a (spark_fn, oracle_sql) pair. ``oracle`` may be
    a callable, resolved (called with no argument) by ``oracles()``."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def oracles() -> dict[str, str]:
    """name -> oracle SQL in registration order, deferred oracles resolved
    (one that resolves to None is a rows-only registration)."""
    sqls = ((n, o() if callable(o) else o) for n, o in ORACLES.items())
    return {n: sql for n, sql in sqls if sql is not None}
