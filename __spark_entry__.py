"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

The engine lives in ``kgpipe/`` — see SURVEY.md §2 for the operator
inventory these names map onto.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: run the full KG-construction
    pipeline on the sf0.001 transcripts fixture and return predicate-level
    rollups of the extracted triples (driver checks rows > 0)."""
    from kgpipe.queries.kg import kg_top_predicates

    return kg_top_predicates(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from kgpipe.queries import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL for every SQL-expressible query. The kg_*
    flagship rows replay the planted-gold fixture parquet (deterministic,
    P/R exactly 1.0 — kgpipe/queries/kg.py docstring), so the pipeline is
    value-hash-pinned end to end by the driver itself. Omitted entries
    (kg_span_eval_per_class: trained-model diagnostic; approx_distinct:
    engine-specific sketch) get the rows-only check and carry pytest
    coverage instead (SURVEY.md §5.2)."""
    from kgpipe.queries import oracles

    return oracles()
