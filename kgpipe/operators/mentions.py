"""Mention extraction: explode span arrays into one row per mention
(SURVEY.md A6). Pure built-in functions — explode + sha2 id."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def extract_mentions(labeled: DataFrame) -> DataFrame:
    """labeled transcripts (with ``spans`` col) -> mentions table.

    ``mention_id = sha2(conv_id|turn_idx|start|end)`` — deterministic,
    independent of partitioning / row order (BASELINE.json per-row invariant:
    nothing may derive from task order).
    """
    cols = [
        "conv_id",
        "turn_idx",
        F.sha2(
            F.concat_ws("|", "conv_id", "turn_idx", "sp.start", "sp.end"), 256
        ).alias("mention_id"),
        F.col("sp.start").alias("span_start"),
        F.col("sp.end").alias("span_end"),
        F.expr("substring(text, sp.start + 1, sp.end - sp.start)").alias("surface"),
        F.col("sp.ent_type").alias("ent_type"),
        F.col("sp.score").alias("score"),
        "text",
    ]
    # explode_outer + IS NOT NULL, not plain explode: the optimizer's
    # InferFiltersFromGenerate adds a size(spans)>0 filter before a plain
    # explode, and predicate pushdown then substitutes the span-producing
    # Python UDF call INTO that filter — the labeler executed twice per
    # row (two ArrowEvalPython nodes on one scan). explode_outer infers no
    # such filter, and the null-sp filter references only the Generate's
    # own output, which cannot be pushed below it. Row set is identical:
    # empty/null span arrays yield sp = NULL, which the filter drops just
    # like explode's native skip — with ONE contract difference: a NULL
    # element INSIDE a non-empty spans array is dropped here, where plain
    # explode emitted it as a row. Both labelers never produce null
    # elements, so the row sets are identical today; the behavior is
    # pinned by tests/test_pipeline_e2e.py::
    # test_mentions_drop_null_span_elements so a future spans producer
    # can't change semantics unnoticed.
    return (labeled
            .select("conv_id", "turn_idx", "text",
                    F.explode_outer("spans").alias("sp"))
            .filter(F.col("sp").isNotNull())
            .select(*cols))
