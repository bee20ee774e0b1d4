"""Predicate phrase table: the pattern surface the relation extractor
matches between/before linked mentions (SURVEY.md §2C step 6).

This is ENGINE CONFIG, not fixture data: ``turn_digests`` (and so every
triple entry point, batch or streaming) accepts any ``{surface phrase ->
predicate id}`` mapping (dict, pandas, DataFrame, or a parquet/CSV path
via ``load_predicates``), broadcast to executors exactly like the
candidate dictionary. ``DEFAULT_PRED_PHRASES`` is the built-in starter table; the
test fixtures import it from here (fixtures depend on engine config, never
the reverse — round 1 had the dependency backwards, which hard-wired the
extractor to the fixture package).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

# predicate surface phrase -> predicate id
DEFAULT_PRED_PHRASES: dict[str, str] = {
    "works at": "works_at",
    "released": "released",
    "met": "met",
    "in": "located_in",
}

def load_predicates(path: str) -> dict[str, str]:
    """Read a (phrase, pred) table from parquet or CSV into the dict form."""
    pdf = (
        pd.read_csv(path) if path.endswith(".csv") else pd.read_parquet(path)
    )
    if not {"phrase", "pred"} <= set(pdf.columns):
        raise ValueError(
            f"predicate table needs columns (phrase, pred); got "
            f"{list(pdf.columns)}")
    return dict(zip(pdf["phrase"], pdf["pred"]))


def predicates_dict(predicates=None) -> dict[str, str]:
    """Normalize any accepted predicate form to the plain dict."""
    if predicates is None:
        return dict(DEFAULT_PRED_PHRASES)
    if isinstance(predicates, dict):
        return dict(predicates)
    if isinstance(predicates, pd.DataFrame):
        return dict(zip(predicates["phrase"], predicates["pred"]))
    if isinstance(predicates, DataFrame):
        pdf = predicates.select("phrase", "pred").toPandas()
        return dict(zip(pdf["phrase"], pdf["pred"]))
    raise TypeError(f"unsupported predicate table type {type(predicates)}")
