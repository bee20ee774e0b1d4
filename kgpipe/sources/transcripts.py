"""Transcript ingestion beyond parquet (SURVEY.md A1): JSONL and CSV
conversation dumps — the formats chat logs actually arrive in — read
schema-enforced into the same TRANSCRIPTS shape the pipeline consumes.

Scale notes:

* The schema is PASSED, never inferred: inference costs a full extra
  pass over the input (Spark samples JSON/CSV to guess types), and a
  guessed schema can silently flip a column type between daily drops.
* JSONL is line-delimited (the default ``multiLine=False``), so the scan
  splits by line across executors like any text source — a 100-TB dump
  parallelizes without coordination. CSV with quoted multi-line text
  needs ``multiLine=True``, which makes each FILE one split — so
  ``read_transcripts_csv`` warns when a dump has fewer files than cores
  (shard CSV dumps into many files, or prefer JSONL).
* ``FAILFAST`` by default: a malformed record in a trusted drop is a
  pipeline bug to surface, not a row to silently null out. Callers
  ingesting scraped data can pass ``mode='PERMISSIVE'`` and filter.
* Parquet remains the fast path (column pruning + predicate pushdown);
  text formats always read whole rows. Ingest once, then materialize to
  parquet/the snapshot store for repeated querying.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import DataFrame, SparkSession

from kgpipe.schemas import TRANSCRIPTS


def text_reader(reader, fmt: str, mode: str = "FAILFAST"):
    """``reader`` (``spark.read`` or ``spark.readStream``) with the
    schema, parse mode and timestamp contract of the ``fmt`` ('jsonl' or
    'csv') transcript dump, so batch and stream parse them alike."""
    reader = (reader.schema(TRANSCRIPTS).option("mode", mode)
              .option("timestampFormat",
                      "yyyy-MM-dd'T'HH:mm:ss[.SSSSSS][XXX]"))
    if fmt == "csv":
        reader = (reader.option("header", True).option("multiLine", True)
                  .option("escape", '"'))
    return reader


def read_transcripts_jsonl(spark: SparkSession, path: str,
                           mode: str = "FAILFAST") -> DataFrame:
    """Line-delimited JSON transcripts -> TRANSCRIPTS-shaped DataFrame.

    Timestamps must be ISO-8601 (Spark's default JSON timestamp parse);
    missing optional fields (role/tool/ts) surface as nulls."""
    return text_reader(spark.read, "jsonl", mode).json(path)


def read_transcripts_csv(spark: SparkSession, path: str,
                         mode: str = "FAILFAST") -> DataFrame:
    """CSV transcripts (header row, RFC-4180 quoting) -> TRANSCRIPTS shape.

    ``multiLine=True`` so quoted turn text may contain newlines — at the
    cost of one split per file, so fewer files than cores warn (the read
    is not repartitioned: that would tax every consumer)."""
    df = text_reader(spark.read, "csv", mode).csv(path)
    n_files = len(df.inputFiles())
    cores = spark.sparkContext.defaultParallelism
    if n_files < cores:
        warnings.warn(
            f"{path}: {n_files} CSV file(s) for {cores} cores — a CSV read "
            "is one split per file (multiLine=True), so the scan runs on "
            f"{n_files} core(s); shard the dump into at least {cores} "
            "files, or use JSONL", UserWarning, stacklevel=2)
    return df


def read_transcripts_any(spark: SparkSession, path: str,
                         fmt: str | None = None,
                         mode: str = "FAILFAST") -> DataFrame:
    """Dispatch on ``fmt`` or the path extension: parquet (default),
    jsonl, csv. Directories of like-typed files work as usual.

    A bare ``.json`` extension is NOT auto-detected: a conventional JSON
    export (one top-level array, often pretty-printed) is not
    line-delimited, and reading it under JSONL semantics either FAILFASTs
    with a cryptic malformed-record error or parses rows the caller never
    asked for. Callers with genuine line-delimited ``.json`` files pass
    ``fmt='jsonl'`` explicitly."""
    if fmt is None:
        ext = os.path.splitext(path.rstrip("/"))[1].lower().lstrip(".")
        if ext == "json":
            raise ValueError(
                f"{path}: .json is ambiguous (array export vs "
                "line-delimited) — pass fmt='jsonl' for NDJSON, or "
                "convert array exports to .jsonl")
        fmt = {"jsonl": "jsonl", "csv": "csv"}.get(ext, "parquet")
    if fmt in ("jsonl", "json"):
        return read_transcripts_jsonl(spark, path, mode=mode)
    if fmt == "csv":
        return read_transcripts_csv(spark, path, mode=mode)
    if fmt == "parquet":
        return spark.read.schema(TRANSCRIPTS).parquet(path)
    raise ValueError(f"unknown transcripts format {fmt!r}; "
                     "expected parquet/jsonl/csv")
