"""A1 ingestion beyond parquet: JSONL/CSV transcript dumps must read into
the exact TRANSCRIPTS shape and drive the pipeline to the same planted-gold
P/R as the parquet fixture."""

from __future__ import annotations

import os
import shutil

import pandas as pd
import pytest

from kgpipe.sources.transcripts import (
    read_transcripts_any,
    read_transcripts_csv,
    read_transcripts_jsonl,
)


def _rows(df):
    return sorted(
        (r["conv_id"], r["turn_idx"], r["role"], r["text"], r["tool"],
         None if r["ts"] is None else r["ts"].isoformat())
        for r in df.collect())


@pytest.fixture(scope="module")
def dumps(unit_fixture_dir, tmp_path_factory):
    """The unit transcripts re-materialized as JSONL and CSV."""
    d = tmp_path_factory.mktemp("dumps")
    pdf = pd.read_parquet(os.path.join(unit_fixture_dir,
                                       "transcripts.parquet"))
    jl = d / "transcripts.jsonl"
    pdf.to_json(jl, orient="records", lines=True, date_format="iso")
    cs = d / "transcripts.csv"
    pdf.to_csv(cs, index=False, date_format="%Y-%m-%dT%H:%M:%S.%f")
    return str(d), pdf


def test_jsonl_and_csv_read_equal_parquet(spark, unit_fixture_dir, dumps):
    d, _ = dumps
    ref = _rows(read_transcripts_any(
        spark, os.path.join(unit_fixture_dir, "transcripts.parquet")))
    assert ref  # non-vacuous
    got_j = _rows(read_transcripts_jsonl(
        spark, os.path.join(d, "transcripts.jsonl")))
    got_c = _rows(read_transcripts_csv(
        spark, os.path.join(d, "transcripts.csv")))
    assert got_j == ref
    assert got_c == ref
    # extension dispatch picks the right reader
    assert _rows(read_transcripts_any(
        spark, os.path.join(d, "transcripts.jsonl"))) == ref
    assert _rows(read_transcripts_any(
        spark, os.path.join(d, "transcripts.csv"))) == ref
    with pytest.raises(ValueError, match="unknown transcripts format"):
        read_transcripts_any(spark, "x.parquet", fmt="orc2")


def test_csv_read_warns_when_files_are_fewer_than_cores(spark, dumps,
                                                       tmp_path):
    """One CSV file is one split (multiLine=True): fewer files than cores
    warn with the counts and the remedy; enough shards do not."""
    import warnings

    d, pdf = dumps
    cores = spark.sparkContext.defaultParallelism
    assert cores > 1
    with pytest.warns(UserWarning,
                      match=rf"1 CSV file\(s\) for {cores} cores.*shard the "
                            r"dump.*or use JSONL"):
        read_transcripts_csv(spark, os.path.join(d, "transcripts.csv"))
    shards = tmp_path / "shards"
    shards.mkdir()
    for i in range(cores):
        pdf.iloc[i::cores].to_csv(shards / f"part-{i}.csv", index=False,
                                  date_format="%Y-%m-%dT%H:%M:%S.%f")
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        assert read_transcripts_csv(spark, str(shards)).count() == len(pdf)


def test_pipeline_end_to_end_over_jsonl(spark, unit_fixture_dir, dumps,
                                        tmp_path):
    """A fixture dir whose transcripts are a JSONL dump (no parquet) must
    produce the identical triple set — planted-gold P/R 1.0 through the
    text-format ingestion path."""
    from kgpipe.operators.evaluate import evaluate_triples
    from kgpipe.pipeline import run_from_dir

    d, _ = dumps
    fx = tmp_path / "jsonl_fixture"
    fx.mkdir()
    shutil.copy(os.path.join(d, "transcripts.jsonl"),
                fx / "transcripts.jsonl")
    for f in ("candidate_dict.parquet", "gold_triples.parquet"):
        shutil.copy(os.path.join(unit_fixture_dir, f), fx / f)

    out = run_from_dir(spark, str(fx))
    m = evaluate_triples(out["triples"], out["gold"])
    assert m["precision"] == 1.0 and m["recall"] == 1.0, m


def test_checkpointed_pipeline_over_jsonl(spark, unit_fixture_dir, dumps,
                                          tmp_path):
    """Both fixture-dir entry points share locate_transcripts: the
    CHECKPOINTED pipeline must also run over a JSONL-only fixture dir and
    emit the plain run's triples."""
    from kgpipe.pipeline import run_from_dir, run_pipeline_checkpointed

    d, _ = dumps
    fx = tmp_path / "jsonl_fixture_ck"
    fx.mkdir()
    shutil.copy(os.path.join(d, "transcripts.jsonl"),
                fx / "transcripts.jsonl")
    shutil.copy(os.path.join(unit_fixture_dir, "candidate_dict.parquet"),
                fx / "candidate_dict.parquet")

    want = {tuple(r) for r in
            run_from_dir(spark, unit_fixture_dir)["triples"]
            .select("subj", "pred", "obj", "conv_id", "turn_idx").collect()}
    out = run_pipeline_checkpointed(spark, str(fx), str(tmp_path / "ck"))
    got = {tuple(r) for r in out["triples"]
           .select("subj", "pred", "obj", "conv_id", "turn_idx").collect()}
    assert got == want and got


def test_cli_over_jsonl_fixture_dir(spark, unit_fixture_dir, dumps,
                                    tmp_path, monkeypatch, capsys):
    """The CLI's plain path accepts a JSONL-only input dir (it shares
    run_from_dir's loader) and reaches planted-gold P/R 1.0 on it."""
    import json

    import kgpipe.session
    import run_pipeline

    d, _ = dumps
    fx = tmp_path / "jsonl_cli"
    fx.mkdir()
    shutil.copy(os.path.join(d, "transcripts.jsonl"),
                fx / "transcripts.jsonl")
    for f in ("candidate_dict.parquet", "gold_triples.parquet"):
        shutil.copy(os.path.join(unit_fixture_dir, f), fx / f)
    # run in this session: main() would otherwise stop the shared one
    monkeypatch.setattr(kgpipe.session, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)

    rc = run_pipeline.main(["--input", str(fx),
                            "--output", str(tmp_path / "kg"), "--eval"])
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["triples"] > 0
    assert report["metrics"]["precision"] == 1.0
    assert report["metrics"]["recall"] == 1.0
