"""A14 resumability gates (SURVEY.md §5.2): interrupted + resumed run must
equal the uninterrupted run, completed buckets must be skipped on resume,
and a changed input must invalidate stale checkpoints."""

from __future__ import annotations

import json
import os

import pytest

from kgpipe.fixtures.generator import materialize
from kgpipe.pipeline import (
    read_transcripts,
    run_from_dir,
    run_pipeline,
    run_pipeline_checkpointed,
)


def _triple_set(df):
    return {tuple(r) for r in
            df.select("subj", "pred", "obj", "conv_id", "turn_idx").collect()}


@pytest.fixture(scope="module")
def fixture_dir():
    return materialize("unit")


@pytest.fixture(scope="module")
def plain_triples(spark, fixture_dir):
    return _triple_set(run_from_dir(spark, fixture_dir)["triples"])


def test_checkpointed_equals_plain(spark, fixture_dir, plain_triples, tmp_path_factory):
    """The checkpointed run stages the narrow per-turn digests, then the
    triples; output equals the plain run exactly."""
    run_dir = str(tmp_path_factory.mktemp("ckpt-full"))
    out = run_pipeline_checkpointed(spark, fixture_dir, run_dir)
    assert _triple_set(out["triples"]) == plain_triples
    # lineage manifests exist per stage with per-bucket rows
    for stage in ("digests", "triples"):
        mpath = os.path.join(run_dir, stage, "manifest.jsonl")
        rows = [json.loads(line) for line in open(mpath)]
        assert {r["bucket"] for r in rows} == set(range(32))
        assert all(r["status"] == "done" and "rows_out" in r for r in rows)
        # lineage records what was measured: no per-bucket wall (the
        # buckets share one Spark job; metrics.json has the stage wall)
        assert not any("wall_ms" in r for r in rows)
    assert os.path.exists(os.path.join(run_dir, "metrics.json"))
    # the durable digest rows are NARROW: no text column is staged
    assert set(out["digests"].columns) == {
        "conv_id", "turn_idx", "intra", "first_ent", "first_pred",
        "last_ent"}


def test_resume_skips_completed_buckets(spark, fixture_dir, plain_triples, tmp_path_factory):
    run_dir = str(tmp_path_factory.mktemp("ckpt-resume"))
    run_pipeline_checkpointed(spark, fixture_dir, run_dir)
    # manifests written before per-bucket wall_ms was dropped still resume
    for stage in ("digests", "triples"):
        mpath = os.path.join(run_dir, stage, "manifest.jsonl")
        rows = [json.loads(line) for line in open(mpath)]
        with open(mpath, "w") as f:
            f.writelines(json.dumps({**r, "wall_ms": 1}) + "\n" for r in rows)
    out2 = run_pipeline_checkpointed(spark, fixture_dir, run_dir)
    for stage, m in out2["metrics"].items():
        assert m["buckets_computed"] == 0, (stage, m)
        assert m["rows_computed"] == 0, (stage, m)
    assert _triple_set(out2["triples"]) == plain_triples


def test_crash_mid_stage_resumes_only_missing(spark, fixture_dir, plain_triples,
                                              tmp_path_factory):
    """Simulate a crash after some buckets of stage 1 committed: drop the
    last 10 manifest rows (data dirs stay on disk, as after a real kill).
    Resume must recompute exactly those buckets and produce equal triples."""
    run_dir = str(tmp_path_factory.mktemp("ckpt-crash"))
    run_pipeline_checkpointed(spark, fixture_dir, run_dir)

    mpath = os.path.join(run_dir, "digests", "manifest.jsonl")
    rows = [json.loads(line) for line in open(mpath)]
    dropped = {r["bucket"] for r in rows[-10:]}
    with open(mpath, "w") as f:
        for r in rows[:-10]:
            f.write(json.dumps(r) + "\n")
    # the downstream stage is also "not yet run" in the crash scenario
    import shutil
    shutil.rmtree(os.path.join(run_dir, "triples"))

    out = run_pipeline_checkpointed(spark, fixture_dir, run_dir)
    m = out["metrics"]["digests"]
    assert m["buckets_computed"] == len(dropped)
    assert m["buckets_skipped"] == 32 - len(dropped)
    assert _triple_set(out["triples"]) == plain_triples


def test_changed_input_invalidates(spark, fixture_dir, tmp_path_factory, tmp_path):
    """A different input under the same run_dir must not reuse stale
    buckets (fingerprint mismatch wipes the stage)."""
    import shutil

    run_dir = str(tmp_path_factory.mktemp("ckpt-inval"))
    run_pipeline_checkpointed(spark, fixture_dir, run_dir)

    # shrink the input: copy fixture, truncate transcripts to 40 convs
    alt = tmp_path / "alt_fixture"
    shutil.copytree(fixture_dir, alt)
    import pandas as pd
    t = pd.read_parquet(os.path.join(fixture_dir, "transcripts.parquet"))
    keep = sorted(t["conv_id"].unique())[:5]
    t[t["conv_id"].isin(keep)].to_parquet(
        os.path.join(alt, "transcripts.parquet"), index=False,
        coerce_timestamps="us", allow_truncated_timestamps=True)

    out = run_pipeline_checkpointed(spark, str(alt), run_dir)
    got = out["triples"].select("conv_id").distinct().collect()
    assert {r.conv_id for r in got} <= set(keep)
    m = out["metrics"]["digests"]
    assert m["buckets_computed"] == 32  # full invalidation, nothing stale


def test_all_empty_stage_returns_empty_df(spark, fixture_dir, tmp_path_factory):
    """A stage whose every bucket produces zero rows writes no parquet
    files; reading it back must yield an empty DataFrame with the recorded
    schema, not an 'unable to infer schema' failure — and the same must
    hold on resume."""
    from pyspark.sql import functions as F

    from kgpipe.operators.checkpoint import CheckpointedRun
    from kgpipe.pipeline import read_transcripts

    t = read_transcripts(
        spark, os.path.join(fixture_dir, "transcripts.parquet"))
    run_dir = str(tmp_path_factory.mktemp("ckpt-empty"))

    def empty_fn(df):
        return df.filter(F.lit(False)).select("conv_id", "turn_idx", "text")

    for attempt in range(2):  # fresh run, then resume from manifests
        run = CheckpointedRun(spark, run_dir)
        s = run.stage("nothing", t, empty_fn, n_buckets=4, fingerprint="fp0")
        assert s.df.count() == 0
        assert set(s.df.columns) == {"conv_id", "turn_idx", "text"}
        if attempt == 1:
            assert s.computed_buckets == []  # resume skipped all buckets


def test_checkpointed_trained_labeler_and_model_invalidation(
        spark, fixture_dir, tmp_path_factory):
    """--trained-labeler must work through the checkpointed path (round-2
    review: the flag was silently ignored with --checkpoint-dir), and a
    different labeler model must invalidate the digests checkpoint. Its
    triples equal run_pipeline's with the same model."""
    import pandas as pd

    from kgpipe.operators.evaluate import evaluate_triples
    from kgpipe.operators.train import fit_perceptron, sample_texts

    cd = pd.read_parquet(os.path.join(fixture_dir, "candidate_dict.parquet"))
    model = fit_perceptron(
        sample_texts(os.path.join(fixture_dir, "transcripts.parquet"), 2000),
        cd)
    run_dir = str(tmp_path_factory.mktemp("ckpt-trained"))
    out = run_pipeline_checkpointed(
        spark, fixture_dir, run_dir, labeler_model=model)
    gold = spark.read.parquet(
        os.path.join(fixture_dir, "gold_triples.parquet"))
    m = evaluate_triples(out["triples"], gold)
    assert m["precision"] >= 0.95 and m["recall"] >= 0.95, m
    # the staged digests label through the same trained decode as the
    # plain product plan: equal triples, conf included
    plain = run_pipeline(
        spark, read_transcripts(
            spark, os.path.join(fixture_dir, "transcripts.parquet")),
        cd, labeler_model=model)["triples"]
    cols = ["subj", "pred", "obj", "conv_id", "turn_idx", "conf"]
    assert ({tuple(r) for r in out["triples"].select(cols).collect()}
            == {tuple(r) for r in plain.select(cols).collect()})
    # switching to the gazetteer labeler must NOT reuse the trained-model
    # checkpoint: the digests stage recomputes under a different fingerprint
    out2 = run_pipeline_checkpointed(spark, fixture_dir, run_dir)
    assert out2["run"].metrics["digests"]["buckets_computed"] > 0


def test_cluster_map_change_invalidates_digests(spark, fixture_dir,
                                                tmp_path_factory):
    """Decoding reads a model's cluster map as well as its weights, so two
    models that differ ONLY in ``clusters`` must not share digests."""
    import dataclasses

    import numpy as np

    from kgpipe.operators.labeler import N_TAGS, build_transitions
    from kgpipe.operators.train import TrainedLabeler

    m1 = TrainedLabeler(
        W=np.zeros((64, N_TAGS), np.float32), trans=build_transitions(),
        D=64, epochs_run=0, train_token_acc=0.0, clusters={"alice": 0})
    m2 = dataclasses.replace(m1, clusters={"alice": 1})
    run_dir = str(tmp_path_factory.mktemp("ckpt-clusters"))
    run_pipeline_checkpointed(spark, fixture_dir, run_dir, n_buckets=4,
                              labeler_model=m1)
    out = run_pipeline_checkpointed(spark, fixture_dir, run_dir,
                                    n_buckets=4, labeler_model=m2)
    assert out["run"].metrics["digests"]["buckets_computed"] > 0


def test_lost_checkpoint_data_fails_loudly(spark, fixture_dir,
                                           tmp_path_factory):
    """A manifest that records rows while the data dir holds no parquet
    files is lost data — resume must raise, not fabricate an empty stage."""
    import shutil

    import pytest as _pytest

    run_dir = str(tmp_path_factory.mktemp("ckpt-lost"))
    run_pipeline_checkpointed(spark, fixture_dir, run_dir)
    shutil.rmtree(os.path.join(run_dir, "digests", "data"))
    with _pytest.raises(RuntimeError, match="deleted or modified"):
        run_pipeline_checkpointed(spark, fixture_dir, run_dir)


def test_single_lost_bucket_fails_loudly(spark, fixture_dir,
                                         tmp_path_factory):
    """Deleting ONE bucket directory out-of-band (while others survive)
    must also raise on resume: a stage-level 'some files exist' check would
    silently return incomplete output (round-2 advice, medium)."""
    import glob
    import shutil

    import pytest as _pytest

    run_dir = str(tmp_path_factory.mktemp("ckpt-lost-bucket"))
    run_pipeline_checkpointed(spark, fixture_dir, run_dir)
    bdirs = sorted(glob.glob(
        os.path.join(run_dir, "digests", "data", "_ckpt_bucket=*")))
    assert len(bdirs) > 1
    shutil.rmtree(bdirs[0])
    with _pytest.raises(RuntimeError, match="deleted or modified"):
        run_pipeline_checkpointed(spark, fixture_dir, run_dir)


def test_missing_schema_on_all_empty_stage_is_clear_error(
        spark, tmp_path_factory):
    """An all-empty completed stage whose _schema.json is missing (run_dir
    from a pre-schema version) must raise a clear remove-to-recompute
    error, not a bare FileNotFoundError (round-2 advice, low)."""
    import pytest as _pytest

    from kgpipe.operators.checkpoint import CheckpointedRun

    run_dir = str(tmp_path_factory.mktemp("ckpt-noschema"))
    run = CheckpointedRun(spark, run_dir)
    empty_in = spark.createDataFrame([], "conv_id string, x long")
    run.stage("s1", empty_in, lambda df: df.filter("x > 0"),
              n_buckets=2, fingerprint="fp1")
    os.remove(os.path.join(run_dir, "s1", "_schema.json"))
    run2 = CheckpointedRun(spark, run_dir)
    with _pytest.raises(RuntimeError, match="_schema.json"):
        run2.stage("s1", empty_in, lambda df: df.filter("x > 0"),
                   n_buckets=2, fingerprint="fp1")


def test_digest_layout_crash_resume(spark, fixture_dir, plain_triples,
                                    tmp_path_factory):
    """Crash after part of the SECOND stage committed: resume skips every
    digests bucket, recomputes exactly the missing triples buckets, and
    the final triples are identical."""
    run_dir = str(tmp_path_factory.mktemp("ckpt-digests-crash"))
    run_pipeline_checkpointed(spark, fixture_dir, run_dir)

    mpath = os.path.join(run_dir, "triples", "manifest.jsonl")
    rows = [json.loads(line) for line in open(mpath)]
    dropped = {r["bucket"] for r in rows[-10:]}
    with open(mpath, "w") as f:
        for r in rows[:-10]:
            f.write(json.dumps(r) + "\n")

    out = run_pipeline_checkpointed(spark, fixture_dir, run_dir)
    assert out["metrics"]["digests"]["buckets_computed"] == 0
    m = out["metrics"]["triples"]
    assert m["buckets_computed"] == len(dropped)
    assert m["buckets_skipped"] == 32 - len(dropped)
    assert _triple_set(out["triples"]) == plain_triples


def test_digest_layout_equals_plain(spark, fixture_dir, tmp_path_factory,
                                    monkeypatch):
    """The digests layout serves dictionaries above LOCAL_CANON_MAX_DICT
    too (distributed canon map): same triples as the plain run, conf
    included, no fallback warning, and the staged plans keep the product
    shape — one ArrowEvalPython in the digests stage, one Exchange (the
    conv_id window) in the triples stage."""
    import re
    import warnings

    import kgpipe.operators.relations as relations
    import kgpipe.pipeline as pipeline

    def full_set(df):
        return sorted(map(tuple, df.select(
            "subj", "pred", "obj", "conv_id", "turn_idx", "conf").collect()))

    want = full_set(run_from_dir(spark, fixture_dir)["triples"])

    plans = {}
    for name in ("turn_digests", "triples_from_digests"):
        def record(*a, _name=name, _real=getattr(relations, name), **k):
            plans[_name] = df = _real(*a, **k)
            return df
        monkeypatch.setattr(relations, name, record)
    monkeypatch.setattr(pipeline, "LOCAL_CANON_MAX_DICT", 0)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = run_pipeline_checkpointed(
            spark, fixture_dir, str(tmp_path_factory.mktemp("ckpt-cap")))
    assert not [w for w in caught if w.category is UserWarning], caught
    assert full_set(out["triples"]) == want and want
    assert out["canon_map"].count() > 0

    def count(df, node):
        p = df._jdf.queryExecution().executedPlan().toString()
        return len(re.findall(node, p))

    d, t = plans["turn_digests"], plans["triples_from_digests"]
    assert (count(d, "ArrowEvalPython"), count(d, r"\bExchange ")) == (1, 0)
    assert (count(t, "ArrowEvalPython"), count(t, r"\bExchange ")) == (0, 1)


def test_digest_layout_resume_skips_everything(spark, fixture_dir,
                                               tmp_path_factory):
    """The digests fingerprint excludes the turn window: a window change
    reuses every digests bucket and recomputes only the triples stage,
    and a rerun under the new window then skips everything."""
    run_dir = str(tmp_path_factory.mktemp("ckpt-digests-skip"))
    run_pipeline_checkpointed(spark, fixture_dir, run_dir)
    out = run_pipeline_checkpointed(spark, fixture_dir, run_dir, window=2)
    assert out["metrics"]["digests"]["buckets_computed"] == 0
    assert out["metrics"]["triples"]["buckets_skipped"] == 0
    want = _triple_set(run_from_dir(spark, fixture_dir, window=2)["triples"])
    assert _triple_set(out["triples"]) == want
    out2 = run_pipeline_checkpointed(spark, fixture_dir, run_dir, window=2)
    for stage, m in out2["metrics"].items():
        assert m["buckets_computed"] == 0, (stage, m)
    assert _triple_set(out2["triples"]) == want


def test_checkpointed_reads_fixture_predicates(spark, fixture_dir, tmp_path):
    """Both fixture-dir entry points apply the dir's predicates.parquet
    when no table is passed, so they emit the same triples."""
    import shutil

    import pandas as pd

    from kgpipe.predicates import DEFAULT_PRED_PHRASES

    fx = tmp_path / "fixture_with_predicates"
    fx.mkdir()
    for name in ("transcripts.parquet", "candidate_dict.parquet"):
        shutil.copy(os.path.join(fixture_dir, name), fx / name)
    preds = {**DEFAULT_PRED_PHRASES, "works at": "employed_by"}
    pd.DataFrame({"phrase": list(preds), "pred": list(preds.values())}
                 ).to_parquet(fx / "predicates.parquet", index=False)

    want = _triple_set(run_from_dir(spark, str(fx))["triples"])
    got = _triple_set(run_pipeline_checkpointed(
        spark, str(fx), str(tmp_path / "ck"))["triples"])
    assert got == want
    assert "employed_by" in {t[1] for t in got}
