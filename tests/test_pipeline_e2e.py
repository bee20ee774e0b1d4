"""End-to-end pipeline gates (SURVEY.md §5.2):

* triple P/R >= 0.95 vs planted gold (BASELINE.json acceptance bar)
* per-row invariant: per-turn text equality under stable (conv_id, turn_idx)
  ordering between input and every stage output that carries text
* determinism: permuted input rows + different partition count -> identical
  triples
"""

import glob

import pytest
from pyspark.sql import functions as F

from kgpipe.operators.evaluate import evaluate_triples, per_predicate_eval
from kgpipe.pipeline import read_transcripts, run_from_dir


@pytest.fixture(scope="module")
def result(spark, unit_fixture_dir):
    out = run_from_dir(spark, unit_fixture_dir)
    out["triples"] = out["triples"].cache()
    return out


def test_pr_gate(result):
    m = evaluate_triples(result["triples"], result["gold"])
    assert m["precision"] >= 0.95, m
    assert m["recall"] >= 0.95, m


def test_per_predicate_eval(result):
    rows = per_predicate_eval(result["triples"], result["gold"]).collect()
    assert {r["pred"] for r in rows} == {"works_at", "released", "met", "located_in"}
    for r in rows:
        assert r["precision"] >= 0.95 and r["recall"] >= 0.95, r


def test_per_turn_text_invariant(spark, result, unit_fixture_dir):
    """Stage outputs that carry text must preserve it per (conv_id, turn_idx)."""
    src = read_transcripts(
        spark, f"{unit_fixture_dir}/transcripts.parquet"
    ).select("conv_id", "turn_idx", "text")
    staged = result["labeled"].select("conv_id", "turn_idx", "text")
    diff = src.exceptAll(staged).count() + staged.exceptAll(src).count()
    assert diff == 0


def test_mention_surfaces_substring_of_text(result):
    bad = result["mentions"].filter(
        F.expr("substring(text, span_start + 1, span_end - span_start) != surface")
    ).count()
    assert bad == 0


def test_determinism_under_permutation_and_partitioning(spark, unit_fixture_dir):
    import pandas as pd

    from kgpipe.pipeline import run_pipeline

    tr = spark.read.parquet(f"{unit_fixture_dir}/transcripts.parquet")
    cd = pd.read_parquet(f"{unit_fixture_dir}/candidate_dict.parquet")

    def fingerprint(df):
        r = df.agg(
            F.expr("bit_xor(xxhash64(subj, pred, obj, conv_id, turn_idx))").alias("h"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        return (r["n"], r["h"])

    base = fingerprint(run_pipeline(spark, tr, cd)["triples"])
    # permute row order and change the partition count
    shuffled = tr.orderBy(F.xxhash64("text", "ts")).repartition(17)
    perm = fingerprint(run_pipeline(spark, shuffled, cd)["triples"])
    assert base == perm


def test_variant_ids_canonicalized(result):
    """No ~v1 variant ids may survive canonicalization."""
    n = result["triples"].filter(
        F.col("subj").contains("~") | F.col("obj").contains("~")
    ).count()
    assert n == 0


def test_skew_hot_conversation_present(spark, unit_fixture_dir):
    """Unit fixture plants one hot conversation with ~30% of turns; the
    pipeline must still be exact there (covered by P/R) — assert the skew
    actually exists so the gate is meaningful."""
    tr = spark.read.parquet(f"{unit_fixture_dir}/transcripts.parquet")
    counts = tr.groupBy("conv_id").count().orderBy(F.desc("count")).collect()
    total = sum(r["count"] for r in counts)
    assert counts[0]["count"] / total > 0.2


def test_mentions_drop_null_span_elements(spark):
    """extract_mentions uses explode_outer + IS-NOT-NULL (the
    double-UDF-execution fix), which drops a NULL element INSIDE a
    non-empty spans array — plain explode would have emitted it as a row.
    Neither labeler produces null elements, so this pins the contract for
    any future spans producer."""
    from kgpipe.operators.mentions import extract_mentions

    schema = ("conv_id string, turn_idx int, text string, "
              "spans array<struct<start:int,end:int,ent_type:string,"
              "score:float>>")
    rows = [
        ("c1", 0, "alpha beta", [(0, 5, "per", 1.0), None]),
        ("c1", 1, "gamma", [None]),
        ("c1", 2, "delta", []),
        ("c1", 3, "epsilon", None),
    ]
    df = spark.createDataFrame(rows, schema)
    got = extract_mentions(df).select(
        "conv_id", "turn_idx", "surface").collect()
    assert [(r.conv_id, r.turn_idx, r.surface) for r in got] == [
        ("c1", 0, "alpha")]


_ALL_OUTPUTS = {"labeled", "mentions", "linked", "raw_triples", "canon_map",
                "triples"}


def test_run_pipeline_plans_only_the_product(spark, unit_fixture_dir,
                                             monkeypatch):
    """run_pipeline plans ``triples`` alone — one gazetteer build — and
    every side output is still built (once) on first read."""
    import pandas as pd

    import kgpipe.operators.labeler as labeler
    from kgpipe.pipeline import run_pipeline

    calls = []
    real = labeler.build_gazetteer
    monkeypatch.setattr(labeler, "build_gazetteer",
                        lambda cd: calls.append(len(cd)) or real(cd))
    tr = read_transcripts(spark, f"{unit_fixture_dir}/transcripts.parquet")
    cd = pd.read_parquet(f"{unit_fixture_dir}/candidate_dict.parquet")

    out = run_pipeline(spark, tr, cd)
    assert len(calls) == 1
    assert set(out) == {"triples"}
    for k in sorted(_ALL_OUTPUTS):
        assert out[k].columns and out[k] is out[k], k
    assert set(out) == _ALL_OUTPUTS
    assert out["mentions"].count() > 0 and out["raw_triples"].count() > 0
    with pytest.raises(KeyError):
        out["nope"]
    out["gold"] = out["triples"]  # plain assignment still works
    assert out["gold"] is out["triples"]


def test_over_cap_dictionary_keeps_product_plan(spark, unit_fixture_dir,
                                                monkeypatch):
    """Above LOCAL_CANON_MAX_DICT the canon map comes from the distributed
    similarity join + CC, but the product plan is unchanged: same triples
    (conf included) as the default run, one Exchange, one ArrowEvalPython,
    and no warning."""
    import re
    import warnings

    import pandas as pd

    import kgpipe.pipeline as pipeline

    tr = read_transcripts(spark, f"{unit_fixture_dir}/transcripts.parquet")
    cd = pd.read_parquet(f"{unit_fixture_dir}/candidate_dict.parquet")
    cols = ["subj", "pred", "obj", "conv_id", "turn_idx", "conf"]

    want = sorted(map(tuple, pipeline.run_pipeline(spark, tr, cd)["triples"]
                      .select(*cols).collect()))
    monkeypatch.setattr(pipeline, "LOCAL_CANON_MAX_DICT", 0)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = pipeline.run_pipeline(spark, tr, cd)
    assert not [w for w in caught if w.category is UserWarning], caught
    got = sorted(map(tuple, out["triples"].select(*cols).collect()))
    assert got == want and want
    p = out["triples"]._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\bExchange ", p)) == 1, p[:1200]
    assert len(re.findall(r"ArrowEvalPython", p)) == 1, p[:1200]


def test_locate_transcripts_names_probed_files(tmp_path):
    from kgpipe.pipeline import locate_transcripts

    with pytest.raises(FileNotFoundError) as e:
        locate_transcripts(str(tmp_path))
    for ext in ("parquet", "jsonl", "csv"):
        assert str(tmp_path / f"transcripts.{ext}") in str(e.value)
