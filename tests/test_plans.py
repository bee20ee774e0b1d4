"""Physical-plan shape gates: the properties that matter at 100 TB are
asserted, not eyeballed — filters reach the parquet scan, projections prune
the read schema, the dictionary join broadcasts, the fact-fact join does
NOT broadcast-nested-loop, and Python appears only as Arrow-vectorized
eval (SURVEY.md §4.1/§4.3)."""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.01"


def _plan(df, mode: str = "formatted") -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode))


def test_filter_pushdown_and_column_pruning(spark):
    from kgpipe.queries.relational import scan_filter_project

    p = _plan(scan_filter_project(spark, SF))
    assert "PushedFilters: [" in p and "IsNotNull" in p, p
    # projection pruned to the columns the query touches
    scan = p[p.index("ReadSchema"):].splitlines()[0]
    assert "l_comment" not in scan, scan


def test_dimension_join_broadcasts(spark):
    from kgpipe.queries.relational import join_broadcast_dims

    p = _plan(join_broadcast_dims(spark, SF))
    assert "BroadcastHashJoin" in p, p


def test_fact_fact_join_is_not_bnlj(spark):
    from kgpipe.queries.relational import join_orders_lineitem_revenue

    p = _plan(join_orders_lineitem_revenue(spark, SF))
    assert "BroadcastNestedLoopJoin" not in p, p
    assert ("SortMergeJoin" in p or "ShuffledHashJoin" in p
            or "BroadcastHashJoin" in p), p


def test_linker_join_broadcasts_and_labeler_is_arrow(spark):
    import pandas as pd

    from kgpipe.fixtures.generator import materialize
    from kgpipe.operators.labeler import label_transcripts
    from kgpipe.operators.linker import dict_to_df, link_entities
    from kgpipe.operators.mentions import extract_mentions
    from kgpipe.pipeline import read_transcripts
    import os

    fx = materialize("unit")
    t = read_transcripts(spark, os.path.join(fx, "transcripts.parquet"))
    cd = pd.read_parquet(os.path.join(fx, "candidate_dict.parquet"))
    linked = link_entities(
        extract_mentions(label_transcripts(spark, t, cd)),
        dict_to_df(spark, cd), k=1)
    p = _plan(linked)
    assert "BroadcastHashJoin" in p, p
    # vectorized Arrow eval, never row-at-a-time Python
    assert "ArrowEvalPython" in p, p
    assert "BatchEvalPython" not in p, p


def test_whole_stage_codegen_covers_relational_ops(spark):
    from kgpipe.queries.relational import agg_pricing_summary

    # AQE finalizes the plan only at execution; run the query, then check
    # the executed plan carries whole-stage-codegen stages ("*(n) Op")
    df = agg_pricing_summary(spark, SF)
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "*(" in p, p[:800]


def _text_exchanges(df) -> tuple[int, int]:
    """(all, text-carrying) Exchange nodes of ``df``'s formatted plan."""
    import io
    import re
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    blocks = [b for b in re.split(r"\n\(\d+\) ", buf.getvalue())
              if b.split("\n")[0].startswith("Exchange")]
    return len(blocks), sum(1 for b in blocks if re.search(r"\btext#", b))


def _scans(plan: str) -> int:
    """Parquet scan nodes in an executed plan's text. Counted by node name:
    a scan's ``Location`` is cut at ``spark.sql.maxMetadataStringLength``
    (100), so in a long checkout path the file name does not show."""
    import re

    return len(re.findall(r"\bFileScan parquet\b", plan))


def test_fused_triples_shuffle_no_text(spark):
    """The fused extractor's whole point: no Exchange in the triples plan
    may carry the text column (the exploded reference plan has exactly
    that text-bearing exchange — asserted as the negative control so this
    test keeps discriminating if plan formatting changes)."""
    import os

    import pandas as pd
    from reference_plans import extract_triples

    from kgpipe.fixtures.generator import materialize
    from kgpipe.pipeline import read_transcripts, run_pipeline

    fx = materialize("unit")
    t = read_transcripts(spark, os.path.join(fx, "transcripts.parquet"))
    cd = pd.read_parquet(os.path.join(fx, "candidate_dict.parquet"))
    out = run_pipeline(spark, t, cd)
    assert _text_exchanges(out["triples"])[1] == 0
    # negative control
    assert _text_exchanges(extract_triples(spark, out["linked"]))[1] >= 1


def test_stream_triples_shuffle_no_text(spark, tmp_path):
    """The streaming extractor shuffles digest rows into its state
    operator, never the turn text: the digest UDF runs before the conv_id
    exchange, exactly as in the batch plan."""
    import os

    import pandas as pd

    from kgpipe.fixtures.generator import materialize
    from kgpipe.streaming import incremental_triples, read_transcripts_stream

    fx = materialize("unit")
    d = str(tmp_path / "stream_in")
    os.makedirs(d)
    pd.read_parquet(os.path.join(fx, "transcripts.parquet")).head(50) \
        .to_parquet(os.path.join(d, "a.parquet"), index=False,
                    coerce_timestamps="us", allow_truncated_timestamps=True)
    cd = pd.read_parquet(os.path.join(fx, "candidate_dict.parquet"))
    df = incremental_triples(spark, read_transcripts_stream(spark, d), cd)
    assert _text_exchanges(df) == (1, 0)


def test_fused_triples_single_corpus_pass(spark):
    """The fused triples plan must scan the transcripts (and hence run the
    labeler + digest Arrow UDFs) exactly ONCE. The first fused form
    consumed the digest subtree from three branches (window, per-chunk
    summary join, intra explode) and Catalyst could not ReusedExchange
    them because each branch pruned different columns — the x256 probe
    measured the full scan+UDF stage executing 2-3x (636s + 457s executor
    CPU for one corpus). The ghost-row chunk overlap + single
    concat/explode emission keep the digest subtree single-consumer."""
    import os

    import pandas as pd

    from kgpipe.fixtures.generator import materialize
    from kgpipe.pipeline import read_transcripts, run_pipeline

    fx = materialize("unit")
    t = read_transcripts(spark, os.path.join(fx, "transcripts.parquet"))
    cd = pd.read_parquet(os.path.join(fx, "candidate_dict.parquet"))
    out = run_pipeline(spark, t, cd)
    p = out["triples"]._jdf.queryExecution().executedPlan().toString()
    assert _scans(p) == 1, p[:1200]
    # (_scans counts every scan: the product and the raw triples are two
    # digest plans over the one file)
    both = out["triples"].unionByName(out["raw_triples"])
    assert _scans(both._jdf.queryExecution().executedPlan().toString()) == 2
    # ... and the ONLY shuffle is the narrow digest window: with the canon
    # map composed into the link map and dedup done per turn, the generic
    # canonicalize stage's corpus-scale dedup exchange is gone
    import re

    assert len(re.findall(r"\bExchange ", p)) == 1, p[:1200]
    # ... and labeling is inlined into the digest UDF: ONE ArrowEvalPython
    # node, so each turn's text crosses the JVM<->Python boundary once
    # (the chained labeler->digest form shipped it twice plus the span
    # structs back in between — Spark cannot merge dependent Python UDFs)
    assert len(re.findall(r"ArrowEvalPython", p)) == 1, p[:1200]


def test_trained_product_single_arrow_udf(spark, unit_model):
    """With trained weights the product plan keeps its shape: one scan
    and ONE ArrowEvalPython (labeling inlined into the digest UDF)."""
    import os
    import re

    import pandas as pd

    from kgpipe.fixtures.generator import materialize
    from kgpipe.pipeline import read_transcripts, run_pipeline

    fx = materialize("unit")
    t = read_transcripts(spark, os.path.join(fx, "transcripts.parquet"))
    cd = pd.read_parquet(os.path.join(fx, "candidate_dict.parquet"))
    out = run_pipeline(spark, t, cd, labeler_model=unit_model)
    p = out["triples"]._jdf.queryExecution().executedPlan().toString()
    assert _scans(p) == 1, p[:1200]
    assert len(re.findall(r"ArrowEvalPython", p)) == 1, p[:1200]


def test_labeler_udf_executes_once_in_mention_plans(spark):
    """Each intermediate plan must run the labeler UDF exactly once per
    scan. Plain explode over a UDF-derived span column triggers
    InferFiltersFromGenerate + predicate pushdown, which substitutes the
    UDF call into the inferred size()>0 filter — a second ArrowEvalPython
    executing the whole labeler again per row (extract_mentions uses
    explode_outer + an IS NOT NULL filter on the Generate output, which
    cannot be pushed below it)."""
    import os
    import re

    import pandas as pd

    from kgpipe.fixtures.generator import materialize
    from kgpipe.pipeline import read_transcripts, run_pipeline

    fx = materialize("unit")
    t = read_transcripts(spark, os.path.join(fx, "transcripts.parquet"))
    cd = pd.read_parquet(os.path.join(fx, "candidate_dict.parquet"))
    out = run_pipeline(spark, t, cd)
    for name in ("mentions", "linked"):
        p = out[name]._jdf.queryExecution().executedPlan().toString()
        assert _scans(p) == 1, (name, p[:900])
        assert len(re.findall(r"ArrowEvalPython", p)) == 1, (name, p[:900])


def test_canon_map_plan_shape(spark):
    """The distributed canon map is one grouped pandas pass: the
    entity_surfaces shuffle, the (ent_class, block) shuffle and one
    FlatMapGroupsInPandas running the per-block similarity join and
    union-find — no join of any kind, so no pair ever crosses a
    shuffle."""
    import re

    import pandas as pd

    from kgpipe.operators.canon import build_canon_map
    from kgpipe.operators.linker import dict_to_df

    cd = pd.DataFrame({
        "alias": [f"tok{i % 7} name{i:04d}" for i in range(300)],
        "entity_id": [f"E{i:04d}" for i in range(300)],
        "prior": [1.0] * 300,
        "ent_class": ["ORG"] * 300,
    })
    p = build_canon_map(dict_to_df(spark, cd))._jdf.queryExecution() \
        .executedPlan().toString()
    assert p.count("FlatMapGroupsInPandas") == 1, p
    assert len(re.findall(r"\bExchange ", p)) <= 2, p
    for node in ("Join", "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert node not in p, (node, p)
