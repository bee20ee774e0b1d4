"""The relation extractor must work with ANY predicate table, not just the
fixture's planted phrases — round 1 hard-wired the extractor to the fixture
package; these tests pin the decoupling."""

from __future__ import annotations

import pandas as pd
import pytest

from reference_plans import predicates_df, triples_from_spans

from kgpipe.predicates import (
    DEFAULT_PRED_PHRASES,
    load_predicates,
    predicates_dict,
)


@pytest.fixture()
def custom_labeled(spark):
    """Hand-built labeled turns (spans given, as in test_relations_fused's
    edge corpus) whose connective phrase ('leads') is NOT in the default
    predicate table, plus the dictionary that links them."""
    from kgpipe.schemas import TRANSCRIPTS

    turns = [
        # intra-turn: "Alice leads Platform" — spans at [0,5) and [12,20)
        ("c1", 0, "Alice leads Platform", [(0, 5, "PER"), (12, 20, "ORG")]),
        # cross-turn: turn 1 opens with "leads " then a mention
        ("c1", 1, "leads Squad", [(6, 11, "ORG")]),
    ]
    t = spark.createDataFrame(
        [(c, i, "user", text, None, None) for c, i, text, _ in turns],
        schema=TRANSCRIPTS)
    sp = spark.createDataFrame(
        [(c, i, [{"start": a, "end": b, "ent_type": ty, "score": 1.0}
                 for a, b, ty in spans]) for c, i, _, spans in turns],
        schema="conv_id string, turn_idx int, spans array<struct<"
               "start:int,end:int,ent_type:string,score:float>>")
    cd = pd.DataFrame({
        "alias": ["alice", "platform", "squad"],
        "entity_id": ["ent:alice", "ent:platform", "ent:squad"],
        "prior": [1.0] * 3,
        "ent_class": ["PER", "ORG", "ORG"],
    })
    return t.join(sp, ["conv_id", "turn_idx"]), cd


def test_custom_predicates_extract(spark, custom_labeled):
    labeled, cd = custom_labeled
    custom = {"leads": "leads_team"}
    got = {
        (r.subj, r.pred, r.obj)
        for r in triples_from_spans(
            spark, labeled, cd, window=3, predicates=custom
        ).collect()
    }
    assert ("ent:alice", "leads_team", "ent:platform") in got
    assert ("ent:platform", "leads_team", "ent:squad") in got


def test_default_predicates_miss_custom_phrase(spark, custom_labeled):
    # with the default table, 'leads' matches nothing
    labeled, cd = custom_labeled
    assert triples_from_spans(spark, labeled, cd, window=3).count() == 0


def test_operators_no_longer_import_fixtures():
    import os
    import subprocess

    r = subprocess.run(
        ["grep", "-rn", "kgpipe.fixtures", "kgpipe/operators/",
         "kgpipe/streaming/", "--include=*.py"],
        capture_output=True, text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert r.stdout.strip() == "", r.stdout


def test_predicate_forms_normalize(spark, tmp_path):
    d = {"reports to": "reports_to"}
    assert predicates_dict(d) == d
    pdf = pd.DataFrame({"phrase": ["reports to"], "pred": ["reports_to"]})
    assert predicates_dict(pdf) == d
    sdf = predicates_df(spark, d)
    assert predicates_dict(sdf) == d
    assert predicates_dict(None) == DEFAULT_PRED_PHRASES
    p = tmp_path / "preds.parquet"
    pdf.to_parquet(p)
    assert load_predicates(str(p)) == d
    with pytest.raises(ValueError):
        bad = tmp_path / "bad.parquet"
        pd.DataFrame({"x": [1]}).to_parquet(bad)
        load_predicates(str(bad))
