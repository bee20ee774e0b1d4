"""The fused turn-digest extractor (narrow-shuffle path) must emit exactly
the triples of the exploded window-over-mentions reference plan — on the
gazetteer labeler, on the trained labeler, chunked and unchunked, and on a
hand-built corpus exercising the skip-unlinked-mention and window-gap
edges."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest
from reference_plans import canonicalize, extract_triples, triples_from_spans

from kgpipe.operators.labeler import label_transcripts
from kgpipe.operators.linker import dict_to_df, link_entities, top1_dict
from kgpipe.operators.mentions import extract_mentions
from kgpipe.operators.relations import extract_triples_fused, turn_digests
from kgpipe.pipeline import read_transcripts


@pytest.fixture(scope="module")
def unit(spark, unit_fixture_dir):
    t = read_transcripts(
        spark, os.path.join(unit_fixture_dir, "transcripts.parquet"))
    cd = pd.read_parquet(
        os.path.join(unit_fixture_dir, "candidate_dict.parquet"))
    linked = link_entities(
        extract_mentions(label_transcripts(spark, t, cd)),
        dict_to_df(spark, top1_dict(cd)), k=1, ranked=False).cache()
    return t, linked, cd


def _tset(df):
    return {tuple(r) for r in
            df.select("subj", "pred", "obj", "conv_id", "turn_idx", "conf")
            .collect()}


def test_fused_equals_exploded_gazetteer(spark, unit):
    t, linked, cd = unit
    ref = _tset(extract_triples(spark, linked, window=3, chunk=None))
    assert ref, "fixture must produce triples"
    got = _tset(extract_triples_fused(spark, t, cd, window=3, chunk=None))
    assert got == ref


def test_fused_chunked_equals_unchunked(spark, unit):
    t, _linked, cd = unit
    ref = _tset(extract_triples_fused(spark, t, cd, window=3, chunk=None))
    for c in (4, 7, 64):
        got = _tset(extract_triples_fused(
            spark, t, cd, window=3, chunk=c))
        assert got == ref, f"chunk={c}"


def test_fused_equals_exploded_trained(spark, unit_fixture_dir, unit_model):
    """Trained weights: the exploded reference over label_transcripts'
    spans == the digest path labeling with the same model."""
    tpath = os.path.join(unit_fixture_dir, "transcripts.parquet")
    cd = pd.read_parquet(
        os.path.join(unit_fixture_dir, "candidate_dict.parquet"))
    t = read_transcripts(spark, tpath)
    linked = link_entities(
        extract_mentions(label_transcripts(spark, t, cd, unit_model)),
        dict_to_df(spark, top1_dict(cd)), k=1, ranked=False)
    ref = _tset(extract_triples(spark, linked, window=3, chunk=None))
    assert ref, "fixture must produce triples"
    got = _tset(extract_triples_fused(
        spark, t, cd, window=3, chunk=None, model=unit_model))
    assert got == ref


def _zero_model():
    from kgpipe.operators.labeler import N_TAGS, build_transitions
    from kgpipe.operators.train import TrainedLabeler

    return TrainedLabeler(
        W=np.zeros((64, N_TAGS), np.float32), trans=build_transitions(),
        D=64, epochs_run=0, train_token_acc=0.0)


@pytest.mark.parametrize("mode,with_model", [
    ("gaz", True), ("trained", False)])
def test_inline_labeler_and_model_must_agree(spark, unit, mode, with_model):
    """The ``inline_labeler`` cross-check: 'gaz' takes no model and
    'trained' needs one — a mismatch is an error, not silently ignored."""
    t, _linked, cd = unit
    model = _zero_model() if with_model else None
    with pytest.raises(ValueError, match="model"):
        turn_digests(spark, t, cd, inline_labeler=mode, model=model)


def test_model_alone_selects_trained_weights(spark, unit):
    """With no ``inline_labeler``, a model alone switches the digest UDF
    to its weights: all-zero emissions decode every token as O, so no
    span and no triple survive, where the gazetteer finds triples."""
    t, _linked, cd = unit
    assert extract_triples_fused(spark, t, cd).count() > 0
    assert extract_triples_fused(spark, t, cd, model=_zero_model()).count() == 0


def test_prelabeled_frame_is_rejected(spark, unit):
    t, _linked, cd = unit
    with pytest.raises(ValueError, match="spans"):
        turn_digests(spark, label_transcripts(spark, t, cd), cd)


def _edge_corpus(spark):
    """Hand-built turns hitting the tricky cases:

    * c1/t0: alice(PER) .. "works at" .. acme(ORG) — plain intra pair.
    * c1/t1: UNLINKED mention between two linked ones — the exploded path
      pairs the two LINKED neighbours, so the between-text includes the
      unlinked surface and must NOT match (no triple).
    * c1/t2: opens with a predicate phrase + mention — cross-turn subject
      resolves to t1's LAST linked mention.
    * c1/t9: same shape but the nearest mention-bearing turn is >window
      away — no triple.
    * c2: first turn of a conversation opens with a predicate — no
      predecessor, no triple.
    """
    rows = [
        ("c1", 0, "user", "alice works at acme", None, None),
        ("c1", 1, "user", "bob visited zzz then acme", None, None),
        ("c1", 2, "user", "works at acme", None, None),
        ("c1", 9, "user", "works at acme", None, None),
        ("c2", 0, "user", "works at acme", None, None),
    ]
    from kgpipe.schemas import TRANSCRIPTS

    t = spark.createDataFrame(
        [r[:4] + (None, None) for r in rows], schema=TRANSCRIPTS)
    # spans by hand (start, end, type, score); 'zzz' labeled but NOT in dict
    spans = {
        ("c1", 0): [(0, 5, "PER"), (15, 19, "ORG")],
        ("c1", 1): [(0, 3, "PER"), (12, 15, "MISC"), (21, 25, "ORG")],
        ("c1", 2): [(9, 13, "ORG")],
        ("c1", 9): [(9, 13, "ORG")],
        ("c2", 0): [(9, 13, "ORG")],
    }

    def spans_for(conv, turn):
        return [
            {"start": s, "end": e, "ent_type": ty, "score": 1.0}
            for s, e, ty in spans[(conv, turn)]
        ]

    sp_df = spark.createDataFrame(
        [(c, i, spans_for(c, i)) for (c, i) in spans],
        schema="conv_id string, turn_idx int, "
               "spans array<struct<start:int,end:int,ent_type:string,"
               "score:float>>")
    labeled = t.join(sp_df, ["conv_id", "turn_idx"])
    cd = pd.DataFrame({
        "alias": ["alice", "bob", "acme"],
        "entity_id": ["E_alice", "E_bob", "E_acme"],
        "prior": [1.0, 1.0, 1.0],
        "ent_class": ["PER", "PER", "ORG"],
    })
    return labeled, cd


def test_edge_corpus_semantics(spark):
    labeled, cd = _edge_corpus(spark)
    got = _tset(triples_from_spans(
        spark, labeled, cd, window=3, chunk=None,
        predicates={"works at": "works_at", "visited": "visited",
                    "then": "then"}))
    got = {t[:5] + (round(float(t[5]), 3),) for t in got}
    assert got == {
        # t0 intra: alice -works_at-> acme
        ("E_alice", "works_at", "E_acme", "c1", 0, 1.0),
        # t1: bob..zzz..acme — between LINKED pair is "visited zzz then",
        # not a predicate; but bob->? no. ONLY the cross into t2:
        # t2 opens "works at" -> subject = t1's last linked mention (acme)
        ("E_acme", "works_at", "E_acme", "c1", 2, 0.9),
        # t9: gap 9-2=7 > window=3 -> nothing; c2/t0: no predecessor
    }
    # and the exploded path agrees on every row
    linked = link_entities(
        extract_mentions(labeled), dict_to_df(spark, top1_dict(cd)),
        k=1, ranked=False)
    ref = _tset(extract_triples(
        spark, linked, window=3, chunk=None,
        predicates={"works at": "works_at", "visited": "visited",
                    "then": "then"}))
    assert {t[:5] + (round(float(t[5]), 3),) for t in ref} == got


def test_digest_rows_are_narrow(spark, unit):
    """The window input must not carry text: assert the digest schema is
    ids + small arrays only."""
    t, _, cd = unit
    d = turn_digests(spark, t, cd)
    assert set(d.columns) == {
        "conv_id", "turn_idx", "intra", "first_ent", "first_pred",
        "last_ent"}
    assert "text" not in d.columns


def test_fused_in_pipeline_matches_exploded_pipeline(
        spark, unit_fixture_dir):
    """run_pipeline's product (canon map composed into the digest link
    map, per-turn dedup) equals the reference composition: the exploded
    plan over ``linked``, then canonicalize's broadcast joins + groupBy."""
    from kgpipe.pipeline import run_pipeline

    t = read_transcripts(
        spark, os.path.join(unit_fixture_dir, "transcripts.parquet"))
    cd = pd.read_parquet(
        os.path.join(unit_fixture_dir, "candidate_dict.parquet"))
    out = run_pipeline(spark, t, cd)
    a = out["triples"]
    b = canonicalize(extract_triples(spark, out["linked"], window=3),
                     out["canon_map"])
    # conf included: both dedup rules are deterministic max-conf (the
    # fused per-turn array dedup and canonicalize's groupBy+max)
    sel = ["subj", "pred", "obj", "conv_id", "turn_idx", "conf"]
    ra = sorted(map(tuple, a.select(*sel).collect()))
    rb = sorted(map(tuple, b.select(*sel).collect()))
    assert ra == rb and ra


def test_per_turn_dedup_keeps_max_conf(spark):
    """When the SAME canonical triple arises both intra-turn (conf 1.0)
    and cross-turn (conf 0.9) in one turn, exactly one row must survive,
    deterministically carrying conf 1.0 — in the fused per-turn array
    dedup AND in canonicalize's groupBy+max (dropDuplicates kept a
    plan-dependent arbitrary row)."""
    from kgpipe.operators.relations import triples_from_digests

    digests = spark.createDataFrame(
        [("c1", 0, [], "X", None, "X"),
         # turn 1: first mention E with a prefix predicate p (cross ->
         # (X, p, E) conf 0.9) AND an intra pair producing (X, p, E) 1.0
         ("c1", 1, [{"subj": "X", "pred": "p", "obj": "E"}], "E", "p", "E")],
        "conv_id string, turn_idx int, "
        "intra array<struct<subj:string,pred:string,obj:string>>, "
        "first_ent string, first_pred string, last_ent string")

    for chunk in (None, 4096):
        got = triples_from_digests(digests, window=3, chunk=chunk,
                                   dedup=True).collect()
        assert len(got) == 1, got
        assert got[0].conf == pytest.approx(1.0)

    # same rule through the generic path: raw (undeduped) triples -> canonicalize
    raw = triples_from_digests(digests, window=3, dedup=False)
    assert raw.count() == 2
    empty_map = spark.createDataFrame(
        [], "entity_id string, canonical_id string")
    out = canonicalize(raw, empty_map).collect()
    assert len(out) == 1 and out[0].conf == pytest.approx(1.0)
