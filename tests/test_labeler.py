import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from kgpipe.functions.tokenize import hash_strings, token_table
from kgpipe.operators.labeler import (
    MAX_ALIAS_TOKENS,
    NEG,
    N_TAGS,
    _fold_hashes,
    build_gazetteer,
    build_transitions,
    gazetteer_hits,
    label_texts,
    transitions_for,
    viterbi_batch,
)
from kgpipe.schemas import ENT_CLASSES

DICT = pd.DataFrame(
    {
        "alias": ["acme corp", "acme", "alice womack", "port zephyr"],
        "entity_id": ["org1", "org1", "per1", "pl1"],
        "prior": [0.9, 0.6, 0.9, 0.9],
        "ent_class": ["ORG", "ORG", "PER", "PLACE"],
    }
)


def _spans(texts):
    gaz = build_gazetteer(DICT)
    trans = build_transitions()
    return label_texts(pd.Series(texts), gaz, trans)


def test_longest_match_wins():
    sp = _spans(["Alice Womack works at Acme Corp ."])
    got = [(s, e, c) for s, e, c, _ in sp.iloc[0]]
    assert got == [(0, 12, "PER"), (22, 31, "ORG")]


def test_case_insensitive():
    sp = _spans(["ACME CORP released it", "acme corp too"])
    assert [(c, s, e) for s, e, c, _ in sp.iloc[0]] == [("ORG", 0, 9)]
    assert [(c, s, e) for s, e, c, _ in sp.iloc[1]] == [("ORG", 0, 9)]


def test_unigram_alias_alone():
    sp = _spans(["we should ask acme about this"])
    got = sp.iloc[0]
    assert len(got) == 1 and got[0][2] == "ORG"
    assert (got[0][0], got[0][1]) == (14, 18)


def test_capitalization_alone_never_opens_span():
    sp = _spans(["Random Capitalized Words here", "nothing"])
    assert sp.iloc[0] == [] and sp.iloc[1] == []


def test_whitespace_noise():
    txt = "Acme  Corp released it"  # doubled space inside the mention
    sp = _spans([txt])
    # normalized n-gram still matches; offsets cover the raw surface
    assert len(sp.iloc[0]) == 1
    s, e, c, _ = sp.iloc[0][0]
    assert txt[s:e] == "Acme  Corp" and c == "ORG"


def test_empty_batch():
    assert list(_spans(["", None])) == [[], []]


@pytest.mark.parametrize("weights", ["gazetteer", "trained"])
def test_packed_path_equals_direct_udf_path(spark, unit_fixture_dir,
                                            request, weights):
    """label_transcripts ships spans as packed strings rebuilt JVM-side;
    this must equal the direct SPANS_ARRAY UDF over label_texts row-for-row
    for both weight sets (the docstring claims it — pin it, don't imply it
    via e2e P/R)."""
    import os

    from pyspark.sql import functions as F

    from kgpipe.operators.labeler import label_transcripts
    from kgpipe.pipeline import read_transcripts
    from kgpipe.schemas import SPANS_ARRAY

    t = read_transcripts(
        spark, os.path.join(unit_fixture_dir, "transcripts.parquet"))
    cd = pd.read_parquet(
        os.path.join(unit_fixture_dir, "candidate_dict.parquet"))
    model = (request.getfixturevalue("unit_model")
             if weights == "trained" else None)

    packed = label_transcripts(spark, t, cd, model).select(
        "conv_id", "turn_idx", "spans")
    gaz = build_gazetteer(cd)
    trans = transitions_for(model)

    @F.pandas_udf(SPANS_ARRAY)
    def direct_udf(texts: pd.Series) -> pd.Series:
        return label_texts(texts, gaz, trans, model)

    direct = t.select(
        "conv_id", "turn_idx", direct_udf(F.col("text")).alias("spans"))

    def rows(df):
        return {
            (r.conv_id, r.turn_idx,
             tuple((s.start, s.end, s.ent_type, s.score) for s in r.spans))
            for r in df.collect()
        }

    got = rows(packed)
    assert any(sp for *_, sp in got), "fixture must produce spans"
    assert got == rows(direct)


# -- build_gazetteer: batch build == the per-alias reference ----------------

def _siphash(toks):
    return pd.util.hash_array(np.array(toks, dtype=object))


def _build_gazetteer_reference(candidate_dict, hash_tokens=hash_strings):
    """The per-alias form of build_gazetteer: one ``hash_tokens`` call over
    the lowercased tokens and one fold per alias, duplicates resolved by
    dict insertion (last class wins). Kept here only as the equivalence
    reference; with ``_siphash`` it is the keyed-siphash gazetteer the
    byte hash replaced."""
    cls_idx = {c: i for i, c in enumerate(ENT_CLASSES)}
    by_len = {}
    for alias, cls in zip(candidate_dict["alias"], candidate_dict["ent_class"]):
        toks = [t.lower() for t in alias.split()]
        if not toks or len(toks) > MAX_ALIAS_TOKENS:
            continue
        th = hash_tokens(toks)
        h = _fold_hashes(th, len(toks), 1)[0]
        by_len.setdefault(len(toks), []).append((int(h), cls_idx[cls]))
    gaz = {}
    for ln, pairs in by_len.items():
        dedup = dict(pairs)
        keys = np.fromiter(dedup.keys(), dtype=np.uint64, count=len(dedup))
        vals = np.fromiter(dedup.values(), dtype=np.int8, count=len(dedup))
        order = np.argsort(keys)
        gaz[ln] = (keys[order], vals[order])
    return gaz


def _assert_same_gazetteer(got, want):
    assert list(got) == list(want)  # same lengths, same order
    for ln in want:
        for g, w in zip(got[ln], want[ln]):
            assert g.dtype == w.dtype
            np.testing.assert_array_equal(g, w)


# a small word pool so random aliases collide (duplicate aliases with
# conflicting classes), plus non-ASCII words and whitespace runs
_word = st.sampled_from(["acme", "corp", "alice", "port", "zephyr",
                         "Zürich", "café", "東京", "ΑΘΗΝΑ", "x",
                         "Acme", "É", "Ω"])
_alias = st.one_of(
    st.lists(_word, min_size=1, max_size=4),   # the matched lengths
    st.lists(_word, min_size=5, max_size=7),   # skipped: too long
).flatmap(lambda ws: st.sampled_from([" ", "  ", "\t", " \u3000 "]).map(
    lambda sep: sep.join(ws)))
_blank = st.sampled_from(["", " ", "  \t "])  # skipped: no token
_dict_rows = st.lists(st.tuples(st.one_of(_alias, _alias, _alias, _blank),
                                st.sampled_from(ENT_CLASSES)), max_size=40)


@settings(max_examples=300, deadline=None)
@given(_dict_rows)
def test_build_gazetteer_equals_per_alias_reference(rows):
    cd = pd.DataFrame(
        {"alias": pd.Series([a for a, _ in rows], dtype=object),
         "ent_class": pd.Series([c for _, c in rows], dtype=object)})
    _assert_same_gazetteer(build_gazetteer(cd),
                           _build_gazetteer_reference(cd))


def test_build_gazetteer_equals_reference_on_fixture_dicts(unit_fixture_dir):
    import os

    from kgpipe.fixtures.generator import materialize

    for fx in (unit_fixture_dir, materialize("sf0.01")):
        cd = pd.read_parquet(os.path.join(fx, "candidate_dict.parquet"))
        _assert_same_gazetteer(build_gazetteer(cd),
                               _build_gazetteer_reference(cd))


def test_build_gazetteer_last_class_wins():
    cd = pd.DataFrame({"alias": ["acme", "acme corp", "acme", "acme"],
                       "ent_class": ["ORG", "ORG", "PER", "PLACE"]})
    gaz = build_gazetteer(cd)
    assert sorted(gaz) == [1, 2] and gaz[1][0].size == 1
    assert ENT_CLASSES[gaz[1][1][0]] == "PLACE"


# -- gazetteer hits: byte hash == the keyed-siphash reference --------------

_text_word = st.sampled_from(["acme", "ACME", "Corp", "corp", "alice",
                              "port", "Zephyr", "zürich", "ZÜRICH", "café",
                              "ΑΘΗΝΑ", "αθηνα", "x", ",", ".", "é", "É",
                              "ω", "Ω"])
_text_sep = st.sampled_from([" ", "  ", "\t", "\u00a0", "\u2003", ""])
_text_row = st.one_of(
    st.none(), st.just(""),
    st.lists(st.tuples(_text_word, _text_sep), max_size=12).map(
        lambda ps: "".join(w + sep for w, sep in ps)))


def _hits(gaz, tok_h, row_id):
    return {ln: (pos.tolist(), cls.tolist())
            for ln, pos, cls in gazetteer_hits(tok_h, row_id, gaz)}


@settings(max_examples=300, deadline=None)
@given(_dict_rows, st.lists(_text_row, max_size=8))
def test_gazetteer_hits_equal_siphash_reference(rows, texts):
    """Same hit positions and classes as keyed siphash over the lowercased
    string tokens — so a trained model's gazetteer features, and with them
    its weights, do not change with the hash."""
    from reference_plans import tokenize_batch as tokenize_batch_reference

    cd = pd.DataFrame(
        {"alias": pd.Series([a for a, _ in rows], dtype=object),
         "ent_class": pd.Series([c for _, c in rows], dtype=object)})
    texts = pd.Series(texts, dtype=object)
    toks, _s, _e, row_id, _rl = tokenize_batch_reference(texts)
    want = _hits(_build_gazetteer_reference(cd, _siphash),
                 _siphash([t.lower() for t in toks]), row_id)
    t = token_table(texts)
    assert _hits(build_gazetteer(cd), t.tok_h, t.row_id) == want


# small integer scores make ties between previous tags common
_score = st.sampled_from([-2.0, -1.0, 0.0, 0.5, 1.0, 2.0, NEG])


@settings(max_examples=300, deadline=None)
@given(st.integers(1, 6), st.integers(1, 7), st.data(),
       st.sampled_from([np.float32, np.float64]), st.booleans())
def test_viterbi_equals_argmax_reference(n_rows, lmax, data, dtype, bio):
    """The tag-major DP returns the tags of the per-step argmax over a
    (R, cur, prev) candidate tensor, ties included, for the hand-set BIO
    transitions and for arbitrary (trained-model-like) ones."""
    from reference_plans import viterbi_reference

    em = np.array(data.draw(st.lists(
        _score, min_size=n_rows * lmax * N_TAGS,
        max_size=n_rows * lmax * N_TAGS)), np.float32).reshape(
            n_rows, lmax, N_TAGS)
    trans = (build_transitions() if bio else np.array(data.draw(st.lists(
        _score, min_size=N_TAGS * N_TAGS, max_size=N_TAGS * N_TAGS)),
        np.float32).reshape(N_TAGS, N_TAGS)).astype(dtype)
    got = viterbi_batch(em, trans)
    assert got.dtype == np.int8
    np.testing.assert_array_equal(got, viterbi_reference(em, trans))
