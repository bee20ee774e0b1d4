"""Property-based gates for the two lowest-level invariants everything
else builds on: tokenizer offsets and the portable cross-engine hash."""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from kgpipe.functions.tokenize import tokenize_batch

# texts over a broad printable alphabet incl. unicode, whitespace runs,
# punctuation — the tokenizer must never emit an offset that doesn't
# round-trip to its token
_text = st.text(
    alphabet=st.characters(codec="utf-8",
                           exclude_categories=("Cs",)),
    max_size=120,
)


@settings(max_examples=200, deadline=None)
@given(st.lists(_text, max_size=8))
def test_tokenizer_offsets_roundtrip(texts):
    s = pd.Series(texts, dtype="object")
    toks, starts, ends, row_id, row_lengths = tokenize_batch(s)
    # the tokenizer normalizes the newline sentinel to a space first
    vals = s.fillna("").astype(str).str.replace("\n", " ", regex=False)
    assert len(toks) == len(starts) == len(ends) == len(row_id)
    assert int(row_lengths.sum()) == len(toks)
    assert row_lengths.size == len(texts)
    for tok, a, b, r in zip(toks, starts, ends, row_id):
        assert vals.iloc[int(r)][int(a):int(b)] == tok
    # tokens within a row are ordered and non-overlapping
    if len(toks):
        order = np.lexsort((starts, row_id))
        assert (order == np.arange(len(toks))).all()
        same = row_id[1:] == row_id[:-1]
        assert (starts[1:][same] >= ends[:-1][same]).all()


def test_portable_hash_matches_duckdb_on_random_strings(spark):
    """The 48-bit md5-prefix hash must be bit-identical across engines —
    every dedup/LSH oracle comparison rests on this."""
    import duckdb

    from pyspark.sql import functions as F

    from kgpipe.queries.textops import portable_hash_spark, portable_hash_sql

    rng = np.random.default_rng(11)
    alphabet = list("abcdefghijklmnopqrstuvwxyz0123456789 _-ü€")
    strings = ["".join(rng.choice(alphabet, size=rng.integers(0, 40)))
               for _ in range(300)]
    sdf = spark.createDataFrame([(s,) for s in strings], "s string")
    got = [r.h for r in
           sdf.select(portable_hash_spark(F.col("s")).alias("h"))
           .collect()]
    con = duckdb.connect()
    want = [
        con.execute(f"SELECT {portable_hash_sql('?')}", [s]).fetchone()[0]
        for s in strings
    ]
    assert got == want


# a tiny fixed gazetteer; texts are RANDOM, so the property exercises
# every miss/partial-overlap/boundary shape around these aliases
_GAZ_DICT = pd.DataFrame({
    "alias": ["acme corp", "acme", "bob lee", "zurich"],
    "entity_id": ["org0", "org0", "per0", "loc0"],
    "prior": [0.9, 0.8, 0.9, 0.9],
    "ent_class": ["ORG", "PER", "PER", "PLACE"],
})

_words = st.lists(
    st.sampled_from(["acme", "corp", "bob", "lee", "zurich", "the",
                     "at", "works", "x1", "--", "ACME", "Corp"]),
    max_size=12,
)


@settings(max_examples=150, deadline=None)
@given(st.lists(_words.map(" ".join), max_size=6))
def test_labeler_span_invariants(texts):
    """Every span the gazetteer labeler emits must lie inside its text,
    align exactly on token boundaries of a dictionary alias (normalized),
    carry a known class, and never overlap a neighbor — the invariants
    extract_mentions / linking / the digest UDF all assume."""
    from kgpipe.operators.labeler import (
        build_gazetteer,
        build_transitions,
        label_texts,
    )
    from kgpipe.schemas import ENT_CLASSES

    aliases = {a for a in _GAZ_DICT["alias"]}
    s = pd.Series(texts, dtype="object")
    out = label_texts(s, build_gazetteer(_GAZ_DICT), build_transitions())
    assert len(out) == len(texts)
    for text, spans in zip(texts, out):
        prev_end = -1
        for (a, b, cls, score) in sorted(spans):
            assert 0 <= a < b <= len(text)
            assert cls in ENT_CLASSES
            surface = " ".join(text[a:b].lower().split())
            assert surface in aliases, (text, a, b, surface)
            # token-aligned: span edges touch whitespace or text edges
            assert a == 0 or text[a - 1] == " "
            assert b == len(text) or text[b] == " "
            assert a >= prev_end, "overlapping spans"
            prev_end = b


# --- fused == exploded on random adversarial corpora ------------------------
# The digest pairing (relations.pair_turns, fed hand-built spans through
# reference_plans.triples_from_spans) is the product's; the hand-built edge
# corpus (tests/test_relations_fused.py) pins known-tricky cases, this gate
# draws random span layouts — empty turns, adjacent spans, unlinked aliases
# between linked ones, predicate-phrase prefixes, turn-index gaps beyond the
# window — so future digest edits can't silently diverge from the exploded
# reference plan on a shape nobody hand-built.

_ALIASES = {"alice": ("E_alice", "PER"), "bob": ("E_bob", "PER"),
            "acme": ("E_acme", "ORG"), "widgetco": ("E_widget", "ORG")}
_UNLINKED = ["zzz", "qqq"]  # labeled spans, absent from the dictionary
_PREDS = {"works at": "works_at", "visited": "visited", "then": "then"}
_NOISE = ["lorem", "ipsum", "the"]

_item = st.one_of(
    st.sampled_from([("ent", a) for a in sorted(_ALIASES)]),
    st.sampled_from([("unl", w) for w in _UNLINKED]),
    st.sampled_from([("pred", p) for p in sorted(_PREDS)]),
    st.sampled_from([("noise", w) for w in _NOISE]),
)


@st.composite
def _random_corpus(draw):
    """(transcript_rows, span_rows): random turns with hand-placed spans."""
    t_rows, s_rows = [], []
    for ci in range(draw(st.integers(1, 3))):
        conv = f"pc{ci}"
        turn_idx = 0
        for _ in range(draw(st.integers(1, 6))):
            turn_idx += draw(st.integers(1, 5))  # gaps can exceed window=3
            items = draw(st.lists(_item, max_size=5))
            words, spans, pos = [], [], 0
            for kind, w in items:
                if kind in ("ent", "unl"):
                    ty = _ALIASES[w][1] if kind == "ent" else "MISC"
                    spans.append((pos, pos + len(w), ty, 1.0))
                words.append(w)
                pos += len(w) + 1
            t_rows.append((conv, turn_idx, "user", " ".join(words),
                           None, None))
            s_rows.append((conv, turn_idx,
                           [{"start": a, "end": b, "ent_type": ty,
                             "score": sc} for a, b, ty, sc in spans]))
    return t_rows, s_rows


@settings(max_examples=12, deadline=None)
@given(_random_corpus())
def test_fused_equals_exploded_on_random_corpora(spark, corpus):
    from kgpipe.operators.linker import dict_to_df, link_entities, top1_dict
    from kgpipe.operators.mentions import extract_mentions
    from reference_plans import extract_triples, triples_from_spans

    from kgpipe.schemas import TRANSCRIPTS

    t_rows, s_rows = corpus
    t = spark.createDataFrame(t_rows, schema=TRANSCRIPTS)
    sp = spark.createDataFrame(
        s_rows,
        schema="conv_id string, turn_idx int, spans array<struct<"
               "start:int,end:int,ent_type:string,score:float>>")
    labeled = t.join(sp, ["conv_id", "turn_idx"])
    cd = pd.DataFrame({
        "alias": sorted(_ALIASES),
        "entity_id": [_ALIASES[a][0] for a in sorted(_ALIASES)],
        "prior": [1.0] * len(_ALIASES),
        "ent_class": [_ALIASES[a][1] for a in sorted(_ALIASES)],
    })

    def tset(df):
        return {tuple(r) for r in df.select(
            "subj", "pred", "obj", "conv_id", "turn_idx", "conf").collect()}

    linked = link_entities(extract_mentions(labeled),
                           dict_to_df(spark, top1_dict(cd)),
                           k=1, ranked=False)
    ref = tset(extract_triples(spark, linked, window=3, chunk=None,
                               predicates=_PREDS))
    got = tset(triples_from_spans(spark, labeled, cd, window=3,
                                  chunk=None, predicates=_PREDS))
    assert got == ref


def test_minhash_permutations_actually_permute():
    """Regression pin for the degenerate-permutation bug: with the
    round-1 formula (x*a+b) mod 2^61-1 over a 48-bit hash and a < 2^13,
    the product NEVER wrapped, every 'permutation' was monotone in x, all
    8 minima picked the same argmin shingle, and banded LSH collapsed to
    ONE permutation (measured near-dup recall ~= J instead of
    1-(1-J^2)^bands; caught by bench_dedup.py). The fixed family
    ((x mod M)*a+b) mod M with M=2^31-1 must produce 8 DISTINCT orderings
    of a hash sample, none equal to the raw-hash ordering."""
    import hashlib

    from kgpipe.queries.textops import MINHASH_AB, MINHASH_M

    xs = [int(hashlib.md5(f"shingle {i}".encode()).hexdigest()[:12], 16)
          for i in range(64)]
    identity = tuple(sorted(range(len(xs)), key=lambda j: xs[j]))
    orders = []
    for a, b in MINHASH_AB:
        vals = [((x % MINHASH_M) * a + b) % MINHASH_M for x in xs]
        orders.append(tuple(sorted(range(len(xs)), key=lambda j: vals[j])))
        # every product must stay far inside BIGINT under ANSI checking
        assert max((x % MINHASH_M) * a + b for x in xs) < 2**52
    assert len(set(orders)) == len(MINHASH_AB), "correlated permutations"
    assert identity not in orders, "a permutation is monotone in the hash"
