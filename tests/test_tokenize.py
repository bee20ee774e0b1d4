import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st
from reference_plans import token_table_reference

from kgpipe.functions.tokenize import token_table, tokenize_batch


def test_offsets_roundtrip():
    texts = pd.Series([
        "Alice works at Acme Corp .",
        "",
        "  leading and  double  spaces here",
        "punct,and.symbols!x",
    ])
    toks, starts, ends, row_id, row_lengths = tokenize_batch(texts)
    for i, t in enumerate(toks):
        r = int(row_id[i])
        assert texts.iloc[r][starts[i]:ends[i]] == t
    assert int(row_lengths[1]) == 0
    assert sum(row_lengths) == len(toks)


def test_empty_and_null():
    texts = pd.Series([None, "", "x"])
    toks, starts, ends, row_id, row_lengths = tokenize_batch(texts)
    assert list(row_lengths) == [0, 0, 1]
    assert toks == ["x"]


def test_batch_order_independent():
    """Token offsets must not depend on batch composition."""
    a = pd.Series(["hello world", "foo bar baz"])
    b = pd.Series(["foo bar baz"])
    _, s_a, e_a, r_a, _ = tokenize_batch(a)
    _, s_b, e_b, _, _ = tokenize_batch(b)
    mask = r_a == 1
    assert np.array_equal(s_a[mask], s_b)
    assert np.array_equal(e_a[mask], e_b)


# -- the byte-level token table == the regex spec ---------------------------

# ASCII word/symbol bytes, every ASCII whitespace byte `\s` matches (incl.
# \x1c-\x1f), and non-ASCII: Latin-1, CJK, astral code points, Unicode
# whitespace of 2 and 3 UTF-8 bytes (U+00A0, U+2003, U+0085, U+3000,
# U+1680, U+2028) and upper-case letters, one whose lower() is longer
_chars = st.sampled_from(
    list("aZz09_~#.,!-'(\x00\x7f") + list(" \t\n\v\f\r\x1c\x1d\x1e\x1f")
    + ["é", "É", "ß", "東", "Ω", "\U0001F389", "\U00010400", "\u0130",
       " ", " ", "\u0085", "　", "\u1680", "\u2028"])
_row = st.one_of(
    st.none(), st.just(""), st.just(" \t "),
    st.text(alphabet=st.sampled_from(list("abAB _.")), max_size=30),
    st.text(alphabet=_chars, max_size=40),
    st.text(alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)),
            max_size=40))


@settings(max_examples=400, deadline=None)
@given(st.lists(_row, max_size=10))
def test_token_table_equals_regex_oracle(rows):
    texts = pd.Series(rows, dtype=object)
    want = token_table_reference(texts)
    got = tokenize_batch(texts)
    assert got[0] == want.toks
    for g, w in zip(got[1:], want[:4]):
        assert g.dtype == np.int64
        np.testing.assert_array_equal(g, w)
    # offsets, rows, the byte hash and capitalization: no strings made
    t = token_table(texts)
    assert t.toks is None
    for g, w in zip(t[:6], want[:6]):
        assert g.dtype == w.dtype
        np.testing.assert_array_equal(g, w)


def test_token_hash_is_case_insensitive_and_spreads():
    t = token_table(pd.Series(["Acme ACME acme acmf a b", "A",
                               "abcdefgh1 abcdefgh2 ABCDEFGHIJKLMNOPqr",
                               "abcdefghijklmnopQR"]))
    h = t.tok_h
    assert h[0] == h[1] == h[2] != h[3]
    assert h[4] == h[6] != h[5]
    # bytes past the first 8-byte word count, and are lowercased too
    assert h[7] != h[8] and h[9] == h[10]
    # short tokens use the high bits too (the fold multiplies them)
    assert (h >> np.uint64(32)).astype(bool).all()
