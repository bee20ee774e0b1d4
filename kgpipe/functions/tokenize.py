"""Deterministic tokenizer with character offsets and token hashes,
vectorized over the UTF-8 bytes of a batch.

The reference tokenized per document with NLTK-style word tokenization
(SURVEY.md §2C step 2, [R-MEM]); the graft re-specifies tokenization as
the pure-regex spec ``TOKEN_PATTERN`` so it is reproducible offline.

``token_table`` implements that spec without a Python object per token.
One Arrow string array of the batch gives its UTF-8 bytes and offsets; a
256-entry class table marks word, whitespace, symbol and UTF-8
continuation bytes; token boundaries, character offsets, the token hash
(``hash_token_bytes``) and capitalization are array ops over those
bytes. The spec's word class is ASCII, so a non-ASCII character is a
one-character symbol token unless it is Unicode whitespace (``\\s``):
whitespace, ``str.lower()`` and ``isupper`` of non-ASCII characters are
decided once per distinct character of the batch. A property test pins
the table to the regex.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa

# word-ish runs (incl digits, '_', '~', '#') or single non-space symbol
TOKEN_PATTERN = r"[A-Za-z0-9_~#]+|[^\sA-Za-z0-9_~#]"

_SPACE, _WORD, _SYM, _CONT = 0, 1, 2, 3
# byte -> class: ASCII symbols and UTF-8 lead bytes are _SYM. The
# whitespace bytes are what ``\s`` matches below 0x80; non-ASCII
# whitespace is found per character.
_CLASS = np.full(256, _SYM, np.uint8)
_CLASS[0x80:0xC0] = _CONT
_CLASS[list(b"\t\n\v\f\r\x1c\x1d\x1e\x1f ")] = _SPACE
_CLASS[list(b"ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
            b"0123456789_~#")] = _WORD
# UTF-8 sequence length by lead byte
_SEQ_LEN = np.ones(256, np.int64)
_SEQ_LEN[0xC0:0xE0], _SEQ_LEN[0xE0:0xF0], _SEQ_LEN[0xF0:] = 2, 3, 4
# keeps the first n bytes of a little-endian word, n = 0..8
_KEEP = np.array([(1 << (8 * n)) - 1 for n in range(9)], np.uint64)
_X3F = np.uint64(0x3F3F3F3F3F3F3F3F)
_X25 = np.uint64(0x2525252525252525)
_X80 = np.uint64(0x8080808080808080)
_POLY = np.uint64(0x100000001B3)
_GOLDEN = np.uint64(0x9E3779B97F4A7C15)
_MIX1 = np.uint64(0xBF58476D1CE4E5B9)
_MIX2 = np.uint64(0x94D049BB133111EB)


class TokenTable(NamedTuple):
    """Flat per-token arrays of a batch, in row order."""

    starts: np.ndarray       # int64 char offset of the token in its row
    ends: np.ndarray         # int64, exclusive
    row_id: np.ndarray       # int64 row ordinal of the token
    row_lengths: np.ndarray  # int64 token count of each row
    tok_h: np.ndarray        # uint64 hash_token_bytes of the lowercased token
    is_cap: np.ndarray       # bool: ``tok[:1].isupper()``
    toks: list[str] | None = None  # the token strings, when asked for


def _word_view(buf: np.ndarray) -> np.ndarray:
    """The little-endian uint64 starting at each byte of ``buf`` (unaligned,
    over a zero-padded copy)."""
    pad = np.zeros(buf.size + 8, np.uint8)
    pad[:buf.size] = buf
    return np.ndarray((buf.size,), "<u8", pad, strides=(1,))


def _words(words: np.ndarray, at: np.ndarray, n: np.ndarray,
           ascii_lower: bool) -> np.ndarray:
    """The little-endian uint64 of the ``min(n, 8)`` bytes at each ``at``,
    zero-padded; ``ascii_lower`` ORs 0x20 into every A-Z byte (exact only
    for bytes < 0x80: each byte + 0x3F reaches bit 7 iff >= 'A', + 0x25
    iff > 'Z', and neither carries into the next byte)."""
    w = words[at] & _KEEP[np.minimum(n, 8)]
    if ascii_lower:
        w |= (((w + _X3F) ^ (w + _X25)) & _X80) >> np.uint64(2)
    return w


def hash_token_bytes(buf: np.ndarray, first: np.ndarray, lengths: np.ndarray,
                     ascii_lower: bool = False) -> np.ndarray:
    """uint64 hash of each non-empty token ``buf[first:first + length]``.

    The token's bytes are read as little-endian 8-byte words; their sum
    weighted by ``_POLY ** word_index`` (uint64 wrap, ``np.add.reduceat``
    over the words of tokens longer than 8 bytes), salted with the length,
    goes through the splitmix64 finalizer — a bijection, so tokens of up
    to 8 bytes never collide, and short tokens spread over all 64 bits.
    No Python object per token."""
    words = _word_view(buf)
    with np.errstate(over="ignore"):
        z = _words(words, first, lengths, ascii_lower)
        long = np.flatnonzero(lengths > 8)
        if long.size:  # their further words, k = 1, 2, ...
            n = (lengths[long] - 1) >> 3
            wfirst = np.cumsum(n) - n
            k = 1 + np.arange(int(n.sum())) - np.repeat(wfirst, n)
            pw = np.ones(int(n.max()) + 1, np.uint64)
            np.cumprod(np.full(pw.size - 1, _POLY), out=pw[1:])
            w = _words(words, np.repeat(first[long], n) + 8 * k,
                       np.repeat(lengths[long], n) - 8 * k, ascii_lower)
            z[long] += np.add.reduceat(w * pw[k], wfirst)
        z += lengths.astype(np.uint64) * _GOLDEN
        z ^= z >> np.uint64(30)
        z *= _MIX1
        z ^= z >> np.uint64(27)
        z *= _MIX2
        z ^= z >> np.uint64(31)
    return z


def _utf8(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """UTF-8 bytes and int64 offsets (rebased to 0) of a large_string array."""
    _, off_buf, data_buf = arr.buffers()
    off = np.frombuffer(off_buf, np.int64)[arr.offset:][:len(arr) + 1]
    if data_buf is None:
        return np.empty(0, np.uint8), off - off[0]
    return np.frombuffer(data_buf, np.uint8)[off[0]:off[-1]], off - off[0]


def hash_strings(strings) -> np.ndarray:
    """``hash_token_bytes`` of each non-empty string's UTF-8 bytes — one
    Arrow array, no per-string hashing call. Pass ``str.lower()``-ed
    tokens: ``token_table``'s ``tok_h`` is the hash of the lowercased
    token."""
    data, off = _utf8(pa.array(strings, pa.large_string()))
    return hash_token_bytes(data, off[:-1], np.diff(off))


def _non_ascii_chars(data: np.ndarray):
    """Each non-ASCII character of ``data`` — its lead byte position and
    UTF-8 length — and, per character, ``isspace()``, ``isupper()`` and the
    hash of its ``str.lower()``, each decided once per distinct character."""
    lead = np.flatnonzero(data >= 0xC0)
    n = _SEQ_LEN[data[lead]]
    keys, inv = np.unique(_word_view(data)[lead] & _KEEP[n],
                          return_inverse=True)
    # a UTF-8 sequence has no zero byte: the key's zero bytes are padding
    chars = [int(k).to_bytes(8, "little").rstrip(b"\0").decode()
             for k in keys]
    space = np.array([c.isspace() for c in chars], bool)[inv]
    upper = np.array([c.isupper() for c in chars], bool)[inv]
    h = hash_strings([c.lower() for c in chars])[inv]
    return lead, n, space, upper, h


def token_table(texts: pd.Series, strings: bool = False) -> TokenTable:
    """Tokenize a batch (``None`` rows are empty) into a ``TokenTable``;
    ``strings=True`` also fills ``toks``."""
    arr = pa.array(texts, pa.large_string())
    n_rows = len(arr)
    data, off = _utf8(arr)
    cls = _CLASS[data]
    non_ascii = bool(data.size) and data.max() >= 0x80
    if non_ascii:
        lead, n, space, upper, h = _non_ascii_chars(data)
        sp, sn = lead[space], n[space]  # every byte of a space is a space
        within = np.arange(sn.sum()) - np.repeat(np.cumsum(sn) - sn, sn)
        cls[np.repeat(sp, sn) + within] = _SPACE

    # a token starts (ends) at a token byte unless the byte before (after)
    # it in the same row joins it: the next byte of a word run, or a UTF-8
    # continuation byte
    is_tok = cls != _SPACE
    word = cls == _WORD
    joins = (word[1:] & word[:-1]) | (cls[1:] == _CONT)
    start, end = is_tok.copy(), is_tok.copy()
    start[1:] &= ~joins
    end[:-1] &= ~joins
    full = off[1:] > off[:-1]
    for edge, at in ((start, off[:-1][full]), (end, off[1:][full] - 1)):
        edge[at] = is_tok[at]
    tok_pos = np.flatnonzero(start)
    tok_end = np.flatnonzero(end) + 1
    lengths = tok_end - tok_pos

    row_id = np.searchsorted(off, tok_pos, side="right") - 1
    row_start = off[row_id]
    if non_ascii:  # char offsets: bytes minus the continuation bytes before
        cont = np.zeros(data.size + 1, np.int64)
        np.cumsum((data & 0xC0) == 0x80, out=cont[1:])
        row_start = row_start - cont[row_start]
        starts = tok_pos - cont[tok_pos] - row_start
        ends = tok_end - cont[tok_end] - row_start
    else:  # ASCII: byte offsets are char offsets
        starts = tok_pos - row_start
        ends = tok_end - row_start
    tok_h = hash_token_bytes(data, tok_pos, lengths, ascii_lower=True)
    first = data[tok_pos]
    is_cap = (first >= ord("A")) & (first <= ord("Z"))
    if non_ascii:  # a non-ASCII token is one character
        at = np.flatnonzero(first >= 0xC0)
        ch = np.searchsorted(lead, tok_pos[at])
        tok_h[at], is_cap[at] = h[ch], upper[ch]
    toks = None
    if strings:  # one Arrow array over the gathered token bytes
        toks = pa.LargeStringArray.from_buffers(
            lengths.size, pa.py_buffer(np.append(0, np.cumsum(lengths))),
            pa.py_buffer(data[is_tok])).to_pandas().tolist()
    row_lengths = np.bincount(row_id, minlength=n_rows).astype(np.int64)
    return TokenTable(starts, ends, row_id, row_lengths, tok_h, is_cap, toks)


def tokenize_batch(texts: pd.Series):
    """``(toks, starts, ends, row_id, row_lengths)`` of a batch: the token
    strings in batch order and the ``TokenTable`` arrays of the same name."""
    t = token_table(texts, strings=True)
    return t.toks, t.starts, t.ends, t.row_id, t.row_lengths
