"""CRF-style sequence labeling for mention/span detection (SURVEY.md A5).

The reference labels each document's token sequence with a linear-chain CRF
(python-crfsuite; SURVEY.md §2C steps 4-6, [R-MEM]). The graft re-expresses
the same decode as a **vectorized linear sequence model + Viterbi** inside a
scalar Arrow/pandas UDF (BASELINE.json input_hint: "vectorized pandas/Arrow
UDFs (no per-row Python)").

There is ONE decode (``decode_batch``) with two sets of emission weights:

* **hand-set** (``model=None``): gazetteer n-gram features (token n-gram is
  a known alias of class c -> boost B-c at the match start and I-c over the
  continuation), plus generic shape features (capitalization) weighted too
  low to open a span on their own; rows without a gazetteer hit skip the DP.
* **learned** (a ``TrainedLabeler``, operators/train.py): hashed sparse
  feature weights fit by the averaged structured perceptron, the gazetteer
  hits among them as features.

Both pad into an (R, L, T) emission tensor and run ``viterbi_batch``,
vectorized over the *batch* dimension, with (T, T) transitions enforcing BIO
consistency (O->I-*, B-x->I-y, I-x->I-y are -inf). ``label_transcripts`` is
the one Spark labeler for both, ``spread_for`` the one rebalance rule.

Because labeling is per-turn (scalar UDF), no grouping by conv_id is needed
at this stage at all — a 10^6-turn hot conversation costs nothing extra here
(SURVEY.md §4.2 row 1); skew only matters at the later grouped stages, which
salt.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgpipe.functions.tokenize import TokenTable, hash_strings, token_table
from kgpipe.schemas import ENT_CLASSES, SPANS_ARRAY, TAGS

N_TAGS = len(TAGS)
_O = 0
_B = {c: 1 + 2 * i for i, c in enumerate(ENT_CLASSES)}  # B-c tag index
_I = {c: 2 + 2 * i for i, c in enumerate(ENT_CLASSES)}  # I-c tag index
_B_OF_CLS = np.array([_B[c] for c in ENT_CLASSES], dtype=np.int64)
_I_OF_CLS = np.array([_I[c] for c in ENT_CLASSES], dtype=np.int64)

W_GAZ = 4.0       # per-token boost for a gazetteer n-gram match
W_SHAPE = 0.2     # capitalization / shape prior (< O baseline: never opens
W_O = 0.5         # a span alone)
NEG = -1e9
MAX_ALIAS_TOKENS = 4

# token length -> (sorted uint64 alias-hash keys, aligned int8 class indices)
Gazetteer = dict[int, tuple[np.ndarray, np.ndarray]]


def build_transitions(learned: np.ndarray | None = None) -> np.ndarray:
    """BIO-consistent transition matrix (additive log-domain scores):
    zeros, or a copy of the ``learned`` scores, with every move BIO
    forbids at NEG."""
    t = (np.zeros((N_TAGS, N_TAGS), np.float32) if learned is None
         else np.array(learned, np.float32))
    for c in ENT_CLASSES:
        # only B-c or I-c may precede I-c
        ok = [_B[c], _I[c]]
        keep = t[ok, _I[c]]
        t[:, _I[c]] = NEG
        t[ok, _I[c]] = keep
    return t


def transitions_for(model=None) -> np.ndarray:
    """The transitions a weight set decodes with: the hand-set BIO matrix
    for the gazetteer (``model=None``), a ``TrainedLabeler``'s learned
    scores under the same mask."""
    return build_transitions(None if model is None else model.trans)


_FNV = np.uint64(1099511628211)


def _fold_hashes(tok_h: np.ndarray, ln: int, limit: int) -> np.ndarray:
    """Combined hash of every ``ln``-gram window: h = ((h0*P)+h1)*P+... —
    pure uint64 vector ops, wraparound multiply, zero string allocation."""
    with np.errstate(over="ignore"):
        h = tok_h[:limit].copy()
        for k in range(1, ln):
            h = h * _FNV + tok_h[k:limit + k]
    return h


def build_gazetteer(candidate_dict: pd.DataFrame) -> Gazetteer:
    """normalized alias (by token length) -> (sorted uint64 hash keys,
    aligned class indices).

    Alias tokens (whitespace-split, ``str.lower()``-ed) are hashed with
    the SAME byte kernel and fold the batch matcher uses
    (``tokenize.hash_token_bytes``, deterministic across processes), so
    matching is binary search over an int array instead of an
    object-string hash map. Hash collisions can only ADD a spurious
    candidate span; the downstream linker join re-checks the surface
    against the real alias, so precision is unaffected (and at 2^64 the
    collision odds are negligible anyway).

    Built batch-wide: ONE ``hash_strings`` call over every alias token (a
    call per alias costs far more), one ``_fold_hashes`` per token length,
    and a duplicate alias keeps its LAST row's class. Aliases of zero or
    more than MAX_ALIAS_TOKENS tokens are skipped.
    """
    cls_idx = {c: i for i, c in enumerate(ENT_CLASSES)}
    toks = candidate_dict["alias"].str.split()
    n_tok = toks.str.len().to_numpy()
    keep = (n_tok >= 1) & (n_tok <= MAX_ALIAS_TOKENS)
    cls = np.array([cls_idx[c] for c in candidate_dict["ent_class"][keep]],
                   dtype=np.int8)
    n_tok = n_tok[keep].astype(np.int64)
    tok_h = hash_strings([t.lower() for ts in toks[keep] for t in ts])
    first = np.zeros(n_tok.size, np.int64)
    np.cumsum(n_tok[:-1], out=first[1:])
    gaz: Gazetteer = {}
    for ln in pd.unique(n_tok):
        sel = np.flatnonzero(n_tok == ln)
        win = (first[sel, None] + np.arange(ln)).ravel()  # contiguous group
        h = _fold_hashes(tok_h[win], ln, win.size - ln + 1)[::ln]
        keys, last = np.unique(h[::-1], return_index=True)
        gaz[int(ln)] = (keys, cls[sel][::-1][last])
    return gaz


def gazetteer_hits(tok_h: np.ndarray, row_id: np.ndarray, gaz: Gazetteer):
    """Yields ``(ln, hit_pos, hit_cls)`` per alias length with a hit: the
    flat start positions of matching ``ln``-token windows (never crossing a
    row) and their class indices. Folded window hashes are binary-searched
    in the sorted alias-hash table — no string allocation."""
    n_tok = tok_h.size
    for ln, (keys, vals) in gaz.items():
        limit = n_tok - ln + 1
        if limit <= 0:
            continue
        h = _fold_hashes(tok_h, ln, limit)
        pos = np.searchsorted(keys, h)
        pos_c = np.minimum(pos, keys.size - 1)
        found = keys[pos_c] == h
        if ln > 1:
            found &= row_id[:limit] == row_id[ln - 1:]  # no row crossing
        hit_pos = np.flatnonzero(found)
        if hit_pos.size:
            yield ln, hit_pos, vals[pos_c[hit_pos]].astype(np.int64)


def _gazetteer_emissions(t: TokenTable, n_rows: int,
                         gaz: Gazetteer) -> tuple[np.ndarray, np.ndarray]:
    """Hand-weighted (n_tok, T) emissions, and which rows have a hit.

    Reads the token table's byte-level hashes and capitalization: no
    token string is made, and every n-gram compare is pure uint64
    arithmetic (memory-light — the previous np.char string-concat matcher
    saturated memory bandwidth with 32 concurrent workers and flattened
    core-count scaling)."""
    row_id = t.row_id
    em = np.zeros((t.tok_h.size, N_TAGS), dtype=np.float32)
    em[:, _O] = W_O
    # shape features: capitalized token -> weak prior on all B-*
    for c in ENT_CLASSES:
        em[t.is_cap, _B[c]] += W_SHAPE
    row_has_hit = np.zeros(n_rows, dtype=bool)
    for ln, hit_pos, hit_cls in gazetteer_hits(t.tok_h, row_id, gaz):
        row_has_hit[row_id[hit_pos]] = True
        np.add.at(em, (hit_pos, _B_OF_CLS[hit_cls]), W_GAZ)
        for off in range(1, ln):
            np.add.at(em, (hit_pos + off, _I_OF_CLS[hit_cls]), W_GAZ)
    return em, row_has_hit


def pad_rows(em: np.ndarray, row_id: np.ndarray,
             row_lengths: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Flat (n_tok, T) emissions of non-empty rows ``0..R-1`` -> (R, L, T)
    Viterbi input (padding forces O at zero cost) and token positions."""
    n_rows = row_lengths.size
    lmax = int(row_lengths.max())
    row_start = np.zeros(n_rows, np.int64)
    np.cumsum(row_lengths[:-1], out=row_start[1:])
    pos_in_row = np.arange(em.shape[0]) - row_start[row_id]
    em_pad = np.full((n_rows, lmax, N_TAGS), NEG, dtype=np.float32)
    em_pad[row_id, pos_in_row] = em
    pad_mask = np.arange(lmax)[None, :] >= row_lengths[:, None]
    em_pad[pad_mask] = np.array([0.0] + [NEG] * (N_TAGS - 1), dtype=np.float32)
    return em_pad, pos_in_row


def decode_batch(texts: pd.Series, gaz: Gazetteer, trans: np.ndarray,
                 model=None):
    """The one batch decode: tokenize -> emissions -> pad -> Viterbi ->
    ``(token_table(texts), tok_mask, tags)``: int64 tags of the decoded
    flat tokens (``tok_mask``; the rest are O).

    ``model is None``: hand-weighted gazetteer emissions; rows without a
    gazetteer hit are provably all-O (W_SHAPE < W_O, so only gazetteer
    emissions open a span) and skip the DP. A ``TrainedLabeler`` supplies
    learned emissions and every non-empty row is decoded."""
    if model is None:
        table = token_table(texts)
        em, decoded = _gazetteer_emissions(table, len(texts), gaz)
    else:
        em, table = model.emissions(texts, gaz)
        decoded = table.row_lengths > 0
    row_id, row_lengths = table.row_id, table.row_lengths
    tok_mask = decoded[row_id]
    rows = np.flatnonzero(decoded)
    if not rows.size:
        return table, tok_mask, np.empty(0, np.int64)
    rid = np.searchsorted(rows, row_id[tok_mask])  # compact row ids
    em_pad, pos_in_row = pad_rows(em[tok_mask], rid, row_lengths[rows])
    tags = viterbi_batch(em_pad, trans)[rid, pos_in_row].astype(np.int64)
    return table, tok_mask, tags


def viterbi_batch(em_pad: np.ndarray, trans: np.ndarray) -> np.ndarray:
    """Batched Viterbi decode: (R, L, T) emissions + (T, T) transitions ->
    (R, L) int8 tags. The DP runs once per timestep over the whole batch
    (no per-row Python). Padding steps must carry O-only emissions
    (``pad_rows`` sets them up) so they never affect real scores. Used by
    ``decode_batch`` for both weight sets and by perceptron training
    (operators/train.py), with that model's masked transitions.

    Scores are tag-major, (T, R) with the rows contiguous, and each step
    folds the T previous tags in ascending order with elementwise
    ``maximum``; a strictly greater candidate moves the backpointer, so
    ties keep the lowest previous tag, as an argmax over them does. Per
    10k-turn sf0.1 batch this is ~15 ms against ~37 ms for an argmax over
    a (R, T, T) candidate tensor per step; the tags are the same."""
    n_rows_sub, lmax, n_tags = em_pad.shape
    em = np.ascontiguousarray(em_pad.transpose(1, 2, 0))  # (L, T, R)
    # start constraint: I-* cannot start a sequence
    start_pen = np.zeros((n_tags, 1), dtype=np.float32)
    for c in ENT_CLASSES:
        start_pen[_I[c]] = NEG
    score = em[0] + start_pen
    back = np.zeros((lmax, n_tags, n_rows_sub), dtype=np.int8)
    to_cur = [np.ascontiguousarray(trans[p][:, None]) for p in range(n_tags)]
    for t in range(1, lmax):
        best = score[0] + to_cur[0]  # (cur, R) coming from tag 0
        for p in range(1, n_tags):
            cand = score[p] + to_cur[p]
            back[t][cand > best] = p
            np.maximum(best, cand, out=best)
        score = best + em[t]

    tags = np.zeros((lmax, n_rows_sub), dtype=np.int8)
    tags[lmax - 1] = score.argmax(axis=0)
    rows = np.arange(n_rows_sub)
    for t in range(lmax - 1, 0, -1):
        tags[t - 1] = back[t][tags[t], rows]
    return np.ascontiguousarray(tags.T)


def bio_flat_to_spans(flat: np.ndarray, starts: np.ndarray,
                      ends: np.ndarray):
    """Contiguous B/I runs -> char spans, vectorized.

    BIO transitions guarantee: I-c only follows B-c/I-c and never starts a
    row, so every span is exactly a B token plus its following same-class
    I run. Find B positions and run ends with array ops; Python touches
    only the per-span tuples (≈1-2 per turn, not per token).

    Returns ``(b_pos, s_char, e_char, cls_i)`` where ``b_pos`` indexes the
    flat token arrays (callers map to rows via their own ``row_id[b_pos]``;
    spans cannot cross rows because the Viterbi start constraint bans I-*
    at position 0 of every row).
    """
    n_tok = flat.size
    is_b = flat % 2 == 1  # B tags sit at odd indices
    is_i = (flat > 0) & ~is_b
    b_pos = np.flatnonzero(is_b)
    if not b_pos.size:
        return (np.empty(0, np.int64),) * 4
    # end of each span: last index of the consecutive-I run after its B
    idx = np.arange(n_tok)
    last_non_i = np.maximum.accumulate(np.where(~is_i, idx, -1))
    run_start = last_non_i + 1  # first index of the I-run containing idx
    # for a B at p, its run is the I-run starting at p+1 (if any)
    nxt = b_pos + 1
    has_run = (nxt < n_tok) & is_i[np.minimum(nxt, n_tok - 1)]
    # compute per-run ends: an I at j is a run end if j+1>=n or ~is_i[j+1]
    i_end = np.flatnonzero(is_i & np.r_[~is_i[1:], True])
    end_idx = b_pos.copy()
    if i_end.size:
        cand = np.searchsorted(i_end, nxt)
        cand_c = np.minimum(cand, i_end.size - 1)
        ok = has_run & (run_start[np.minimum(i_end[cand_c], n_tok - 1)] == nxt)
        end_idx = np.where(ok, i_end[cand_c], b_pos)
    cls_i = (flat[b_pos] - 1) // 2
    s_char = starts[b_pos].astype(np.int64)
    e_char = ends[end_idx].astype(np.int64)
    return b_pos, s_char, e_char, cls_i


def _spans_per_row(texts: pd.Series, gaz: Gazetteer, trans: np.ndarray,
                   model, fmt) -> list[list]:
    """``fmt(start, end, cls_idx)`` of every decoded span, grouped by row."""
    t, tok_mask, tags = decode_batch(texts, gaz, trans, model)
    b_pos, s_char, e_char, cls_i = bio_flat_to_spans(
        tags, t.starts[tok_mask], t.ends[tok_mask])
    out: list[list] = [[] for _ in range(len(texts))]
    for r, s, e, c in zip(t.row_id[tok_mask][b_pos].tolist(), s_char.tolist(),
                          e_char.tolist(), cls_i.tolist()):
        out[r].append(fmt(s, e, c))
    return out


def label_texts(texts: pd.Series, gaz: Gazetteer, trans: np.ndarray,
                model=None) -> pd.Series:
    """text -> list[(start, end, ent_type, score)] per row. ``model``: a
    ``TrainedLabeler`` whose emissions replace the hand-set weights
    (``trans`` is then ``transitions_for(model)``)."""
    return pd.Series(_spans_per_row(
        texts, gaz, trans, model,
        lambda s, e, c: (s, e, ENT_CLASSES[c], 1.0)), index=texts.index)


def label_texts_packed(texts: pd.Series, gaz: Gazetteer, trans: np.ndarray,
                       model=None) -> pd.Series:
    """text -> 'start:end:cls start:end:cls ...' per row ('' = no spans).

    Arrow-converting a Series of Python list-of-tuples costs more CPU than
    the labeling itself; one short string per row crosses the Arrow
    boundary nearly for free and the JVM re-expands it (label_transcripts).
    """
    return pd.Series([" ".join(p) for p in _spans_per_row(
        texts, gaz, trans, model, lambda s, e, c: f"{s}:{e}:{c}")],
        index=texts.index)


def spread_for(spark: SparkSession, df: DataFrame, model=None) -> DataFrame:
    """The labeler's input, spread over the cores for trained weights: that
    decode costs ~13x the gazetteer's per row, so an under-partitioned
    input serializes it (measured 40s single-core vs 3s spread at sf0.1).
    Not done in the scan, where it taxes every consumer (see
    pipeline.read_transcripts). A no-op without a model, so a streaming
    frame is never asked for its partitions."""
    if model is None:
        return df
    n = spark.sparkContext.defaultParallelism
    return df if df.rdd.getNumPartitions() >= n else df.repartition(n)


def label_transcripts(spark: SparkSession, transcripts: DataFrame,
                      candidate_dict: pd.DataFrame,
                      model=None) -> DataFrame:
    """transcripts -> + spans column (array<struct<start,end,ent_type,score>>).

    The scalar pandas UDF (gazetteer, transitions and the optional
    ``TrainedLabeler`` shipped as one Spark broadcast) emits packed span
    strings; the struct array is rebuilt JVM-side with
    whole-stage-codegen'd split/transform — identical schema and values
    to a direct SPANS_ARRAY UDF over ``label_texts`` for both weight sets
    (tests pin them equal)."""
    transcripts = spread_for(spark, transcripts, model)
    bc = spark.sparkContext.broadcast(
        (build_gazetteer(candidate_dict), transitions_for(model), model))

    @F.pandas_udf("string")
    def label_spans_packed(texts: pd.Series) -> pd.Series:
        return label_texts_packed(texts, *bc.value)

    classes = F.array(*[F.lit(c) for c in ENT_CLASSES])
    packed = transcripts.withColumn(
        "_spans_packed", label_spans_packed(F.col("text")))
    span_of = lambda p: F.struct(  # noqa: E731
        F.split(p, ":").getItem(0).cast("int").alias("start"),
        F.split(p, ":").getItem(1).cast("int").alias("end"),
        F.element_at(classes, F.split(p, ":").getItem(2).cast("int") + 1)
         .alias("ent_type"),
        F.lit(1.0).cast("float").alias("score"),
    )
    return (
        packed.withColumn(
            "spans",
            F.when(F.col("_spans_packed") == "",
                   F.array().cast(SPANS_ARRAY))
             .otherwise(F.transform(F.split("_spans_packed", " "), span_of)))
        .drop("_spans_packed")
    )
