"""CRF-style sequence labeling for mention/span detection (SURVEY.md A5).

The reference labels each document's token sequence with a linear-chain CRF
(python-crfsuite; SURVEY.md §2C steps 4-6, [R-MEM]). The graft re-expresses
the same decode as a **vectorized linear sequence model + Viterbi** inside a
scalar Arrow/pandas UDF (BASELINE.json input_hint: "vectorized pandas/Arrow
UDFs (no per-row Python)"):

* Emission scores are built batch-wide in numpy/pandas: gazetteer n-gram
  features (token n-gram is a known alias of class c -> boost B-c at the
  match start and I-c over the continuation), plus generic shape features
  (capitalization, digit-shape) weighted too low to open a span on their own.
* Transition scores are a dense (T, T) matrix enforcing BIO consistency
  (O->I-*, B-x->I-y, I-x->I-y are -inf).
* Decode is Viterbi, vectorized over the *batch* dimension: all turns in an
  Arrow batch are padded into an (R, L, T) emission tensor and the DP runs
  once per timestep over (R, T, T) — no per-row Python loop.

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

from kgpipe.functions.tokenize import tokenize_batch
from kgpipe.schemas import ENT_CLASSES, SPANS_ARRAY, TAGS

N_TAGS = len(TAGS)
_O = 0
_B = {c: 1 + 2 * i for i, c in enumerate(ENT_CLASSES)}  # B-c tag index
_I = {c: 2 + 2 * i for i, c in enumerate(ENT_CLASSES)}  # I-c tag index

W_GAZ = 4.0       # per-token boost for a gazetteer n-gram match
W_SHAPE = 0.2     # capitalization / shape prior (< O baseline: never opens
W_O = 0.5         # a span alone)
NEG = -1e9
MAX_ALIAS_TOKENS = 4


def build_transitions() -> np.ndarray:
    """BIO-consistent transition matrix (additive log-domain scores)."""
    t = np.zeros((N_TAGS, N_TAGS), dtype=np.float32)
    for c in ENT_CLASSES:
        i_c = _I[c]
        # only B-c or I-c may precede I-c
        t[:, i_c] = NEG
        t[_B[c], i_c] = 0.0
        t[i_c, i_c] = 0.0
    return t


_FNV = np.uint64(1099511628211)


def _fold_hashes(tok_h: np.ndarray, ln: int, limit: int) -> np.ndarray:
    """Combined hash of every ``ln``-gram window: h = ((h0*P)+h1)*P+... —
    pure uint64 vector ops, wraparound multiply, zero string allocation."""
    with np.errstate(over="ignore"):
        h = tok_h[:limit].copy()
        for k in range(1, ln):
            h = h * _FNV + tok_h[k:limit + k]
    return h


def build_gazetteer(candidate_dict: pd.DataFrame) -> dict[int, tuple]:
    """normalized alias (by token length) -> (sorted uint64 hash keys,
    aligned class indices).

    Aliases are hashed with the SAME token-hash + fold the batch matcher
    uses (pd.util.hash_array is keyed siphash — deterministic across
    processes), so matching is binary search over an int array instead of
    an object-string hash map. Hash collisions can only ADD a spurious
    candidate span; the downstream linker join re-checks the surface
    against the real alias, so precision is unaffected (and at 2^64 the
    collision odds are negligible anyway).

    Built batch-wide: ONE hash_array call over every alias token (a call
    per alias costs ~250 us), one ``_fold_hashes`` per token length, and a
    duplicate alias keeps its LAST row's class. Aliases of zero or more
    than MAX_ALIAS_TOKENS tokens are skipped.
    """
    cls_idx = {c: i for i, c in enumerate(ENT_CLASSES)}
    toks = candidate_dict["alias"].str.split()
    n_tok = toks.str.len().to_numpy()
    keep = (n_tok >= 1) & (n_tok <= MAX_ALIAS_TOKENS)
    cls = np.array([cls_idx[c] for c in candidate_dict["ent_class"][keep]],
                   dtype=np.int8)
    n_tok = n_tok[keep].astype(np.int64)
    tok_h = pd.util.hash_array(
        np.array([t for ts in toks[keep] for t in ts], dtype=object))
    first = np.zeros(n_tok.size, np.int64)
    np.cumsum(n_tok[:-1], out=first[1:])
    gaz: dict[int, tuple] = {}
    for ln in pd.unique(n_tok):
        sel = np.flatnonzero(n_tok == ln)
        win = (first[sel, None] + np.arange(ln)).ravel()  # contiguous group
        h = _fold_hashes(tok_h[win], ln, win.size - ln + 1)[::ln]
        keys, last = np.unique(h[::-1], return_index=True)
        gaz[int(ln)] = (keys, cls[sel][::-1][last])
    return gaz


def _label_core(texts: pd.Series, gaz: dict[int, dict[str, int]],
                trans: np.ndarray):
    """Batch body: text -> flat span arrays (rows_of, start, end, cls_idx).

    Rows without a single gazetteer hit are provably all-O (the shape prior
    W_SHAPE < the O baseline W_O, so only gazetteer emissions can open a
    span) — they skip the Viterbi DP entirely; the padded tensors cover
    only hit-bearing rows.
    """
    toks, starts, ends, row_id, row_lengths = tokenize_batch(texts)
    n_tok = len(toks)
    n_rows = len(texts)
    nothing = (np.empty(0, np.int64),) * 4
    if n_tok == 0:
        return nothing + (n_rows,)

    tok_series = pd.Series(toks, dtype="object")
    norm_np = tok_series.str.lower().to_numpy()
    # one keyed-siphash pass over the batch tokens; every n-gram compare
    # after this is pure uint64 arithmetic (memory-light — the previous
    # np.char string-concat matcher saturated memory bandwidth with 32
    # concurrent workers and flattened core-count scaling)
    tok_h = pd.util.hash_array(norm_np)

    # --- emissions ---------------------------------------------------------
    em = np.zeros((n_tok, N_TAGS), dtype=np.float32)
    em[:, _O] = W_O

    # shape features: capitalized token -> weak prior on all B-*
    first_char = tok_series.str[:1]
    is_cap = first_char.str.isupper().fillna(False).to_numpy(dtype=bool)
    for c in ENT_CLASSES:
        em[is_cap, _B[c]] += W_SHAPE

    # gazetteer n-gram features: fold window hashes, binary-search the
    # sorted alias-hash table — no string allocation, no object hash map
    b_tag_of_cls = np.array([_B[c] for c in ENT_CLASSES], dtype=np.int64)
    i_tag_of_cls = np.array([_I[c] for c in ENT_CLASSES], dtype=np.int64)
    row_has_hit = np.zeros(n_rows, dtype=bool)
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
        if hit_pos.size == 0:
            continue
        row_has_hit[row_id[hit_pos]] = True
        hit_cls = vals[pos_c[hit_pos]].astype(np.int64)
        np.add.at(em, (hit_pos, b_tag_of_cls[hit_cls]), W_GAZ)
        for off in range(1, ln):
            np.add.at(em, (hit_pos + off, i_tag_of_cls[hit_cls]), W_GAZ)

    if not row_has_hit.any():
        return (np.empty(0, np.int64),) * 4 + (n_rows,)

    # --- subset to hit-bearing rows, pad to (R, L, T), batch Viterbi -------
    sel = np.flatnonzero(row_has_hit)
    tok_mask = row_has_hit[row_id]
    em = em[tok_mask]
    starts = np.asarray(starts)[tok_mask]
    ends = np.asarray(ends)[tok_mask]
    row_id = np.searchsorted(sel, row_id[tok_mask])  # compact row ids
    row_lengths = row_lengths[sel]
    n_tok = int(tok_mask.sum())
    n_rows_sub = sel.size

    lmax = int(row_lengths.max())
    row_start = np.zeros(n_rows_sub, np.int64)
    np.cumsum(row_lengths[:-1], out=row_start[1:])
    pos_in_row = np.arange(n_tok) - row_start[row_id]

    em_pad = np.full((n_rows_sub, lmax, N_TAGS), NEG, dtype=np.float32)
    em_pad[row_id, pos_in_row] = em
    # padding steps: force O at zero cost so they never affect real scores
    pad_mask = np.arange(lmax)[None, :] >= row_lengths[:, None]
    em_pad[pad_mask] = np.array([0.0] + [NEG] * (N_TAGS - 1), dtype=np.float32)

    tags_pad = viterbi_batch(em_pad, trans)

    flat = tags_pad[row_id, pos_in_row].astype(np.int64)  # (n_tok,)
    b_pos, s_char, e_char, cls_i = bio_flat_to_spans(flat, starts, ends)
    if not b_pos.size:
        return (np.empty(0, np.int64),) * 4 + (n_rows,)
    rows_of = sel[row_id[b_pos]]  # back to original row ordinals
    return rows_of, s_char, e_char, cls_i, n_rows


def viterbi_batch(em_pad: np.ndarray, trans: np.ndarray) -> np.ndarray:
    """Batched Viterbi decode: (R, L, T) emissions + (T, T) transitions ->
    (R, L) int8 tags. The DP runs once per timestep over the whole batch
    (no per-row Python). Padding rows must carry O-only emissions (the
    caller sets them up) so they never affect real scores. Shared by the
    gazetteer labeler and the trained perceptron (operators/train.py)."""
    n_rows_sub, lmax, _ = em_pad.shape
    # start constraint: I-* cannot start a sequence
    start_pen = np.zeros(N_TAGS, dtype=np.float32)
    for c in ENT_CLASSES:
        start_pen[_I[c]] = NEG

    score = em_pad[:, 0, :] + start_pen[None, :]
    back = np.zeros((n_rows_sub, lmax, N_TAGS), dtype=np.int8)
    # (cur, prev) layout so the per-step argmax scans the CONTIGUOUS last
    # axis — measured 10-20% faster than argmax(axis=1) over the strided
    # (R, prev, cur) form, with identical results (the prev axis is
    # scanned in the same ascending order, so argmax tie-breaks agree)
    transT = np.ascontiguousarray(trans.T)
    for t in range(1, lmax):
        cand = score[:, None, :] + transT[None, :, :]  # (R, cur, prev)
        best_prev = cand.argmax(axis=2)
        score = np.take_along_axis(
            cand, best_prev[:, :, None], axis=2)[:, :, 0]
        score = score + em_pad[:, t, :]
        back[:, t, :] = best_prev

    tags_pad = np.zeros((n_rows_sub, lmax), dtype=np.int8)
    tags_pad[:, lmax - 1] = score.argmax(axis=1)
    for t in range(lmax - 1, 0, -1):
        tags_pad[:, t - 1] = np.take_along_axis(
            back[:, t, :], tags_pad[:, t, None].astype(np.int64), axis=1)[:, 0]
    return tags_pad


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


def label_texts(texts: pd.Series, gaz: dict[int, dict[str, int]],
                trans: np.ndarray) -> pd.Series:
    """text -> list[(start, end, ent_type, score)] per row (test surface)."""
    rows_of, s_char, e_char, cls_i, n_rows = _label_core(texts, gaz, trans)
    out_lists: list[list[tuple]] = [[] for _ in range(n_rows)]
    for r, s, e, c in zip(rows_of.tolist(), s_char.tolist(),
                          e_char.tolist(), cls_i.tolist()):
        out_lists[r].append((s, e, ENT_CLASSES[c], 1.0))
    return pd.Series(out_lists, index=texts.index)


def label_texts_packed(texts: pd.Series, gaz: dict[int, dict[str, int]],
                       trans: np.ndarray) -> pd.Series:
    """text -> 'start:end:cls start:end:cls ...' per row ('' = no spans).

    The packed-string form exists because Arrow-converting a Series of
    Python list-of-tuples costs more CPU than the labeling itself; one
    short string per row crosses the Arrow boundary nearly for free and
    the JVM re-expands it with codegen'd split/transform (see
    label_transcripts).
    """
    rows_of, s_char, e_char, cls_i, n_rows = _label_core(texts, gaz, trans)
    parts: list[list[str]] = [[] for _ in range(n_rows)]
    for r, s, e, c in zip(rows_of.tolist(), s_char.tolist(),
                          e_char.tolist(), cls_i.tolist()):
        parts[r].append(f"{s}:{e}:{c}")
    return pd.Series([" ".join(p) for p in parts], index=texts.index)


def label_transcripts(spark: SparkSession, transcripts: DataFrame,
                      candidate_dict: pd.DataFrame) -> DataFrame:
    """transcripts -> + spans column (array<struct<start,end,ent_type,score>>).

    The scalar pandas UDF (gazetteer shipped as a Spark broadcast) emits
    packed span strings; the struct array is rebuilt JVM-side with
    whole-stage-codegen'd split/transform — identical schema and values
    to a direct SPANS_ARRAY UDF over ``label_texts`` (tests pin both
    equal)."""
    bc = spark.sparkContext.broadcast(
        (build_gazetteer(candidate_dict), build_transitions()))

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
