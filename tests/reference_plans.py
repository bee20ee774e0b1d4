"""Reference plans for the triple rules, kept as test oracles.

``extract_triples`` is the window-over-exploded-mentions plan (with its
``predicates_df`` broadcast table) and ``canonicalize`` the broadcast-join
id rewrite plus groupBy dedup. The product builds every triple from turn
digests (kgpipe/operators/relations.py); these independent plans are what
the fused == reference gates compare it against. ``triples_from_spans``
runs the product's pairing (``pair_turns``) over a given ``spans``
column, so hand-built spans exercise the product code. ``_lev`` is the plain
Levenshtein DP the vectorized canon verify kernel
(kgpipe/operators/canon.py) is checked against.

``decode_spans`` (with its padding helper ``_pad``) is the separate
trained-labeler decode and ``silver_tags`` the per-row loop that re-derives
BIO tags from the dictionary labeler's char spans; the labeler's one batch
decode (kgpipe/operators/labeler.py ``decode_batch``) is checked against
them, and its ``viterbi_batch`` against ``viterbi_reference``.

``tokenize_batch`` is the regex tokenizer (one ``TOKEN_PATTERN`` pass over
the joined batch) and ``token_table_reference`` its token table, hashed
from the token strings; the byte-level tokenizer
(kgpipe/functions/tokenize.py ``token_table``) is checked against them.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kgpipe.functions.tokenize import TOKEN_PATTERN, TokenTable, hash_strings
from kgpipe.operators.labeler import (
    NEG,
    N_TAGS,
    _B,
    _I,
    bio_flat_to_spans,
    build_gazetteer,
    build_transitions,
    label_texts,
    transitions_for,
    viterbi_batch,
)
from kgpipe.operators.relations import (
    DIGEST_TYPE,
    digest_maps,
    pair_turns,
    triples_from_digests,
)
from kgpipe.operators.train import TrainedLabeler, _emissions, extract_features
from kgpipe.predicates import predicates_dict
from kgpipe.schemas import ENT_CLASSES

_TOKEN_RE = re.compile(TOKEN_PATTERN)
_SENTINEL = "\n"  # never appears in transcript text (single-line turns)


def _norm(col):
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def predicates_df(spark: SparkSession, predicates=None) -> DataFrame:
    """The (phrase, pred) table as a broadcast-ready DataFrame."""
    if isinstance(predicates, DataFrame):
        return predicates.select("phrase", "pred")
    d = predicates_dict(predicates)
    return spark.createDataFrame(
        list(d.items()), "phrase string, pred string"
    )


def triples_from_spans(spark: SparkSession, labeled: DataFrame,
                       candidate_dict, window: int = 3,
                       chunk: int | None = None,
                       predicates=None) -> DataFrame:
    """Raw triples from a GIVEN ``spans`` column (struct rows, e.g. hand
    built): the product's linking and pairing (``pair_turns``) in a
    second pandas UDF over (text, spans), then ``triples_from_digests``.
    The product labels inside its one digest UDF instead."""
    link_map, pred_map = digest_maps(candidate_dict, predicates)

    @F.pandas_udf(DIGEST_TYPE)
    def digest(texts: pd.Series, spans_col: pd.Series) -> pd.Series:
        spans = [None if row is None else
                 [(s["start"], s["end"], s["ent_type"]) for s in row]
                 for row in spans_col]
        return pair_turns(texts, spans, link_map, pred_map)

    d = labeled.select("conv_id", "turn_idx",
                       F.explode(digest("text", "spans")).alias("d"))
    return triples_from_digests(d.select("conv_id", "turn_idx", "d.*"),
                                window=window, chunk=chunk)


def extract_triples(spark: SparkSession, linked: DataFrame,
                    window: int = 3, chunk: int | None = 4096,
                    predicates=None) -> DataFrame:
    """linked mentions (with text col) -> raw triples.

    Returns (subj, pred, obj, conv_id, turn_idx, conf). Entity ids are
    pre-canonicalization (may include ``~v1`` variants).

    ``chunk`` is the skew treatment the north rule calls "salted by
    conv_id": a per-conversation window puts a 10^6-turn hot conversation
    into ONE task. With ``chunk=C`` the window partitions by
    ``(conv_id, turn_idx // C)`` — task size is bounded by C turns no
    matter how hot the key — and the only rows that lose their lag context
    (each chunk's first mention-row) are repaired by joining a tiny
    per-chunk summary (last mention of the previous chunk; the repair is
    exact because intra-turn pairs never cross a chunk boundary — chunking
    is by turn — and the cross-turn lookback ``window`` << C).
    ``chunk=None`` is the unchunked reference plan; equality between the
    two is pinned by tests/test_relations_chunk.py.

    Single-pass plan: ONE window (per-conversation lag over the explicit
    total order (turn_idx, span_start, span_end)) yields both cases —

    * intra-turn (prev mention in the SAME turn): the text strictly between
      the previous mention and this one is a predicate phrase
      -> (prev_entity, pred, entity), conf 1.0
    * cross-turn (this row is its turn's FIRST mention): the turn's prefix
      is a predicate phrase and the nearest preceding mention-bearing turn
      is within `window` -> that turn's last entity becomes the subject,
      conf 0.9 — lag(entity) at a turn's first mention IS exactly "last
      mention of the nearest prior turn", so no groupBy/self-join is needed

    ``predicates`` is any form kgpipe.predicates accepts (dict / pandas /
    DataFrame / None for the built-in default table) — the extractor is not
    tied to any particular phrase set.

    — so the whole stage is one shuffle on conv_id plus one broadcast join,
    replacing the previous three-branch union (two window shuffles + a
    groupBy + a join) whose repeated subtrees also forced the caller to
    persist `linked`. Semantics are pinned by the planted-gold e2e tests
    and the streaming-parity test (the keyed-state op mirrors this logic).
    """
    preds = predicates_df(spark, predicates)

    base = linked.select("conv_id", "turn_idx", "span_start", "span_end",
                         "entity_id", "text")
    if chunk is None:
        w = Window.partitionBy("conv_id").orderBy(
            "turn_idx", "span_start", "span_end")
        m = (base
             .withColumn("prev_turn", F.lag("turn_idx").over(w))
             .withColumn("prev_end", F.lag("span_end").over(w))
             .withColumn("prev_ent", F.lag("entity_id").over(w)))
    else:
        if window >= chunk:
            raise ValueError("chunk must exceed the turn window")
        base = base.withColumn(
            "_chunk", (F.col("turn_idx") / F.lit(chunk)).cast("long"))
        w = Window.partitionBy("conv_id", "_chunk").orderBy(
            "turn_idx", "span_start", "span_end")
        m = (base
             .withColumn("prev_turn", F.lag("turn_idx").over(w))
             .withColumn("prev_end", F.lag("span_end").over(w))
             .withColumn("prev_ent", F.lag("entity_id").over(w)))
        # repair each chunk's first mention-row: its true predecessor is
        # the LAST mention of the previous chunk (one summary row per
        # (conv, chunk) — a tiny shuffle). Only the cross-turn case can
        # span a boundary, so prev_end needs no repair.
        # ONE max_by over a (turn, ent) struct: taking turn and entity via
        # two separate max_by calls could pair them from different rows on
        # an ordering tie (unreachable today — one linked row per span —
        # but load-bearing if upstream ever links k>1)
        summary = (base.groupBy("conv_id", "_chunk").agg(
            F.max_by(F.struct(F.col("turn_idx").alias("b_turn"),
                              F.col("entity_id").alias("b_ent")),
                     F.struct("turn_idx", "span_start", "span_end"))
             .alias("_b"))
            .select("conv_id",
                    (F.col("_chunk") + 1).alias("_chunk"),
                    F.col("_b.b_turn").alias("b_turn"),
                    F.col("_b.b_ent").alias("b_ent")))
        m = (m.join(summary, ["conv_id", "_chunk"], "left")
             .withColumn("prev_turn",
                         F.coalesce("prev_turn", "b_turn"))
             .withColumn("prev_ent",
                         F.coalesce("prev_ent", "b_ent"))
             .drop("b_turn", "b_ent", "_chunk"))

    intra_case = F.col("prev_turn") == F.col("turn_idx")
    cross_case = (
        F.col("prev_turn").isNotNull()
        & (F.col("prev_turn") < F.col("turn_idx"))
        & (F.col("prev_turn") >= F.col("turn_idx") - window)
    )
    between = F.col("text").substr(
        F.col("prev_end") + 1, F.col("span_start") - F.col("prev_end"))
    prefix = F.col("text").substr(F.lit(1), F.col("span_start"))

    phrased = (
        m.withColumn(
            "phrase_norm",
            F.when(intra_case, _norm(between))
             .when(cross_case, _norm(prefix)))
        .filter(F.col("phrase_norm").isNotNull())
    )
    return (
        phrased.join(F.broadcast(preds),
                     F.col("phrase_norm") == preds["phrase"], "inner")
        .select(
            F.col("prev_ent").alias("subj"),
            F.col("pred"),
            F.col("entity_id").alias("obj"),
            "conv_id",
            "turn_idx",
            F.when(intra_case, F.lit(1.0)).otherwise(F.lit(0.9))
             .cast("float").alias("conf"),
        )
    )


def canonicalize(raw_triples: DataFrame, canon_map: DataFrame) -> DataFrame:
    """Rewrite subj/obj onto canonical ids and dedup (SURVEY.md A12).

    canon_map is tiny (derived from the dictionary) -> broadcast both joins;
    the triples side never shuffles for this stage.
    """
    cm = F.broadcast(canon_map)
    t = (
        raw_triples.join(cm.withColumnRenamed("entity_id", "subj")
                         .withColumnRenamed("canonical_id", "subj_canon"),
                         "subj", "left")
        .join(cm.withColumnRenamed("entity_id", "obj")
              .withColumnRenamed("canonical_id", "obj_canon"),
              "obj", "left")
        .select(
            F.coalesce("subj_canon", "subj").alias("subj"),
            "pred",
            F.coalesce("obj_canon", "obj").alias("obj"),
            "conv_id",
            "turn_idx",
            "conf",
        )
    )
    # groupBy + max(conf), NOT dropDuplicates: when the same triple arises
    # both intra-turn (conf 1.0) and cross-turn (conf 0.9), dropDuplicates
    # keeps a plan-dependent arbitrary row; max is deterministic across
    # partitionings and matches the fused path's per-turn dedup rule.
    return t.groupBy("subj", "pred", "obj", "conv_id", "turn_idx").agg(
        F.max("conf").alias("conf"))


def _lev(a: str, b: str, cap: int) -> int:
    """Plain Levenshtein (matches Spark's F.levenshtein), early-exit > cap."""
    la, lb = len(a), len(b)
    if abs(la - lb) > cap:
        return cap + 1
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        best = cur[0]
        for j in range(1, lb + 1):
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1,
                         prev[j - 1] + (a[i - 1] != b[j - 1]))
            best = min(best, cur[j])
        if best > cap:
            return cap + 1
        prev = cur
    return prev[lb]


def silver_tags(texts: pd.Series, candidate_dict: pd.DataFrame,
                tokenized) -> np.ndarray:
    """Auto-annotation (SURVEY §2C step 3): dictionary-labeler spans ->
    flat per-token BIO tag ids aligned with ``tokenized``."""
    toks, starts, ends, row_id, row_lengths = tokenized
    gaz = build_gazetteer(candidate_dict)
    spans = label_texts(texts, gaz, build_transitions())
    n_tok = len(toks)
    tags = np.zeros(n_tok, np.int64)
    row_start = np.zeros(len(texts), np.int64)
    np.cumsum(row_lengths[:-1], out=row_start[1:])
    cls_idx = {c: i for i, c in enumerate(ENT_CLASSES)}
    for r, row_spans in enumerate(spans):
        lo, n = row_start[r], row_lengths[r]
        if not row_spans or n == 0:
            continue
        rs, re_ = starts[lo:lo + n], ends[lo:lo + n]
        for (cs, ce, cls, _score) in row_spans:
            ci = cls_idx[cls]
            first = int(np.searchsorted(rs, cs))
            if first >= n or rs[first] != cs:
                continue
            tags[lo + first] = _B[ENT_CLASSES[ci]]
            j = first + 1
            while j < n and re_[j] <= ce:
                tags[lo + j] = _I[ENT_CLASSES[ci]]
                j += 1
    return tags


def _pad(em, row_id, row_lengths):
    n_rows = row_lengths.size
    lmax = int(row_lengths.max())
    row_start = np.zeros(n_rows, np.int64)
    np.cumsum(row_lengths[:-1], out=row_start[1:])
    pos_in_row = np.arange(em.shape[0]) - row_start[row_id]
    em_pad = np.full((n_rows, lmax, N_TAGS), NEG, np.float32)
    em_pad[row_id, pos_in_row] = em
    pad_mask = np.arange(lmax)[None, :] >= row_lengths[:, None]
    em_pad[pad_mask] = np.array([0.0] + [NEG] * (N_TAGS - 1), np.float32)
    return em_pad, pos_in_row


def decode_spans(texts: pd.Series, model: TrainedLabeler,
                 gaz: dict) -> pd.Series:
    """text -> list[(start, end, ent_type, score)] under the trained model."""
    texts = texts.reset_index(drop=True)
    (feat_pos, feat_idx), t = extract_features(
        texts, gaz, model.D, clusters=model.clusters)
    toks, starts, ends, row_id, row_lengths = (
        t.toks, t.starts, t.ends, t.row_id, t.row_lengths)
    out: list[list[tuple]] = [[] for _ in range(len(texts))]
    n_tok = len(toks)
    if n_tok == 0:
        return pd.Series(out, index=texts.index)
    keep = np.flatnonzero(row_lengths > 0)
    rid = np.searchsorted(keep, row_id)
    em = _emissions(feat_pos, feat_idx, model.W, n_tok)
    em_pad, pos_in_row = _pad(em, rid, row_lengths[keep])
    tags_pad = viterbi_batch(em_pad, transitions_for(model))
    flat = tags_pad[rid, pos_in_row].astype(np.int64)
    b_pos, s_char, e_char, cls_i = bio_flat_to_spans(
        flat, np.asarray(starts), np.asarray(ends))
    for bp, s, e, c in zip(b_pos.tolist(), s_char.tolist(),
                           e_char.tolist(), cls_i.tolist()):
        out[keep[rid[bp]]].append((int(s), int(e), ENT_CLASSES[c], 1.0))
    return pd.Series(out, index=texts.index)


def tokenize_batch(texts: pd.Series):
    """The regex tokenizer in one ``TOKEN_PATTERN`` pass over the joined
    batch — the oracle the byte-level ``kgpipe.functions.tokenize``
    ``token_table`` and ``tokenize_batch`` are checked against.

    Returns ``(toks, starts, ends, row_id, row_lengths)`` where ``toks`` is a
    list[str] of all tokens in batch order, ``starts``/``ends`` are int64
    char offsets *within each row's text*, ``row_id`` maps token -> row
    ordinal (0..len(texts)-1), and ``row_lengths[r]`` is the token count of
    row r.
    """
    vals = texts.fillna("").astype(str).str.replace(_SENTINEL, " ", regex=False)
    n_rows = len(vals)
    if n_rows == 0:
        return [], np.empty(0, np.int64), np.empty(0, np.int64), \
            np.empty(0, np.int64), np.zeros(0, np.int64)

    arr = vals.to_numpy()
    lens = np.fromiter((len(s) for s in arr), dtype=np.int64, count=n_rows)
    # row r occupies big[row_off[r] : row_off[r]+lens[r]]
    row_off = np.zeros(n_rows, np.int64)
    np.cumsum(lens[:-1] + 1, out=row_off[1:])
    big = _SENTINEL.join(arr)

    spans = np.array([m.span() for m in _TOKEN_RE.finditer(big)],
                     dtype=np.int64).reshape(-1, 2)
    if spans.size == 0:
        return [], np.empty(0, np.int64), np.empty(0, np.int64), \
            np.empty(0, np.int64), np.zeros(n_rows, np.int64)
    toks = _TOKEN_RE.findall(big)

    row_id = np.searchsorted(row_off, spans[:, 0], side="right") - 1
    starts = spans[:, 0] - row_off[row_id]
    ends = spans[:, 1] - row_off[row_id]
    row_lengths = np.bincount(row_id, minlength=n_rows).astype(np.int64)
    return toks, starts, ends, row_id, row_lengths


def token_table_reference(texts: pd.Series) -> TokenTable:
    """The ``TokenTable`` of the regex oracle: its tokens, offsets and rows,
    the byte hash of each ``str.lower()``-ed token string and
    ``str[:1].isupper()``."""
    toks, starts, ends, row_id, row_lengths = tokenize_batch(texts)
    return TokenTable(starts, ends, row_id, row_lengths,
                      hash_strings([t.lower() for t in toks]),
                      np.array([t[:1].isupper() for t in toks], bool), toks)


def viterbi_reference(em_pad: np.ndarray, trans: np.ndarray) -> np.ndarray:
    """Batched Viterbi with one (R, cur, prev) candidate tensor and an
    argmax over the previous tag per step — the oracle the tag-major
    ``viterbi_batch`` (kgpipe/operators/labeler.py) is checked against."""
    n_rows_sub, lmax, _ = em_pad.shape
    # start constraint: I-* cannot start a sequence
    start_pen = np.zeros(N_TAGS, dtype=np.float32)
    for c in ENT_CLASSES:
        start_pen[_I[c]] = NEG

    score = em_pad[:, 0, :] + start_pen[None, :]
    back = np.zeros((n_rows_sub, lmax, N_TAGS), dtype=np.int8)
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
