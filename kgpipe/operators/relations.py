"""Relation / triple extraction per turn-window (SURVEY.md A8/A9).

The reference emitted structured fields per document by pairing labeled
spans with pattern phrases (SURVEY.md §2C step 6); lifted to triples per
BASELINE.json. Every triple the engine emits (batch, checkpointed and
streaming) comes from the two halves below:

* ``turn_digests``: ONE Arrow-batched pass over the transcripts that
  labels (the gazetteer, or a trained model's weights), links and pairs
  each turn where its text already lives, and emits one NARROW row per
  mention-bearing turn — a few ids plus a small intra-triple array, no
  text. Linking and pairing are ``pair_turns``, a pure pandas function
  of (texts, spans per row, link map, predicate map); tests feed it
  hand-built spans through the wrapper in tests/reference_plans.py.
* ``emit_triples``: the rules that need the conversation context. Given
  each digest row's previous mention-bearing turn (``prev_turn``,
  ``prev_last``) it emits

  - intra-turn: consecutive linked mentions whose between-text normalizes
    to a predicate phrase -> (prev_entity, pred, entity), conf 1.0;
  - cross-turn: a turn that OPENS with a predicate phrase followed by a
    mention has a dangling subject; it resolves to the last mention of the
    nearest preceding mention-bearing turn if that turn is at most
    ``window`` turns back -> conf 0.9.

  Batch supplies the previous turn with a ``lag`` over the conv_id window
  (``triples_from_digests``); the stream carries the same pair in keyed
  state across micro-batches (streaming/ops.py ``incremental_triples``).

Why digests and not a window over exploded mention rows: such a window
shuffles every mention row WITH its turn text, ~(corpus bytes x
mentions-per-turn) — measured on the x256 scaling corpus, 4.19 GB of
shuffle write for a 6.4 GB input. Everything the window decides is
turn-local except the cross-turn subject, so only ~50-byte digest rows
enter the conv_id shuffle: at sf0.1 total shuffle write fell 12.8 -> 6.2 MB
and executor CPU 40-45% for identical output, with no text in ANY
shuffle. The exploded plan survives as the test oracle in
tests/reference_plans.py; equality is pinned by tests/test_relations_fused.py
and tests/test_properties.py.

Ordering is always explicit on (conv_id, turn_idx, span_start) — never
partition/task order (BASELINE.json per-row invariant).
"""

from __future__ import annotations

import operator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F


DIGEST_TYPE = (
    "array<struct<"
    "intra: array<struct<subj:string,pred:string,obj:string>>, "
    "first_ent: string, first_pred: string, last_ent: string>>"
)


_span_order = operator.itemgetter(0, 1)  # (start, end)


def _n(s: str) -> str:
    return " ".join(s.lower().split())


def digest_maps(candidate_dict, predicates=None,
                canon: dict | None = None) -> tuple[dict, dict]:
    """The pairing's lookup tables: (normalized alias, class) -> top-1
    entity id, and predicate phrase -> predicate id.

    Linking is link_entities' k=1 join (the ``linked`` side output)
    exactly: top-1 candidate per (normalized alias, class) with the
    (prior desc, entity_id asc) total order. ``canon`` (entity_id ->
    canonical_id, driver-side dict): when given, it is composed into the
    link map HERE, so the digests carry canonical ids everywhere and no
    join rewrites ids downstream. The canon map has at most one row per
    dictionary entity (pipeline.canon_map_for), so composing it is a
    driver-side dict pass over a map that is broadcast anyway."""
    from kgpipe.operators.linker import top1_dict
    from kgpipe.predicates import predicates_dict

    t1 = top1_dict(candidate_dict)
    link_map = {
        (a, c): e for a, c, e in
        zip(t1["alias"], t1["ent_class"], t1["entity_id"])
    }
    if canon:
        link_map = {k: canon.get(v, v) for k, v in link_map.items()}
    return link_map, predicates_dict(predicates)


def pair_turns(texts: pd.Series, spans_per_row, link_map: dict,
               pred_map: dict) -> pd.Series:
    """Per turn: its spans (``(start, end, ent_type, ...)`` tuples) in
    (start, end) order, linked through ``link_map``, then paired -> a
    0-or-1-element list holding the turn's digest (``DIGEST_TYPE``).

    A mention without a dictionary alias is dropped BEFORE pairing, like
    the linker join drops it. Normalization matches the fixture
    generator's python ``_norm`` (lower + whitespace collapse); the JVM
    ``norm_surface`` agrees on space-delimited text, which the alias
    registry guarantees for its side.

    The loop stays per-row Python BY MEASUREMENT. Per 10k-turn sf0.1
    batch (min of 15, 4-core host) the digest UDF body splits into the
    byte-level token table 10 ms, gazetteer emissions 19 ms, padding +
    tag-major Viterbi 21 ms, span formatting 9 ms and this loop 32 ms —
    about a third of the body, and the UDF shares the wall with the JVM
    scan/shuffle stages. Its cost is the per-span alias and predicate
    string lookups, which linking by token hash (a sorted dictionary
    table, not a Python dict) would remove; a numpy flatten of the span
    arrays alone would not."""
    out: list[list[dict]] = []
    for text, spans in zip(texts, spans_per_row):
        linked = []
        if text is not None and spans is not None:
            for sp in sorted(spans, key=_span_order):
                st, en = sp[0], sp[1]
                ent = link_map.get((_n(text[st:en]), sp[2]))
                if ent is not None:
                    linked.append((st, en, ent))
        if not linked:
            out.append([])
            continue
        intra = []
        for (ps, pe, pent), (cs, ce, cent) in zip(linked, linked[1:]):
            pr = pred_map.get(_n(text[pe:cs]))
            if pr is not None:
                intra.append({"subj": pent, "pred": pr, "obj": cent})
        out.append([{
            "intra": intra,
            "first_ent": linked[0][2],
            "first_pred": pred_map.get(_n(text[:linked[0][0]])),
            "last_ent": linked[-1][2],
        }])
    return pd.Series(out, index=texts.index)


def turn_digests(spark: SparkSession, transcripts: DataFrame,
                 candidate_dict, predicates=None,
                 canon: dict | None = None,
                 inline_labeler: str | None = None,
                 model=None) -> DataFrame:
    """transcripts -> one narrow row per mention-bearing turn:

    (conv_id, turn_idx, intra: array<(subj, pred, obj)>, first_ent,
     first_pred, last_ent)

    * ``intra``: triples from consecutive LINKED mentions of this turn
      whose between-text normalizes to a predicate phrase (conf 1.0 case).
    * ``first_ent``/``first_pred``: the turn's first linked mention and
      the predicate its prefix matches (null if none) — the dangling
      subject of the cross-turn case.
    * ``last_ent``: the turn's last linked mention — the resolver target
      for the NEXT turn's dangling subject.

    ONE scalar pandas UDF labels (``label_texts``), links and pairs
    (``pair_turns``, with ``digest_maps``' tables) each turn where its
    text already lives. Labeling is inside it by measurement: Spark
    cannot merge dependent Python UDFs, so a labeler UDF feeding a digest
    UDF ships every turn's text across the JVM<->Python boundary TWICE
    and the span structs once more on the way back; job CPU counters
    showed the executor threads ~87% idle waiting on exactly that
    traffic. Inline, text crosses once and spans never leave Python. The
    dictionary, predicate table, gazetteer and weights ship as one Spark
    broadcast of plain dicts and arrays (a JVM map literal would bloat
    the plan past a few thousand aliases).

    ``model`` alone picks the weight set: ``None`` is the gazetteer, a
    ``TrainedLabeler`` its learned weights. ``inline_labeler`` is an
    optional cross-check of that choice: ``"gaz"`` requires no model,
    ``"trained"`` requires one. A frame that already has a ``spans``
    column is rejected rather than silently re-labeled.
    """
    from kgpipe.operators.labeler import (
        build_gazetteer,
        label_texts,
        spread_for,
        transitions_for,
    )

    if inline_labeler not in (None, "gaz" if model is None else "trained"):
        raise ValueError(
            f"inline_labeler={inline_labeler!r} with model={model is not None}"
            ": 'gaz' takes no model and 'trained' needs one (leave it out "
            "and the model alone picks the weights)")
    if "spans" in transcripts.columns:
        # the digest UDF labels the text itself: accepting a pre-labeled
        # frame would silently discard the caller's spans (wasted upstream
        # work, and divergence if they came from different weights)
        raise ValueError(
            "turn_digests labels inside its UDF, but the input already "
            "has a 'spans' column — pass the bare transcripts")
    link_map, pred_map = digest_maps(candidate_dict, predicates, canon)
    bc = spark.sparkContext.broadcast((
        link_map, pred_map, build_gazetteer(candidate_dict),
        transitions_for(model), model))

    # The UDF returns a 0-or-1-element ARRAY per turn and the caller
    # explodes it, instead of a struct + `last_ent IS NOT NULL` filter:
    # PushDownPredicates rewrites such a filter below the projection by
    # substituting the UDF call into the predicate, and ExtractPythonUDFs
    # then materializes TWO ArrowEvalPython nodes — the whole digest,
    # labeling included, executed twice per row. explode() drops empty
    # arrays natively, there is no filter to push, and the plan gate
    # (tests/test_plans.py) pins exactly one ArrowEvalPython.
    @F.pandas_udf(DIGEST_TYPE)
    def digest(texts: pd.Series) -> pd.Series:
        link, preds, gaz, trans, mdl = bc.value
        return pair_turns(texts, label_texts(texts, gaz, trans, mdl),
                          link, preds)

    return (spread_for(spark, transcripts, model)
            .select("conv_id", "turn_idx",
                    F.explode(digest("text")).alias("d"))
            .select("conv_id", "turn_idx", "d.*"))


def triples_from_digests(digests: DataFrame, window: int = 3,
                         chunk: int | None = 4096,
                         dedup: bool = False) -> DataFrame:
    """Per-turn digests -> triples (subj, pred, obj, conv_id, turn_idx,
    conf): a ``lag`` over the conv_id window finds each row's previous
    mention-bearing turn, then ``emit_triples`` applies the rules.

    SINGLE-PASS plan: the digest subtree (scan -> digest UDF) is consumed
    exactly ONCE. A form that consumed it from several branches (window,
    per-chunk summary join, intra explode) cannot share them through
    ReusedExchange (each branch prunes different columns): the x256 probe
    showed the full scan+Arrow-UDF stage executing 2-3x (636s + 457s
    executor CPU for one corpus). Hence:

    * **ghost-row chunk overlap instead of a summary join.** ``chunk``
      bounds a hot conversation's window task at ``chunk`` turns by
      partitioning on (conv_id, turn_idx // chunk). A digest row within
      ``window`` turns of its chunk's end (``turn_idx % chunk >= chunk -
      window`` — row-local, no aggregate needed) is duplicated into the
      NEXT chunk as a non-emitting ghost. Ghost turn_idx values are
      strictly below every real turn of that chunk, so after the
      (conv_id, _chunk) window sort the ghosts sit at the front and only
      the chunk's FIRST real row can see one via lag(1). A subject further
      back than ``window`` turns is discarded by the cross rule anyway, so
      the result equals the unchunked window (``chunk=None``). Duplication
      is bounded by window/chunk (~0.1% of rows).
    * **one explode instead of union(intra, cross)** (``emit_triples``).

    The ONLY shuffle is the conv_id window over the narrow digest rows.
    Output equality with the exploded reference plan (and chunk=None) is
    pinned by tests/test_relations_fused.py."""
    live = None
    d = digests
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    if chunk is not None:
        if window >= chunk:
            raise ValueError("chunk must exceed the turn window")
        own = F.struct(
            (F.col("turn_idx") / F.lit(chunk)).cast("long").alias("c"),
            F.lit(False).alias("g"))
        ghost = F.struct(
            ((F.col("turn_idx") / F.lit(chunk)).cast("long") + 1).alias("c"),
            F.lit(True).alias("g"))
        near_end = (F.col("turn_idx") % F.lit(chunk)) >= F.lit(chunk - window)
        d = d.select("*", F.explode(
            F.when(near_end, F.array(own, ghost))
             .otherwise(F.array(own))).alias("_cg"))
        w = Window.partitionBy("conv_id", "_cg.c").orderBy("turn_idx")
        live = ~F.col("_cg.g")
    d = d.select("*", F.lag("turn_idx").over(w).alias("prev_turn"),
                 F.lag("last_ent").over(w).alias("prev_last"))
    return emit_triples(d, window=window, dedup=dedup, live=live)


def emit_triples(d: DataFrame, window: int, dedup: bool = False,
                 live: Column | None = None) -> DataFrame:
    """Digest rows carrying their conversation's previous mention-bearing
    turn (``prev_turn``, ``prev_last``; null for a conversation's first)
    -> triples. The one implementation of the triple rules: the batch
    window and the streaming state both end here.

    Each row emits its intra triples at conf 1.0, then the cross triple at
    conf 0.9 when ``first_pred`` matched and ``prev_turn >= turn_idx -
    window``, through a single posexplode of their concat — union(A(d),
    B(d)) would consume the d subtree twice. Rows where the ``live``
    column is false emit nothing (the chunk ghosts).

    ``dedup``: the triple key (subj, pred, obj, conv_id, turn_idx)
    includes the turn, so duplicates are turn-local and each turn is one
    row here; ``array_distinct`` drops repeated intra triples, and a
    cross triple that is also an intra triple is dropped, so the 1.0 copy
    stays (max conf, no shuffle). Built-in array functions only: a Python
    lambda in ``transform``/``filter`` costs py4j round trips at plan time
    and runs interpreted (CodegenFallback)."""
    spo = "array<struct<subj:string,pred:string,obj:string>>"
    empty = F.array().cast(spo)
    cross_ok = (
        F.col("first_pred").isNotNull()
        & F.col("prev_turn").isNotNull()
        & (F.col("prev_turn") >= F.col("turn_idx") - window)
    )
    # coalesce: a null intra would null the whole concat and silently drop
    # the row's cross triple with it (digest rows always carry [], but the
    # guard costs nothing and the failure mode is silent data loss)
    intra = F.coalesce(F.col("intra"), empty)
    if live is not None:
        cross_ok = live & cross_ok
        intra = F.when(live, intra).otherwise(empty)
    if dedup:
        intra = F.array_distinct(intra)
    d = d.select("conv_id", "turn_idx", intra.alias("_intra"),
                 cross_ok.alias("_ok"),
                 F.struct(F.col("prev_last").alias("subj"),
                          F.col("first_pred").alias("pred"),
                          F.col("first_ent").alias("obj")).alias("_cross"))
    keep = F.col("_ok")
    if dedup:
        keep = keep & ~F.array_contains("_intra", F.col("_cross"))
    items = F.concat("_intra", F.when(keep, F.array("_cross"))
                     .otherwise(empty))
    n, pos = F.col("_n"), F.col("pos")
    return (d
            .select("conv_id", "turn_idx", F.size("_intra").alias("_n"),
                    F.posexplode(items))
            .select(F.col("col.subj").alias("subj"),
                    F.col("col.pred").alias("pred"),
                    F.col("col.obj").alias("obj"),
                    "conv_id", "turn_idx",
                    # no otherwise(): conf stays nullable, as the
                    # snapshot manifest's recorded schema has it
                    F.when(pos < n, 1.0).when(pos == n, 0.9)
                    .cast("float").alias("conf")))


def extract_triples_fused(spark: SparkSession, transcripts: DataFrame,
                          candidate_dict, window: int = 3,
                          chunk: int | None = 4096,
                          predicates=None,
                          canon: dict | None = None,
                          dedup: bool = False,
                          model=None) -> DataFrame:
    """transcripts -> raw triples via the narrow-shuffle digest path:
    ``turn_digests`` (labeling with ``model``'s weights, the gazetteer
    when ``None``) then ``triples_from_digests``.

    With ``canon`` (entity_id -> canonical_id dict) and ``dedup=True`` the
    output is the FINAL canonical triple table — link map composed with
    the canon map at broadcast-build time, per-turn max-conf dedup — and
    the plan's only shuffle is the narrow digest window. Defaults produce
    the pre-canonicalization raw triples."""
    return triples_from_digests(
        turn_digests(spark, transcripts, candidate_dict, predicates,
                     canon=canon, model=model),
        window=window, chunk=chunk, dedup=dedup)
