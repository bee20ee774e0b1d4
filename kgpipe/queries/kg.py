"""KG-pipeline queries for the driver surface.

The extraction pipeline itself (Viterbi labeling, linking, canonicalization)
is not SQL-expressible — but its OUTPUT is hash-checkable anyway: the
fixture is deterministic and the pipeline's planted-gold P/R is exactly 1.0
(pinned by tests/test_pipeline_e2e.py and re-verified every round), so the
emitted triples equal ``gold_triples.parquet`` as a multiset and the mention
stream equals the generator-recorded ``gold_mentions.parquet``. The DuckDB
oracles below therefore REPLAY THE PLANTED GOLD — the strongest end-to-end
evidence the driver harness can express: a full value-hash equality between
the distributed pipeline and the ground truth it was planted from. Only
``kg_span_eval_per_class`` stays rows-only (it diagnoses a TRAINED model's
generalization; its bars live in tests/test_train.py).

The oracle strings embed the absolute sf0.01 fixture path (the scale the
driver compares at); the local parity harness rewrites that prefix to the
matching scale when testing at sf0.001 (queries/parity.py).

The transcripts fixture is generated deterministically per scale and cached;
``sf_dir`` maps onto the matching fixture scale so the driver's sf0.01 run
uses the sf0.01-sized corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgpipe.fixtures.generator import materialize
from kgpipe.queries.registry import register

_CACHE: dict[tuple[str, str], DataFrame] = {}

# The gold fixture is generated (or reused from the on-disk cache) when an
# oracle is resolved (registry.oracles()), not at import: importing
# kgpipe.queries writes nothing. A generation failure (read-only checkout,
# full disk) degrades the kg_* rows to rows-only checks — never breaks the
# whole registry.
def _gold(sql: str):
    """Deferred oracle: ``sql`` over the gold fixture of ``scale``
    (sf0.01, the published comparison scale, by default), or None (the
    registry's rows-only registration) when it cannot be generated."""
    def oracle(scale: str = "sf0.01") -> str | None:
        try:
            return sql.replace("{gold}", materialize(scale))
        except Exception:  # noqa: BLE001 — any failure degrades, see above
            return None
    return oracle


_GOLD_T = "read_parquet('{gold}/gold_triples.parquet')"
_GOLD_M = "read_parquet('{gold}/gold_mentions.parquet')"


def _session_key(spark: SparkSession) -> str:
    """Stable unique id for the session. NOT id(spark): CPython reuses
    object ids after teardown, so a second session could alias the first
    session's cached (now-invalid) DataFrames."""
    return spark.sparkContext.applicationId


def _scale_for(sf_dir: str) -> str:
    for s in ("sf0.001", "sf0.01", "sf0.1"):
        if s in sf_dir:
            return s
    return "unit"


def _triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (_session_key(spark), _scale_for(sf_dir))
    if key not in _CACHE:
        from kgpipe.pipeline import run_from_dir

        fixture = materialize(_scale_for(sf_dir))
        out = run_from_dir(spark, fixture)
        _CACHE[key] = out["triples"].cache()
        _CACHE[(_session_key(spark), _scale_for(sf_dir), "gold")] = out["gold"]
        # cache mentions too: without it kg_mentions_by_class re-runs the
        # full Arrow-UDF labeling pass (measured 5.6s vs 0.26s at sf0.1)
        _CACHE[(_session_key(spark), _scale_for(sf_dir), "mentions")] = (
            out["mentions"].cache()
        )
    return _CACHE[key]


@register(
    "kg_triples",
    oracle=_gold(f"SELECT subj, pred, obj, conv_id, turn_idx"
           f" FROM {_GOLD_T}"),
)
def kg_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full pipeline's emitted triples, hash-checked against the
    planted gold table row for row (P/R 1.0 by construction AND by
    measurement — see the module docstring)."""
    return _triples(spark, sf_dir).select(
        "subj", "pred", "obj", "conv_id", "turn_idx")


@register(
    "kg_top_predicates",
    oracle=_gold(f"""
    SELECT pred, count(*) AS n_triples,
           count(DISTINCT subj) AS n_subjects,
           count(DISTINCT obj) AS n_objects
    FROM {_GOLD_T} GROUP BY pred
    """),
)
def kg_top_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _triples(spark, sf_dir)
        .groupBy("pred")
        .agg(
            F.count(F.lit(1)).alias("n_triples"),
            F.countDistinct("subj").alias("n_subjects"),
            F.countDistinct("obj").alias("n_objects"),
        )
    )


@register(
    "kg_mentions_by_class",
    oracle=_gold(f"""
    SELECT ent_type, count(*) AS n_mentions,
           count(DISTINCT surface_norm) AS n_surfaces
    FROM {_GOLD_M} GROUP BY ent_type
    """),
)
def kg_mentions_by_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mention stream vs the generator's gold mention record. Surfaces are
    compared NORMALIZED (lowercase, collapsed whitespace): raw surfaces in
    the text carry deliberate case flips and _spacenoise doubled spaces,
    which the gold record (captured pre-noise) is invariant to only under
    this normalization — and a near-dup-aware corpus profiler counts
    normalized forms anyway."""
    _triples(spark, sf_dir)  # ensure cache populated
    m = _CACHE[(_session_key(spark), _scale_for(sf_dir), "mentions")]
    surface_norm = F.trim(F.regexp_replace(F.lower("surface"), " +", " "))
    return m.groupBy("ent_type").agg(
        F.count(F.lit(1)).alias("n_mentions"),
        F.countDistinct(surface_norm).alias("n_surfaces"),
    )


@register("kg_span_eval_per_class")
def kg_span_eval_per_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity-class span-level P/R of the TRAINED labeler (averaged
    structured perceptron, operators/train.py) against the dictionary
    auto-annotations, in TWO slices (SURVEY.md §2C steps 3-5):

    * ``slice='all'`` — model trained on the full dictionary, evaluated on
      every silver span (the distillation check, >=0.95 bar pinned by
      tests/test_train.py).
    * ``slice='withheld'`` — model trained with ~20% of entities REMOVED
      from the dictionary (and their mentions dropped from the training
      sample), evaluated only on those withheld entities' spans: the
      generalization check — can affix/shape/context features tag entities
      the gazetteer has never seen (recall >= 0.8 gate in
      tests/test_train.py).

    Rows-only in the driver check (model inference is not SQL-expressible).
    Trained weights are disk-cached next to the fixture (content-addressed),
    so repeat invocations in fresh processes skip training entirely."""
    import os

    import pandas as pd

    from kgpipe.operators.evaluate import per_class_span_eval
    from kgpipe.operators.labeler import label_transcripts
    from kgpipe.operators.mentions import extract_mentions
    from kgpipe.operators.train import (
        dict_holdout_split,
        drop_texts_mentioning,
        fit_or_load,
        sample_texts,
    )
    from kgpipe.pipeline import read_transcripts

    fixture = materialize(_scale_for(sf_dir))
    cd = pd.read_parquet(os.path.join(fixture, "candidate_dict.parquet"))
    tpath = os.path.join(fixture, "transcripts.parquet")
    model_dir = os.path.join(fixture, "models")
    t = read_transcripts(spark, tpath)
    key = (_session_key(spark), _scale_for(sf_dir), "models")
    if key not in _CACHE:
        # fit driver-side on a bounded sample (training cost must not grow
        # with corpus size); weights broadcast for cluster-wide inference
        sample = sample_texts(tpath, 2000)
        cd_train, withheld = dict_holdout_split(cd)
        _CACHE[key] = (
            fit_or_load(sample, cd, cache_dir=model_dir),
            fit_or_load(drop_texts_mentioning(sample, withheld), cd_train,
                        cache_dir=model_dir),
            cd_train,
            sorted(withheld),
        )
    model, model_wh, cd_train, withheld = _CACHE[key]
    # the silver side IS the pipeline's cached mentions (same fixture, same
    # gazetteer labeler) — reuse it instead of a second labeling pass
    _triples(spark, sf_dir)
    gold_m = _CACHE[(_session_key(spark), _scale_for(sf_dir), "mentions")]

    pred_m = extract_mentions(label_transcripts(spark, t, cd, model))
    ev_all = per_class_span_eval(pred_m, gold_m).withColumn(
        "slice", F.lit("all"))

    # Only turns that can contain a withheld mention enter the second
    # labeling pass — at 100 TB you cannot label the corpus twice for a
    # diagnostic slice. The pre-filter is arrays_overlap on the withheld
    # aliases' FIRST tokens (a superset of rows holding a withheld mention):
    # vectorized JVM set-probe, vs. a 200-way regex alternation which cost
    # 22s at sf0.1.
    is_wh = F.lower("surface").isin(withheld)
    first_toks = sorted({a.split()[0] for a in withheld})
    cand = t.filter(F.arrays_overlap(
        F.split(F.lower("text"), "[^a-z0-9]+"),
        F.array(*[F.lit(w) for w in first_toks])))
    pred_wh = extract_mentions(
        label_transcripts(spark, cand, cd_train, model_wh)).filter(is_wh)
    ev_wh = per_class_span_eval(pred_wh, gold_m.filter(is_wh)).withColumn(
        "slice", F.lit("withheld"))

    return ev_all.unionByName(ev_wh).select(
        "slice", "ent_type", "tp", "fp", "fn",
        F.round("precision", 6).alias("precision"),
        F.round("recall", 6).alias("recall"),
    )


@register(
    "kg_eval_metrics",
    # the planted-gold replay of A16: with triples ≡ gold (kg_triples'
    # oracle), the evaluator must report tp = |gold|, fp = fn = 0,
    # P = R = 1.0 — this row hash-pins the north-rule bar itself
    oracle=_gold(f"""
    SELECT CAST(count(*) AS BIGINT) AS tp,
           CAST(0 AS BIGINT) AS fp,
           CAST(0 AS BIGINT) AS fn,
           CAST(1.0 AS DOUBLE) AS "precision",
           CAST(1.0 AS DOUBLE) AS "recall"
    FROM {_GOLD_T}
    """),
)
def kg_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kgpipe.operators.evaluate import evaluate_triples

    t = _triples(spark, sf_dir)
    g = _CACHE[(_session_key(spark), _scale_for(sf_dir), "gold")]
    m = evaluate_triples(t, g)
    return spark.createDataFrame(
        [(m["tp"], m["fp"], m["fn"],
          round(m["precision"], 6), round(m["recall"], 6))],
        "tp long, fp long, fn long, precision double, recall double",
    )
