"""Trained-labeler gates (SURVEY.md §2C steps 3-5): the averaged structured
perceptron must reproduce the dictionary auto-annotations on HELD-OUT
conversations at span-level P/R >= 0.95 — with every weight learned, none
hand-set — and label through the same decode, Spark labeler and pipeline
as the gazetteer weights."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from reference_plans import decode_spans
from reference_plans import silver_tags as silver_tags_reference

from kgpipe.functions.tokenize import tokenize_batch
from kgpipe.operators.labeler import (
    build_gazetteer,
    build_transitions,
    label_texts,
    transitions_for,
)
from kgpipe.operators.train import fit_perceptron, silver_tags


@pytest.fixture(scope="module")
def corpus():
    from kgpipe.fixtures.generator import materialize

    fx = materialize("sf0.001")
    t = pd.read_parquet(os.path.join(fx, "transcripts.parquet"))
    cd = pd.read_parquet(os.path.join(fx, "candidate_dict.parquet"))
    # held-out split by conversation: ~2/3 train, 1/3 test
    conv_ord = t["conv_id"].str.removeprefix("conv").astype(int)
    train = t[conv_ord % 3 != 0].reset_index(drop=True)
    test = t[conv_ord % 3 == 0].reset_index(drop=True)
    assert len(train) and len(test)
    return train, test, cd


@pytest.fixture(scope="module")
def model(corpus):
    train, _test, cd = corpus
    m = fit_perceptron(train["text"], cd)
    return m


def _span_sets(texts, spans_series):
    out = set()
    for i, spans in enumerate(spans_series):
        for (s, e, cls, _sc) in spans:
            out.add((i, s, e, cls))
    return out


def test_training_converges(model):
    assert model.train_token_acc >= 0.999, model
    assert model.epochs_run <= 60


def test_heldout_span_pr_at_least_95(corpus, model):
    _train, test, cd = corpus
    gaz = build_gazetteer(cd)
    silver = _span_sets(test["text"],
                        label_texts(test["text"], gaz, build_transitions()))
    predicted = _span_sets(test["text"], label_texts(
        test["text"], gaz, transitions_for(model), model))
    assert silver, "held-out split must contain mentions"
    tp = len(silver & predicted)
    precision = tp / len(predicted) if predicted else 0.0
    recall = tp / len(silver) if silver else 0.0
    assert precision >= 0.95, (precision, recall)
    assert recall >= 0.95, (precision, recall)


def test_trained_label_texts_equals_reference_decode(corpus, model):
    """label_texts with a model (the labeler's one batch decode, learned
    weights) == the separate trained decode it replaced, on the held-out
    split — with the full gazetteer, and with one missing the withheld
    entities, so rows without a gazetteer hit must be decoded too."""
    from kgpipe.operators.train import dict_holdout_split

    _train, test, cd = corpus
    for d in (cd, dict_holdout_split(cd)[0]):
        gaz = build_gazetteer(d)
        got = label_texts(test["text"], gaz, transitions_for(model), model)
        want = decode_spans(test["text"], model, gaz)
        assert sum(map(len, want)) > 0
        assert list(got) == list(want)


_SILVER_DICT = pd.DataFrame({
    "alias": ["acme corp", "acme", "alice womack", "port zephyr", "bob",
              "zephyr bob"],
    "entity_id": ["org1", "org1", "per1", "pl1", "per2", "pl2"],
    "prior": [0.9, 0.6, 0.9, 0.9, 0.9, 0.9],
    "ent_class": ["ORG", "ORG", "PER", "PLACE", "PER", "PLACE"],
})
# alias words (multi-token and adjacent aliases arise by chance), filler,
# punctuation and non-ASCII
_silver_word = st.sampled_from(
    ["acme", "corp", "alice", "womack", "port", "zephyr", "bob", "Acme",
     "ZEPHYR", "the", "said", ",", ".", "café", "x1"])
_silver_row = st.one_of(
    st.none(), st.just(""), st.just("   "),
    st.lists(_silver_word, max_size=12).map(" ".join))


@settings(max_examples=200, deadline=None)
@given(st.lists(_silver_row, max_size=8))
def test_silver_tags_equals_reference_loop(rows):
    texts = pd.Series(rows, dtype=object)
    want = silver_tags_reference(texts, _SILVER_DICT, tokenize_batch(texts))
    np.testing.assert_array_equal(silver_tags(texts, _SILVER_DICT), want)


def test_learned_weights_not_handset(model):
    # the model must have actually learned: nonzero spread across many
    # hashed features, and BIO-invalid transitions still impossible
    assert (np.abs(model.W) > 0).sum() > 100
    masked = transitions_for(model)
    from kgpipe.operators.labeler import NEG
    from kgpipe.schemas import ENT_CLASSES

    assert masked[0, 2] <= NEG  # O -> I-PER impossible
    assert len(ENT_CLASSES) == 4


def test_trained_labeler_drops_into_pipeline(spark, corpus, model):
    from kgpipe.operators.evaluate import per_class_span_eval
    from kgpipe.operators.labeler import label_transcripts
    from kgpipe.operators.mentions import extract_mentions

    _train, test, cd = corpus
    sdf = spark.createDataFrame(test)
    pred_m = extract_mentions(label_transcripts(spark, sdf, cd, model))
    gold_m = extract_mentions(label_transcripts(spark, sdf, cd))
    report = per_class_span_eval(pred_m, gold_m).toPandas()
    assert set(report["ent_type"]) >= {"PER", "ORG"}
    micro_tp = report["tp"].sum()
    micro_fp = report["fp"].sum()
    micro_fn = report["fn"].sum()
    assert micro_tp / (micro_tp + micro_fp) >= 0.95, report
    assert micro_tp / (micro_tp + micro_fn) >= 0.95, report


def test_full_pipeline_with_trained_labeler_hits_gold(spark):
    """End-to-end: train on the unit fixture's dictionary annotations, run
    the ENTIRE pipeline (trained labeling -> linking -> triples -> canon)
    and score against planted gold — the trained path must reach the same
    P/R >= 0.95 bar as the gazetteer path."""
    import os

    from kgpipe.fixtures.generator import materialize
    from kgpipe.operators.evaluate import evaluate_triples
    from kgpipe.operators.train import fit_perceptron
    from kgpipe.pipeline import read_transcripts, run_pipeline

    fx = materialize("unit")
    t = read_transcripts(spark, os.path.join(fx, "transcripts.parquet"))
    cd = pd.read_parquet(os.path.join(fx, "candidate_dict.parquet"))
    texts = pd.read_parquet(
        os.path.join(fx, "transcripts.parquet"), columns=["text"])["text"]
    model = fit_perceptron(texts, cd)
    out = run_pipeline(spark, t, cd, labeler_model=model)
    gold = spark.read.parquet(os.path.join(fx, "gold_triples.parquet"))
    m = evaluate_triples(out["triples"], gold)
    assert m["precision"] >= 0.95 and m["recall"] >= 0.95, m


def _norm(s: str) -> str:
    return " ".join(s.lower().split())


def test_withheld_entity_generalization(corpus):
    """The generalization gate (SURVEY.md §2C steps 3-5): entities removed
    from the dictionary BEFORE training (and scrubbed from the training
    text) must still be recalled at span level >= 0.8 on held-out text —
    via affix/shape/context features alone, since the gazetteer has never
    seen them. This is the difference between distilling the dictionary
    and learning a tagger; without training-time gazetteer dropout the
    measured recall was 0.45, with it 0.86."""
    from kgpipe.operators.train import dict_holdout_split, drop_texts_mentioning

    train, test, cd = corpus
    cd_train, withheld = dict_holdout_split(cd)
    assert withheld, "holdout split must withhold at least one entity"
    texts = drop_texts_mentioning(train["text"], withheld)
    assert len(texts) < len(train), "withheld entities must occur in train"
    m = fit_perceptron(texts, cd_train)

    silver = label_texts(test["text"], build_gazetteer(cd), build_transitions())
    pred = label_texts(test["text"], build_gazetteer(cd_train),
                       transitions_for(m), m)

    gold_wh, gold_kn, pred_all = set(), set(), set()
    for i, spans in enumerate(silver):
        txt = test["text"].iloc[i]
        for (s, e, cls, _sc) in spans:
            tgt = gold_wh if _norm(txt[s:e]) in withheld else gold_kn
            tgt.add((i, s, e, cls))
    for i, spans in enumerate(pred):
        for (s, e, cls, _sc) in spans:
            pred_all.add((i, s, e, cls))

    assert gold_wh, "held-out split must contain withheld-entity mentions"
    recall_wh = len(gold_wh & pred_all) / len(gold_wh)
    recall_kn = len(gold_kn & pred_all) / len(gold_kn)
    precision = len((gold_wh | gold_kn) & pred_all) / len(pred_all)
    assert recall_wh >= 0.8, (recall_wh, recall_kn, precision)
    assert recall_kn >= 0.95, (recall_wh, recall_kn, precision)
    assert precision >= 0.95, (recall_wh, recall_kn, precision)


def test_fit_or_load_roundtrip(tmp_path, corpus):
    """Disk-cached training: second call must load bit-identical weights
    without refitting (the fix for kg_span_eval_per_class re-training per
    process, round-2 verdict item 2)."""
    from kgpipe.operators.train import fit_or_load

    train, _test, cd = corpus
    texts = train["text"].head(200)
    m1 = fit_or_load(texts, cd, cache_dir=str(tmp_path))
    cached = [p for p in os.listdir(tmp_path) if p.endswith(".npz")]
    assert len(cached) == 1
    m2 = fit_or_load(texts, cd, cache_dir=str(tmp_path))
    np.testing.assert_array_equal(m1.W, m2.W)
    np.testing.assert_array_equal(m1.trans, m2.trans)
    assert (m1.D, m1.epochs_run) == (m2.D, m2.epochs_run)
    # different hyperparameters -> different cache entry, not a stale hit
    m3 = fit_or_load(texts, cd, cache_dir=str(tmp_path), epochs=1)
    assert m3.epochs_run <= 1
    assert len([p for p in os.listdir(tmp_path) if p.endswith(".npz")]) == 2


def test_sample_texts_seeded_not_head(corpus, tmp_path):
    """sample_texts must be a seeded uniform sample, not the table head
    (head-of-table is source/time-biased on real ordered data)."""
    from kgpipe.operators.train import sample_texts

    train, _test, _cd = corpus
    path = os.path.join(tmp_path, "t.parquet")
    train.to_parquet(path, index=False)
    s1 = sample_texts(path, 50)
    s2 = sample_texts(path, 50)
    pd.testing.assert_series_equal(s1, s2)  # deterministic
    assert len(s1) == 50
    assert not s1.equals(train["text"].head(50).reset_index(drop=True))
    # n >= table size -> whole column
    assert len(sample_texts(path, 10 ** 9)) == len(train)


def test_word_clusters_deterministic_and_learned(corpus):
    """The distributional-cluster template (SURVEY.md §2C step 4's
    word2vec-cluster features, built without gensim: PPMI + eigh +
    seeded k-means) must be deterministic and actually partition the
    vocabulary — not collapse to one bucket."""
    from kgpipe.operators.train import build_word_clusters

    train, _test, _cd = corpus
    c1 = build_word_clusters(train["text"].head(300))
    c2 = build_word_clusters(train["text"].head(300))
    assert c1 == c2
    assert len(c1) > 50
    assert len(set(c1.values())) > 4  # genuinely partitions the vocab


def test_cluster_template_survives_disk_roundtrip(corpus, tmp_path):
    """clusters must persist with the weights: a disk-loaded model must
    decode byte-identically to the freshly-trained one (a cache hit that
    silently drops the cluster template would shift every emission)."""
    from kgpipe.operators.train import fit_or_load

    train, test, cd = corpus
    texts = train["text"].head(200)
    m1 = fit_or_load(texts, cd, cache_dir=str(tmp_path))
    m2 = fit_or_load(texts, cd, cache_dir=str(tmp_path))
    assert m1.clusters and m1.clusters == m2.clusters
    g = build_gazetteer(cd)
    p1 = label_texts(test["text"].head(100), g, transitions_for(m1), m1)
    p2 = label_texts(test["text"].head(100), g, transitions_for(m2), m2)
    assert list(p1) == list(p2)
