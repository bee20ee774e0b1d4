"""Trainable CRF-style sequence labeler: averaged structured perceptron
(SURVEY.md §2C steps 3-5).

The reference auto-annotates training documents from its dictionary,
builds per-token feature templates, and TRAINS a linear-chain CRF; the
round-1 graft shipped only hand-set weights (gazetteer boost 4.0 etc.),
so recall on anything outside the dictionary boost path was structurally
fixed. This module closes that gap the same way the reference does, Spark-
shaped:

* **auto-annotation** (step 3): the dictionary labeler (operators/labeler)
  produces silver BIO tags for the training turns — no human labels.
* **feature templates** (step 4): hashed sparse features per token — word
  identity, prefix/suffix trigrams, shape flags (capitalization, digits,
  punctuation), previous/next word, and the gazetteer hit indicators as
  FEATURES whose weights are learned, not set.
* **training** (step 5): averaged structured perceptron — batch Viterbi
  decode under current weights (the same vectorized DP inference uses),
  then sparse count updates where predicted tags differ from silver tags.
  Everything is numpy scatter/gather over flat token arrays; no per-token
  Python loop.

Training runs driver-side over a sample of turns (model fitting is
dwarfed by corpus size at 100 TB — you fit on a sampled slice, then
broadcast the learned weights, ~9 MB, exactly like the gazetteer).
Inference is the labeler's one batch decode (``labeler.decode_batch``)
with a ``TrainedLabeler`` as its learned emission weights, passed as
``model`` to ``label_texts`` and ``label_transcripts`` or as the
pipeline's ``labeler_model``.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np
import pandas as pd

from kgpipe.functions.tokenize import token_table, tokenize_batch
from kgpipe.operators.labeler import (
    N_TAGS,
    Gazetteer,
    build_gazetteer,
    build_transitions,
    decode_batch,
    gazetteer_hits,
    pad_rows,
    viterbi_batch,
)
from kgpipe.schemas import ENT_CLASSES

N_CLS = len(ENT_CLASSES)

# reserved (non-hashed) feature slots
_F_BIAS = 0
_F_CAP, _F_ALLCAP, _F_HASDIG, _F_ALLDIG, _F_PUNCT = 1, 2, 3, 4, 5
_F_GAZ_B = 6                 # + cls_idx
_F_GAZ_I = _F_GAZ_B + N_CLS  # + cls_idx
N_RESERVED = _F_GAZ_I + N_CLS

# per-template salts so 'word', 'prefix', 'suffix', 'prev', 'next' occupy
# disjoint hashed regions with high probability
_SALTS = {
    "word": np.uint64(0x9E3779B97F4A7C15),
    "pfx": np.uint64(0xC2B2AE3D27D4EB4F),
    "sfx": np.uint64(0x165667B19E3779F9),
    "prev": np.uint64(0x27D4EB2F165667C5),
    "next": np.uint64(0x85EBCA77C2B2AE63),
    "clus": np.uint64(0xB5297A4D3C2DA3F1),
}
_BOUNDARY = np.uint64(0x51ED270B)  # stands in for out-of-row prev/next
_FNV_OCC = np.uint64(0x100000001B3)  # occurrence-mask mixing prime


@dataclass
class TrainedLabeler:
    """Learned weights: hashed-feature emissions W (D, T) + transitions,
    plus the word->cluster map the cluster feature template was trained
    with (decode must use the identical map)."""

    W: np.ndarray            # (D, N_TAGS) float32
    trans: np.ndarray        # (N_TAGS, N_TAGS) float32, learned scores
    D: int
    epochs_run: int
    train_token_acc: float
    clusters: dict[str, int] | None = None

    def fingerprint(self) -> str:
        """Content hash of everything decoding reads: the emission and
        transition weights and the cluster map."""
        clusters = sorted((w, int(c)) for w, c in
                          (self.clusters or {}).items())
        return hashlib.sha256(
            self.W.tobytes() + self.trans.tobytes()
            + repr(clusters).encode()).hexdigest()[:16]

    def emissions(self, texts: pd.Series, gaz: Gazetteer):
        """Learned (n_tok, T) emission scores of a batch, and its
        ``token_table`` — the decode's trained weight set."""
        (feat_pos, feat_idx), table = extract_features(
            texts, gaz, self.D, clusters=self.clusters)
        return _emissions(feat_pos, feat_idx, self.W,
                          table.tok_h.size), table


def _hashed(h: np.ndarray, salt: np.uint64, D: int) -> np.ndarray:
    with np.errstate(over="ignore"):
        mixed = (h ^ salt) * np.uint64(0x9E3779B97F4A7C15)
    return (mixed % np.uint64(D - N_RESERVED)).astype(np.int64) + N_RESERVED


def build_word_clusters(texts: pd.Series, n_clusters: int = 32,
                        max_vocab: int = 2000, rank: int = 16,
                        window: int = 2, seed: int = 7) -> dict[str, int]:
    """Distributional word clusters — the graft's stand-in for the
    reference's word2vec-cluster feature template (SURVEY.md §2C step 4:
    gensim word2vec -> cluster ids as CRF features). Same role, no gensim:
    windowed co-occurrence counts over the training sample -> symmetric
    PPMI -> truncated eigendecomposition (the classic count-based
    embedding; Levy & Goldberg 2014 showed SGNS word2vec implicitly
    factorizes this same matrix) -> seeded Lloyd k-means on the embedding
    rows. Deterministic end to end: seeded init, fixed iterations, no
    data-order dependence beyond the co-occurrence counts themselves.

    Cost is bounded by ``max_vocab`` (V x V counts, V<=2000 -> 32 MB),
    driver-side on the SAME bounded sample the perceptron trains on —
    independent of corpus size, like the rest of training."""
    toks, _s, _e, row_id, _rl = tokenize_batch(texts)
    if len(toks) == 0:
        return {}
    low = pd.Series(toks, dtype="object").str.lower()
    vocab = low.value_counts().index[:max_vocab]
    w2i = {w: i for i, w in enumerate(vocab)}
    ids = low.map(w2i).fillna(-1).to_numpy().astype(np.int64)
    v = len(w2i)
    if v <= n_clusters:
        return {w: i for w, i in w2i.items()}
    co = np.zeros((v, v), np.float64)
    for off in range(1, window + 1):
        a, b = ids[:-off], ids[off:]
        m = (row_id[off:] == row_id[:-off]) & (a >= 0) & (b >= 0)
        np.add.at(co, (a[m], b[m]), 1.0)
        np.add.at(co, (b[m], a[m]), 1.0)
    total = co.sum()
    marg = co.sum(1)
    with np.errstate(divide="ignore", invalid="ignore"):
        pmi = np.log(co * total / np.outer(marg, marg))
    ppmi = np.where(np.isfinite(pmi) & (pmi > 0), pmi, 0.0)
    # symmetric -> eigh; top-|rank| by |eigenvalue| are the embedding axes
    vals, vecs = np.linalg.eigh(ppmi)
    order = np.argsort(-np.abs(vals))[:rank]
    emb = vecs[:, order] * np.sqrt(np.abs(vals[order]))[None, :]
    norm = np.linalg.norm(emb, axis=1, keepdims=True)
    emb = emb / np.maximum(norm, 1e-12)

    rng = np.random.default_rng(seed)
    centers = emb[rng.choice(v, n_clusters, replace=False)]
    assign = np.zeros(v, np.int64)
    for _ in range(25):
        d2 = ((emb[:, None, :] - centers[None, :, :]) ** 2).sum(-1)
        new_assign = d2.argmin(1)
        if (new_assign == assign).all():
            break
        assign = new_assign
        for c in range(n_clusters):
            m = assign == c
            if m.any():
                centers[c] = emb[m].mean(0)
    return {w: int(assign[i]) for w, i in w2i.items()}


def extract_features(texts: pd.Series, gaz: Gazetteer, D: int,
                     gaz_dropout_mod: int = 0,
                     clusters: dict[str, int] | None = None):
    """Batch feature extraction -> COO (feat_pos, feat_idx) over flat
    tokens, plus the batch's ``token_table`` (with ``toks``). All templates
    are uint64 vector ops; string work is pandas .str (C-side). Word,
    affix, context and dropout features hash the token strings with keyed
    siphash (``pd.util.hash_array``); the gazetteer indicators come from
    the table's byte-level ``tok_h``, the hash ``build_gazetteer`` keys
    aliases with.

    ``gaz_dropout_mod > 0`` (training only) deterministically drops the
    gazetteer-hit indicator features for ~1/mod of the hit OCCURRENCES
    (keyed by token hash + row id — same occurrence always gets the same
    mask, different occurrences of the same entity differ). Without it the
    perceptron converges on the gazetteer features alone — they separate
    the silver tags perfectly, so affix/shape/context features never
    receive class-discriminating weight and the model cannot generalize to
    entities outside the dictionary (the whole point of the reference's
    CRF, SURVEY.md §2C steps 3-5). Dropout forces a slice of every batch
    to be explained gazetteer-free. Decode always uses the full features
    (mod=0)."""
    table = token_table(texts, strings=True)
    row_id = table.row_id
    n_tok = row_id.size
    if n_tok == 0:
        e = np.empty(0, np.int64)
        return (e, e), table

    s = pd.Series(table.toks, dtype="object")
    low = s.str.lower()
    tok_h = pd.util.hash_array(low.to_numpy())

    pos_list: list[np.ndarray] = []
    idx_list: list[np.ndarray] = []
    all_pos = np.arange(n_tok, dtype=np.int64)

    def add(mask_or_pos, idx):
        pos_list.append(mask_or_pos)
        idx_list.append(idx)

    # bias + hashed identity/affix/context templates (one per token each)
    add(all_pos, np.full(n_tok, _F_BIAS, np.int64))
    add(all_pos, _hashed(tok_h, _SALTS["word"], D))
    add(all_pos, _hashed(pd.util.hash_array(low.str[:3].to_numpy()),
                         _SALTS["pfx"], D))
    add(all_pos, _hashed(pd.util.hash_array(low.str[-3:].to_numpy()),
                         _SALTS["sfx"], D))
    # prev/next within the same row; boundary tokens get a sentinel
    prev_h = np.empty(n_tok, np.uint64)
    prev_h[0] = _BOUNDARY
    prev_h[1:] = np.where(row_id[1:] == row_id[:-1], tok_h[:-1], _BOUNDARY)
    next_h = np.empty(n_tok, np.uint64)
    next_h[-1] = _BOUNDARY
    next_h[:-1] = np.where(row_id[1:] == row_id[:-1], tok_h[1:], _BOUNDARY)
    add(all_pos, _hashed(prev_h, _SALTS["prev"], D))
    add(all_pos, _hashed(next_h, _SALTS["next"], D))

    # NO POS template, by measurement (§2C step 4 closes REJECTED): a
    # closed-class-lexicon + suffix/shape rule tagger was built and three
    # wirings were holdout-gated — unigram+bigram: withheld-span recall 0.89 -> 0.50; dense
    # unigram: 0.18 (the near-constant default tag trains into a second
    # O-biased bias term); sparse non-default unigram: 0.55. On this
    # corpus every variant accelerates training-set separation enough
    # that affix/shape/context features stop receiving error updates
    # before they can generalize — the reference's NLTK-POS feature adds
    # value on natural prose, not here, so the template stays out.

    # distributional-cluster template (§2C step 4): cluster id of the
    # token, where the token is in the cluster vocabulary. The id is
    # hashed like any other template, so its weight per tag is learned.
    if clusters:
        cl = low.map(clusters)
        hit = cl.notna().to_numpy()
        p = np.flatnonzero(hit)
        if p.size:
            cid = cl.to_numpy()[hit].astype(np.int64).astype(np.uint64)
            add(p, _hashed(cid, _SALTS["clus"], D))

    # shape flags (sparse: only where true)
    flags = [
        (_F_CAP, table.is_cap),
        (_F_ALLCAP, s.str.isupper().fillna(False).to_numpy(bool)),
        (_F_HASDIG, s.str.contains(r"\d", regex=True).to_numpy(bool)),
        (_F_ALLDIG, s.str.isdigit().fillna(False).to_numpy(bool)),
        (_F_PUNCT, (~s.str.contains(r"[A-Za-z0-9]", regex=True))
         .to_numpy(bool)),
    ]
    for slot, m in flags:
        p = np.flatnonzero(m)
        if p.size:
            add(p, np.full(p.size, slot, np.int64))

    # gazetteer indicators: the dictionary labeler's hit matcher, but the
    # WEIGHT of a hit is learned
    for ln, hit, hc in gazetteer_hits(table.tok_h, row_id, gaz):
        if gaz_dropout_mod > 0:
            with np.errstate(over="ignore"):
                occ = tok_h[hit] + row_id[hit].astype(np.uint64) * _FNV_OCC
            kept = occ % np.uint64(gaz_dropout_mod) != 0
            hit, hc = hit[kept], hc[kept]
        add(hit, _F_GAZ_B + hc)
        for off in range(1, ln):
            add(hit + off, _F_GAZ_I + hc)

    feat_pos = np.concatenate(pos_list)
    feat_idx = np.concatenate(idx_list)
    return (feat_pos, feat_idx), table


def silver_tags(texts: pd.Series, candidate_dict: pd.DataFrame) -> np.ndarray:
    """Auto-annotation (SURVEY §2C step 3): the dictionary labeler's
    decoded tags as flat per-token BIO tag ids, aligned with
    ``token_table(texts)``."""
    _tokenized, tok_mask, tags = decode_batch(
        texts, build_gazetteer(candidate_dict), build_transitions())
    out = np.zeros(tok_mask.size, np.int64)
    out[tok_mask] = tags
    return out


def _emissions(feat_pos, feat_idx, W, n_tok):
    # Segmented sum of active-feature weight rows per token. np.bincount
    # per tag column, NOT np.add.at: add.at is an unbuffered per-element
    # scatter (measured 2.0s of a 2.9s 10k-row decode batch); 9 bincounts
    # over the same index array are C-vectorized (~15x faster here).
    em = np.empty((n_tok, N_TAGS), np.float32)
    for t in range(N_TAGS):
        em[:, t] = np.bincount(feat_pos, weights=W[feat_idx, t],
                               minlength=n_tok)
    return em


def sample_texts(parquet_path: str, n: int, seed: int = 20260817) -> pd.Series:
    """Seeded uniform sample of ``n`` text values WITHOUT loading the whole
    column: parquet row count comes from metadata, then ``take`` fetches
    only the sampled rows of the ``text`` column (a full-column pandas read
    of a 10^8-turn table would OOM the driver for a 2000-row sample).

    Round 1/2 took the table HEAD — fine on the homogeneous fixture, but a
    head is source/time-biased on any real ordered table (the first n rows
    of a crawl are one site; of a log, one day). Seeded choice-without-
    replacement over the row index is deterministic across runs and
    partition layouts (parquet row order is the file order, stable)."""
    import pyarrow.dataset as ds

    d = ds.dataset(parquet_path)
    total = d.count_rows()
    if total <= n:
        return d.to_table(columns=["text"]).column("text").to_pandas()
    rng = np.random.default_rng(seed)
    idx = np.sort(rng.choice(total, size=n, replace=False))
    return d.take(idx, columns=["text"]).column("text").to_pandas()


def dict_holdout_split(candidate_dict: pd.DataFrame, mod: int = 5):
    """Deterministically withhold ~1/mod of BASE entity ids from the
    dictionary — the generalization protocol for the trained labeler
    (SURVEY.md §2C steps 3-5: the reference's CRF exists to tag entities
    NOT in the lexicon; this split measures exactly that).

    Returns ``(train_dict, withheld_aliases)``: ``train_dict`` drops every
    alias row of the withheld entities (variant ids ``X~v1`` follow their
    base id so no alias of a withheld entity leaks), and
    ``withheld_aliases`` is the set of normalized aliases belonging ONLY
    to withheld entities (aliases shared with kept entities — e.g. an
    ambiguous first name — stay trainable and are excluded from the
    withheld evaluation slice)."""
    base = candidate_dict["entity_id"].str.split("~").str[0]
    withheld = pd.util.hash_pandas_object(base, index=False) % mod == 0
    withheld_ids = set(base[withheld])
    is_wh = base.isin(withheld_ids)
    train_dict = candidate_dict[~is_wh].reset_index(drop=True)
    withheld_aliases = (
        set(candidate_dict.loc[is_wh, "alias"]) - set(train_dict["alias"]))
    return train_dict, withheld_aliases


def drop_texts_mentioning(texts: pd.Series, aliases: set[str]) -> pd.Series:
    """Filter out rows whose normalized text contains any of ``aliases``
    as a substring — keeps withheld entities truly unseen at train time
    (their occurrences would otherwise be silver-tagged O, teaching the
    model to suppress exactly the spans the holdout gate measures)."""
    low = texts.str.lower().str.split().str.join(" ")
    hit = pd.Series(False, index=texts.index)
    for a in aliases:
        hit |= low.str.contains(a, regex=False)
    return texts[~hit].reset_index(drop=True)


def fit_perceptron(texts: pd.Series, candidate_dict: pd.DataFrame,
                   epochs: int = 60, D: int = 1 << 18,
                   lr: float = 1.0,
                   gaz_dropout_mod: int = 3,
                   n_clusters: int = 32) -> TrainedLabeler:
    """Averaged structured perceptron over dictionary auto-annotations.

    Deterministic: full-batch decode/update per epoch, no RNG anywhere
    (the gazetteer dropout mask is a hash of token+row, not a draw).
    ``gaz_dropout_mod=3`` masks the gazetteer indicators on ~1/3 of hit
    occurrences during training so affix/shape/context features learn to
    tag entities NOT in the dictionary (measured on the sf0.001 holdout:
    withheld-entity span recall 0.45 -> see tests/test_train.py gate
    without/with dropout; in-dictionary P/R unchanged at >= 0.95).
    """
    texts = texts.reset_index(drop=True)
    gaz = build_gazetteer(candidate_dict)
    clusters = (build_word_clusters(texts, n_clusters=n_clusters)
                if n_clusters else None)
    (feat_pos, feat_idx), table = extract_features(
        texts, gaz, D, gaz_dropout_mod=gaz_dropout_mod, clusters=clusters)
    row_id, row_lengths = table.row_id, table.row_lengths
    n_tok = row_id.size
    if n_tok == 0:
        raise ValueError("no tokens to train on")
    gold = silver_tags(texts, candidate_dict)
    keep = row_lengths > 0
    row_lengths_nz = row_lengths[keep]
    # compact row ids over non-empty rows only (padding math needs it)
    rid = np.searchsorted(np.flatnonzero(keep), row_id)

    W = np.zeros((D, N_TAGS), np.float32)
    Tr = np.zeros((N_TAGS, N_TAGS), np.float32)
    Wsum = np.zeros_like(W)
    Trsum = np.zeros_like(Tr)

    # adjacent same-row token pairs, for transition updates
    same_row = row_id[1:] == row_id[:-1]
    pair_lo = np.flatnonzero(same_row)

    acc = 0.0
    ran = 0
    converged = False
    for _ep in range(epochs):
        em = _emissions(feat_pos, feat_idx, W, n_tok)
        em_pad, pos_in_row = pad_rows(em, rid, row_lengths_nz)
        tags_pad = viterbi_batch(em_pad, build_transitions(Tr))
        pred = tags_pad[rid, pos_in_row].astype(np.int64)

        wrong = pred != gold
        acc = 1.0 - wrong.mean()
        ran += 1
        if not wrong.any():
            converged = True
            break
        # emission updates: every feature active at a mismatched token
        g_at = gold[feat_pos]
        p_at = pred[feat_pos]
        m = g_at != p_at
        np.add.at(W, (feat_idx[m], g_at[m]), lr)
        np.add.at(W, (feat_idx[m], p_at[m]), -lr)
        # transition updates where the (prev, cur) pair differs
        gp = np.stack([gold[pair_lo], gold[pair_lo + 1]])
        pp = np.stack([pred[pair_lo], pred[pair_lo + 1]])
        pm = (gp != pp).any(axis=0)
        np.add.at(Tr, (gp[0, pm], gp[1, pm]), lr)
        np.add.at(Tr, (pp[0, pm], pp[1, pm]), -lr)
        Wsum += W
        Trsum += Tr

    # On convergence the FINAL weights separate the training set exactly —
    # keep them (epoch-averaged weights reintroduce boundary errors on the
    # very spans the final iterate fixed: measured 0.984 vs 1.0 span-F1 on
    # the training corpus at sf0.01). Without convergence, fall back to the
    # epoch average, which is the noise-robust choice.
    if converged:
        return TrainedLabeler(W=W, trans=Tr, D=D, epochs_run=ran,
                              train_token_acc=float(acc), clusters=clusters)
    return TrainedLabeler(W=Wsum / max(ran, 1), trans=Trsum / max(ran, 1),
                          D=D, epochs_run=ran, train_token_acc=float(acc),
                          clusters=clusters)


MODEL_FORMAT_VERSION = 2  # bump when features / training semantics change


def _train_fingerprint(texts: pd.Series, candidate_dict: pd.DataFrame,
                       **params) -> str:
    """Content hash of (training texts, dictionary, hyperparameters) —
    the disk-cache key. Row-order sensitive by design (training is)."""
    import json

    h = hashlib.sha256()
    h.update(json.dumps({**params, "v": MODEL_FORMAT_VERSION},
                        sort_keys=True).encode())
    h.update(pd.util.hash_pandas_object(texts, index=False)
             .to_numpy().tobytes())
    for col in ("alias", "entity_id", "ent_class"):
        h.update(pd.util.hash_pandas_object(candidate_dict[col], index=False)
                 .to_numpy().tobytes())
    return h.hexdigest()[:24]


def save_model(model: TrainedLabeler, path: str) -> None:
    """Atomic npz write (tmp + rename) so a crashed writer never leaves a
    half-written model for a concurrent reader."""
    import os

    cl = model.clusters or {}
    tmp = f"{path}.tmp{os.getpid()}.npz"  # savez appends .npz otherwise
    np.savez(tmp, W=model.W, trans=model.trans,
             meta=np.array([model.D, model.epochs_run], np.int64),
             acc=np.array([model.train_token_acc], np.float64),
             cluster_words=np.array(list(cl.keys()), dtype="U64"),
             cluster_ids=np.array(list(cl.values()), np.int64))
    os.replace(tmp, path)


def load_model(path: str) -> TrainedLabeler:
    z = np.load(path)
    d, ep = (int(x) for x in z["meta"])
    clusters = None
    if "cluster_words" in z.files and len(z["cluster_words"]):
        clusters = {w: int(c) for w, c in
                    zip(z["cluster_words"].tolist(),
                        z["cluster_ids"].tolist())}
    return TrainedLabeler(W=z["W"], trans=z["trans"], D=d, epochs_run=ep,
                          train_token_acc=float(z["acc"][0]),
                          clusters=clusters)


def fit_or_load(texts: pd.Series, candidate_dict: pd.DataFrame,
                cache_dir: str | None = None, **fit_kw) -> TrainedLabeler:
    """``fit_perceptron`` behind a content-addressed disk cache: repeated
    bench/driver invocations in fresh processes reuse the trained weights
    instead of re-running 10-60 full-batch epochs (the round-2 verdict's
    slowest query, kg_span_eval_per_class, re-trained per process)."""
    import os

    if cache_dir is None:
        return fit_perceptron(texts, candidate_dict, **fit_kw)
    key = _train_fingerprint(texts, candidate_dict, **fit_kw)
    path = os.path.join(cache_dir, f"perceptron_{key}.npz")
    if os.path.exists(path):
        return load_model(path)
    model = fit_perceptron(texts, candidate_dict, **fit_kw)
    os.makedirs(cache_dir, exist_ok=True)
    save_model(model, path)
    return model
