"""Seeded inputs for the benchmark workloads.

Every workload's inputs derive from one integer seed. They are built
outside the timed region and cached on disk by (workload, seed, size), so
a second run of the same seed reuses them. The program under test only
ever sees the generated files:

* ``transcripts/`` -- parquet part files, the batch entry's input;
* ``candidate_dict.parquet`` -- the entity dictionary;
* ``stream/`` -- (kg_stream, and the stream probe of traced runs) one file
  per micro-batch, file k holding the k-th slice of every conversation's
  turns, with strictly increasing mtimes;
* ``warm/``, ``warm_stream/``, ``warm_dict.parquet`` -- a small slice of
  the corpus, as batch and as stream input, and the stock dictionary:
  the warm-up iteration's inputs.

The reference set each output is checked against lives beside them
(``reference.parquet``): planted gold with the conv_id suffix of each
replica for the batch workloads, and the batch path's raw triples on the
same corpus for kg_stream (built with Spark on first use, see
``ensure_stream_reference``).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import uuid
from dataclasses import asdict, dataclass

import numpy as np
import pandas as pd

KEY = ["subj", "pred", "obj", "conv_id", "turn_idx"]

# bump when the layout or the generation recipe changes: old cache dirs
# are then ignored (and evicted)
VERSION = 3
# sf0.1 shape: ~12 turns per conversation, one conversation holds 5% of turns
AVG_TURNS = 12
HOT_FRAC = 0.05
# the warm-up slice holds one conversation in this many
WARM_EVERY = 32
# input dirs kept per workload before the oldest is evicted
CACHE_KEEP = 12
# file k's mtime is STREAM_MTIME0 + k seconds: the file source orders its
# listing by mtime, so the slices arrive in turn order
STREAM_MTIME0 = 1_750_000_000


@dataclass(frozen=True)
class Size:
    """The size knobs of one workload's inputs (part of the cache key)."""

    base_convs: int  # conversations generated from the seed
    replicas: int = 1  # copies of the base corpus, conv_id-suffixed
    parts: int = 8  # transcripts part files
    stream_files: int = 0  # micro-batch files (0: no stream input)
    stream_convs: int = 0  # conversations in the stream input (0: all)
    added_entities: int = 0  # dictionary growth (kg_bigdict)
    big_blocks: tuple[int, ...] = ()  # sizes of the large canon blocks


def _write_parquet(df: pd.DataFrame, path: str) -> None:
    # microsecond timestamps: Spark's vectorized parquet reader rejects
    # TIMESTAMP(NANOS) columns
    df.to_parquet(path, index=False, coerce_timestamps="us",
                  allow_truncated_timestamps=True)


def _write_parts(df: pd.DataFrame, out_dir: str, parts: int) -> None:
    os.makedirs(out_dir)
    bounds = np.linspace(0, len(df), parts + 1).astype(int)
    for i in range(parts):
        _write_parquet(df.iloc[bounds[i]:bounds[i + 1]],
                       os.path.join(out_dir, f"part-{i:05d}.parquet"))


def replicate(transcripts: pd.DataFrame, gold: pd.DataFrame,
              replicas: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Copies of the corpus whose conv_ids carry a ``_r<i>`` suffix, and
    the gold triples replicated the same way. Replica 0 keeps the bare
    conv_ids when ``replicas == 1``."""
    if replicas == 1:
        return transcripts, gold
    ts, gs = [], []
    for i in range(replicas):
        t = transcripts.copy()
        t["conv_id"] = t["conv_id"] + f"_r{i}"
        g = gold.copy()
        g["conv_id"] = g["conv_id"] + f"_r{i}"
        ts.append(t)
        gs.append(g)
    return (pd.concat(ts, ignore_index=True),
            pd.concat(gs, ignore_index=True))


def stream_slices(transcripts: pd.DataFrame, k: int) -> list[pd.DataFrame]:
    """Split the corpus into ``k`` frames: frame j holds the j-th of k
    contiguous slices of every conversation's turns (in turn order)."""
    t = transcripts.sort_values(["conv_id", "turn_idx"], kind="mergesort")
    pos = t.groupby("conv_id").cumcount().to_numpy()
    n = t.groupby("conv_id")["turn_idx"].transform("size").to_numpy()
    slot = (pos * k) // n
    return [t[slot == j].reset_index(drop=True) for j in range(k)]


def write_stream_files(transcripts: pd.DataFrame, out_dir: str, k: int) -> None:
    os.makedirs(out_dir)
    for j, part in enumerate(stream_slices(transcripts, k)):
        path = os.path.join(out_dir, f"slice-{j:03d}.parquet")
        _write_parquet(part, path)
        os.utime(path, (STREAM_MTIME0 + j, STREAM_MTIME0 + j))


def lev_within(a: str, b: str, cap: int) -> bool:
    """True when the Levenshtein distance of a and b is at most ``cap``."""
    if abs(len(a) - len(b)) > cap:
        return False
    prev = list(range(len(b) + 1))
    for i in range(1, len(a) + 1):
        cur = [i] + [0] * len(b)
        for j in range(1, len(b) + 1):
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1,
                         prev[j - 1] + (a[i - 1] != b[j - 1]))
        if min(cur) > cap:
            return False
        prev = cur
    return prev[-1] <= cap


def block_sizes(added: int, big_blocks: tuple[int, ...]) -> list[int]:
    """The fixed (seed-independent) block-size mix: the given large blocks,
    then small blocks cycling through sizes 1, 1, 2, 3 until ``added``
    entities are placed."""
    sizes = list(big_blocks)
    left = added - sum(sizes)
    if left < 0:
        raise ValueError("big_blocks exceed added_entities")
    cycle = (1, 1, 2, 3)
    i = 0
    while left > 0:
        s = min(cycle[i % len(cycle)], left)
        sizes.append(s)
        left -= s
        i += 1
    return sizes


def grow_dictionary(candidate_dict: pd.DataFrame, texts: pd.Series,
                    added: int, big_blocks: tuple[int, ...],
                    rng: np.random.Generator) -> tuple[pd.DataFrame, int]:
    """Add ``added`` entities to the dictionary; returns (dictionary, number
    of planted typo variants).

    No added surface can occur in the text: every added surface starts
    with a word that is no token of the corpus or of the stock dictionary,
    so planted gold stays exact. Entities fall into (ent_class, first-token)
    blocks of the sizes ``block_sizes`` gives. Within a block the last
    words are pairwise more than 3 edits apart, and every other entity gets
    a ``~v1`` variant whose surface drops one middle letter of the last
    word (1 edit): canonicalization merges exactly the planted variants.
    """
    seen = set(" ".join(texts.str.lower()).split())
    seen |= set(" ".join(candidate_dict["alias"]).split())
    alpha = np.array(list("abcdefghijklmnopqrstuvwxyz"))

    def new_word(lo: int, hi: int) -> str:
        while True:
            w = "".join(rng.choice(alpha, size=int(rng.integers(lo, hi))))
            if w not in seen:
                seen.add(w)
                return w

    classes = ["PER", "ORG", "PROD", "PLACE"]
    rows = []
    planted = 0
    serial = 0
    for b, size in enumerate(block_sizes(added, big_blocks)):
        cls = classes[b % len(classes)]
        head = new_word(6, 9)
        tails: list[str] = []
        while len(tails) < size:
            w = new_word(7, 10)
            if not any(lev_within(w, t, 3) for t in tails):
                tails.append(w)
        for tail in tails:
            eid = f"bd{serial:06d}"
            serial += 1
            rows.append((f"{head} {tail}", eid,
                         0.85 + 0.15 * float(rng.random()), cls))
            if serial % 2 == 0:
                i = int(rng.integers(1, len(tail) - 1))
                rows.append((f"{head} {tail[:i] + tail[i + 1:]}", eid + "~v1",
                             0.7 + 0.15 * float(rng.random()), cls))
                planted += 1
    grown = pd.DataFrame(rows, columns=["alias", "entity_id", "prior",
                                        "ent_class"])
    grown["prior"] = grown["prior"].astype(np.float32)
    out = pd.concat([candidate_dict, grown], ignore_index=True)
    return out, planted


@dataclass
class Inputs:
    """Paths and facts of one built input dir."""

    root: str
    meta: dict

    @property
    def transcripts(self) -> str:
        return os.path.join(self.root, "transcripts")

    @property
    def candidate_dict(self) -> str:
        return os.path.join(self.root, "candidate_dict.parquet")

    @property
    def stream(self) -> str:
        return os.path.join(self.root, "stream")

    @property
    def warm(self) -> str:
        return os.path.join(self.root, "warm")

    @property
    def warm_stream(self) -> str:
        return os.path.join(self.root, "warm_stream")

    @property
    def warm_dict(self) -> str:
        return os.path.join(self.root, "warm_dict.parquet")

    @property
    def reference(self) -> str:
        return os.path.join(self.root, "reference.parquet")

    @property
    def digest_path(self) -> str:
        return os.path.join(self.root, "output_digest.json")


def cache_tag(workload: str, seed: int, size: Size) -> str:
    key = json.dumps({"w": workload, "seed": seed, "size": asdict(size),
                      "v": VERSION}, sort_keys=True)
    return f"{workload}-s{seed}-" + hashlib.sha256(key.encode()).hexdigest()[:10]


def build(workload: str, seed: int, size: Size, cache_dir: str) -> Inputs:
    """Build (or reuse) the inputs of ``workload`` at ``seed``."""
    from kgpipe.fixtures.generator import generate

    root = os.path.join(cache_dir, cache_tag(workload, seed, size))
    meta_path = os.path.join(root, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return Inputs(root, json.load(f))
    os.makedirs(cache_dir, exist_ok=True)
    tmp = os.path.join(cache_dir, f".tmp-{uuid.uuid4().hex}")
    os.makedirs(tmp)
    try:
        tables = generate(n_convs=size.base_convs, seed=seed,
                          avg_turns=AVG_TURNS, hot_frac=HOT_FRAC)
        t, gold = replicate(tables["transcripts"], tables["gold_triples"],
                            size.replicas)
        cd = tables["candidate_dict"]
        planted = 0
        if size.added_entities:
            # a separate stream so the corpus bytes do not depend on it
            rng = np.random.default_rng([seed, 1])
            cd, planted = grow_dictionary(cd, t["text"], size.added_entities,
                                          size.big_blocks, rng)
        _write_parts(t, os.path.join(tmp, "transcripts"), size.parts)
        _write_parquet(cd, os.path.join(tmp, "candidate_dict.parquet"))
        convs = t["conv_id"].drop_duplicates()
        # every WARM_EVERY-th conversation, leaving out the hot one
        warm = t[t["conv_id"].isin(set(convs.iloc[1::WARM_EVERY]))]
        _write_parts(warm, os.path.join(tmp, "warm"), 2)
        write_stream_files(warm, os.path.join(tmp, "warm_stream"),
                           size.stream_files or 2)
        _write_parquet(tables["candidate_dict"],
                       os.path.join(tmp, "warm_dict.parquet"))
        if size.stream_files:
            st = t
            if size.stream_convs:
                st = t[t["conv_id"].isin(set(convs.iloc[:size.stream_convs]))]
            write_stream_files(st, os.path.join(tmp, "stream"),
                               size.stream_files)
        else:
            st = None
        if workload != "kg_stream":
            _write_parquet(gold[KEY], os.path.join(tmp, "reference.parquet"))
        meta = {
            "workload": workload, "seed": seed, "size": asdict(size),
            "turns": int(len(t)), "conversations": int(len(convs)),
            "dict_rows": int(len(cd)), "dict_entities": int(cd["entity_id"].nunique()),
            "planted_variants": planted, "gold_triples": int(len(gold)),
            "stream_turns": int(len(st)) if st is not None else 0,
        }
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f)
        try:
            os.rename(tmp, root)
        except OSError:
            # another run built the same inputs first: use theirs
            shutil.rmtree(tmp, ignore_errors=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    _evict(cache_dir, workload, keep=root)
    with open(meta_path) as f:
        return Inputs(root, json.load(f))


def _evict(cache_dir: str, workload: str, keep: str) -> None:
    """Drop the oldest input dirs of ``workload`` beyond CACHE_KEEP."""
    dirs = [os.path.join(cache_dir, d) for d in os.listdir(cache_dir)
            if d.startswith(workload + "-s")]
    dirs.sort(key=os.path.getmtime)
    for d in dirs[:max(0, len(dirs) - CACHE_KEEP)]:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)


def ensure_stream_reference(spark, inputs: Inputs) -> None:
    """kg_stream's reference: the batch path's raw triples on the same
    corpus -- the stream == batch invariant. Built once per input dir."""
    if os.path.exists(inputs.reference):
        return
    from kgpipe.pipeline import read_transcripts, run_pipeline

    cd = pd.read_parquet(inputs.candidate_dict)
    out = run_pipeline(spark, read_transcripts(spark, inputs.stream), cd)
    ref = out["raw_triples"].select(*KEY).toPandas()
    tmp = inputs.reference + f".{uuid.uuid4().hex}.tmp"
    _write_parquet(ref, tmp)
    os.replace(tmp, inputs.reference)
