"""Deterministic transcripts / candidate-dictionary / gold-triples generator.

FIXTURES.md §A: the reference binary cannot run in this sandbox (empty
reference dir, its CRF deps uninstallable), so gold triples are known **by
construction**: every relation the generator plants is recorded in the gold
table, and the pipeline's P/R>=0.95 bar (BASELINE.json) is measured against
planted gold.

Design invariants that make extraction exactly recoverable:

* Entity-name words are pairwise Levenshtein >= 5 apart, so the
  similarity-join threshold (lev <= 2) merges typo variants with their
  canonical surface and can never merge two distinct entities (two typo'd
  variants of different entities are still >= 3 apart).
* Typo variants only ever mutate the LAST word of a surface, so the
  similarity join's blocking key (ent_class, first token) is stable.
* Predicate phrases ({works at, released, met, in}) appear between two
  mentions only when a relation is planted; filler vocabulary is disjoint
  from predicate words and entity words, so precision is 1.0 by design.
* A turn carries >= 2 mentions only when it is a relation turn.
* Cross-turn relations (the turn-window case, SURVEY.md A8) are planted as
  (intro-turn with exactly one mention) followed immediately by a
  dangling-predicate turn; the extractor resolves the subject as the most
  recent mention within the turn window.
* ~half of typo aliases map to a *variant entity id* ``<id>~v1`` in the
  candidate dictionary — canonicalization (similarity join + connected
  components) must re-merge them onto the base id; gold always uses base ids.

Everything derives from one integer seed via ``numpy.random.default_rng``;
the row set is identical across runs and partition counts.
"""

from __future__ import annotations

import hashlib
import json
import os
from datetime import datetime, timedelta, timezone

import numpy as np
import pandas as pd

# predicate surface phrase -> predicate id: the fixture plants relations
# using the ENGINE's default predicate table (kgpipe.predicates) — the
# fixture depends on engine config, never the reverse.
from kgpipe.predicates import DEFAULT_PRED_PHRASES as PRED_PHRASES

# Filler vocabulary: disjoint from predicate words and (lowercase) entity
# words. Entity words are generated >= 5 chars from a separate rng stream and
# checked against this set.
FILLER = (
    "ok so anyway basically regarding update note that we should check the "
    "latest status before our next sync please review and confirm details "
    "thanks for flagging this item earlier today will follow up shortly "
    "sounds good let me verify quickly running query now done result looks "
    "fine moving on next topic agenda covers three points first second third"
).split()

ORG_SUFFIX = ["Corp", "Labs", "Systems", "Group", "Dynamics", "Holdings"]
PLACE_PREFIX = ["Port", "Lake", "Mount", "East", "West", "Fort"]
PRODUCT_SUFFIX = ["Engine", "Suite", "Platform", "Toolkit", "Studio"]

_ALPHA = np.array(list("abcdefghijklmnopqrstuvwxyz"))
_BANNED = set(FILLER) | set(PRED_PHRASES) | {"works", "at"}


def _lev(a: str, b: str) -> int:
    if abs(len(a) - len(b)) > 4:
        return 5  # early out; we only care about the <4 band
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _gen_words(rng: np.random.Generator, n: int, min_dist: int = 5) -> list[str]:
    """n distinct lowercase words, pairwise Levenshtein >= min_dist."""
    words: list[str] = []
    while len(words) < n:
        ln = int(rng.integers(5, 9))
        w = "".join(rng.choice(_ALPHA, size=ln))
        if w in _BANNED:
            continue
        if all(_lev(w, x) >= min_dist for x in words):
            words.append(w)
    return words


def _typo(word: str, rng: np.random.Generator) -> str:
    """Drop one middle character — Levenshtein distance exactly 1."""
    i = int(rng.integers(1, len(word) - 1))
    return word[:i] + word[i + 1 :]


def _norm(s: str) -> str:
    return " ".join(s.lower().split())


class Registry:
    """Closed entity registry: canonical ids, surfaces, alias variants."""

    def __init__(self, rng: np.random.Generator, n_person: int, n_org: int,
                 n_product: int, n_place: int):
        n_first = max(4, n_person // 3)  # repeated first names -> ambiguous
        # abbreviation aliases (top-k ranking exercise; never planted in text)
        firsts = [w.capitalize() for w in _gen_words(rng, n_first)]
        lasts = [w.capitalize() for w in _gen_words(rng, n_person)]
        orgw = [w.capitalize() for w in _gen_words(rng, n_org)]
        prodw = [w.capitalize() for w in _gen_words(rng, n_product)]
        placew = [w.capitalize() for w in _gen_words(rng, n_place)]

        rows = []  # (entity_id, ent_class, surface)
        for i in range(n_person):
            first = firsts[int(rng.integers(0, n_first))]
            rows.append((f"person{i:05d}", "PER", f"{first} {lasts[i]}"))
        for i in range(n_org):
            rows.append((f"org{i:05d}", "ORG",
                         f"{orgw[i]} {ORG_SUFFIX[i % len(ORG_SUFFIX)]}"))
        for i in range(n_product):
            rows.append((f"product{i:05d}", "PROD",
                         f"{prodw[i]} {PRODUCT_SUFFIX[i % len(PRODUCT_SUFFIX)]}"))
        for i in range(n_place):
            rows.append((f"place{i:05d}", "PLACE",
                         f"{PLACE_PREFIX[i % len(PLACE_PREFIX)]} {placew[i]}"))
        self.df = pd.DataFrame(rows, columns=["entity_id", "ent_class", "surface"])

        # Alias table. Typo variants mutate the last word only (keeps the
        # blocking key stable); half the typo variants get a variant entity id
        # that connected components must merge back onto the base id.
        dict_rows = []  # (alias, entity_id, prior, ent_class)
        self.typo_surface: dict[str, str] = {}  # entity_id -> typo surface
        for k, (eid, cls, surf) in enumerate(
                self.df.itertuples(index=False, name=None)):
            parts = surf.split()
            dict_rows.append((_norm(surf), eid,
                              0.85 + 0.15 * float(rng.random()), cls))
            # abbreviation alias = first token (ambiguous across persons
            # sharing a first name — exercises top-k link ranking)
            dict_rows.append((_norm(parts[0]), eid,
                              0.5 + 0.2 * float(rng.random()), cls))
            typo_surf = " ".join(parts[:-1] + [_typo(parts[-1], rng)])
            typo_id = eid + "~v1" if k % 2 == 0 else eid
            self.typo_surface[eid] = typo_surf
            dict_rows.append((_norm(typo_surf), typo_id,
                              0.7 + 0.15 * float(rng.random()), cls))
        self.dict_df = (
            pd.DataFrame(dict_rows,
                         columns=["alias", "entity_id", "prior", "ent_class"])
            .drop_duplicates(subset=["alias", "entity_id"])
            .reset_index(drop=True)
        )
        self.dict_df["prior"] = self.dict_df["prior"].astype(np.float32)

        by_class = self.df.groupby("ent_class")["entity_id"].apply(list)
        self.ids = {c: by_class.get(c, []) for c in ["PER", "ORG", "PROD", "PLACE"]}
        self.surface_of = dict(zip(self.df.entity_id, self.df.surface))


def _render_mention(reg: Registry, eid: str, rng: np.random.Generator) -> str:
    """Surface-form noise: canonical (70%), typo alias (15%), case flip (15%)."""
    r = rng.random()
    surf = reg.surface_of[eid]
    if r < 0.15:
        return reg.typo_surface[eid]
    if r < 0.30:
        return surf.upper() if r < 0.225 else surf.lower()
    return surf


def _filler(rng: np.random.Generator, lo: int = 2, hi: int = 6) -> str:
    n = int(rng.integers(lo, hi))
    return " ".join(rng.choice(FILLER, size=n))


def generate(n_convs: int = 20, seed: int = 42, hot_frac: float = 0.3,
             avg_turns: int = 10) -> dict[str, pd.DataFrame]:
    """Build the fixture tables as pandas DataFrames.

    Returns dict with keys ``transcripts``, ``candidate_dict``,
    ``gold_triples``. One designated hot conversation (conv000000) holds
    ``hot_frac`` of all turns (skew exercise, SURVEY.md §5.2).
    """
    rng = np.random.default_rng(seed)
    # closed registry — capped so fixture generation stays O(1) in corpus size
    reg = Registry(rng,
                   n_person=min(400, max(8, n_convs // 4)),
                   n_org=min(200, max(6, n_convs // 6)),
                   n_product=min(150, max(5, n_convs // 8)),
                   n_place=min(100, max(5, n_convs // 8)))

    base_ts = datetime(2025, 1, 1, tzinfo=timezone.utc)
    roles = ["user", "assistant", "tool"]
    tools = ["search", "code", "db"]

    t_rows: list[tuple] = []
    g_rows: list[tuple] = []
    m_rows: list[tuple] = []  # gold mentions: every rendered surface

    total_turns = n_convs * avg_turns
    hot_turns = int(total_turns * hot_frac)

    def pick(cls: str) -> str:
        pool = reg.ids[cls]
        return pool[int(rng.integers(0, len(pool)))]

    def base(eid: str) -> str:
        return eid.split("~")[0]

    def rm(eid: str, cls: str, conv_id: str, ti: int) -> str:
        """_render_mention + gold-mention recording. Consumes exactly the
        same rng draws as a bare _render_mention call, so adding the gold
        mentions table changed NO transcript byte (the normalized surface
        is recorded because raw surfaces are perturbed by _spacenoise and
        case flips downstream; normalization is invariant to both)."""
        s = _render_mention(reg, eid, rng)
        m_rows.append((conv_id, ti, cls, _norm(s)))
        return s

    for ci in range(n_convs):
        conv_id = f"conv{ci:06d}"
        if ci == 0 and n_convs > 1:
            n_turns = max(4, hot_turns)
        else:
            n_turns = int(rng.integers(max(3, avg_turns - 4), avg_turns + 5))
        ts = base_ts + timedelta(seconds=int(rng.integers(0, 86400 * 30)))
        ti = 0
        while ti < n_turns:
            role = roles[int(rng.integers(0, 10)) % 3]
            tool = tools[int(rng.integers(0, 3))] if role == "tool" else None
            ts = ts + timedelta(seconds=int(rng.integers(5, 120)))
            r = rng.random()
            if r < 0.40 and ti > 0:
                kind = int(rng.integers(0, 3))
                if kind == 0:  # T1: P works at O
                    p, o = pick("PER"), pick("ORG")
                    text = (f"{_filler(rng)} {rm(p, 'PER', conv_id, ti)} works at "
                            f"{rm(o, 'ORG', conv_id, ti)} {_filler(rng)} .")
                    g_rows.append((p, "works_at", o, conv_id, ti))
                elif kind == 1:  # T2: O released X
                    o, x = pick("ORG"), pick("PROD")
                    text = (f"{rm(o, 'ORG', conv_id, ti)} released "
                            f"{rm(x, 'PROD', conv_id, ti)} {_filler(rng)} .")
                    g_rows.append((o, "released", x, conv_id, ti))
                else:  # T3: P met P2 in L  -> (P met P2), (P2 located_in L)
                    p = pick("PER")
                    p2 = pick("PER")
                    while p2 == p:
                        p2 = pick("PER")
                    pl = pick("PLACE")
                    text = (f"{rm(p, 'PER', conv_id, ti)} met "
                            f"{rm(p2, 'PER', conv_id, ti)} in "
                            f"{rm(pl, 'PLACE', conv_id, ti)} .")
                    g_rows.append((p, "met", p2, conv_id, ti))
                    g_rows.append((p2, "located_in", pl, conv_id, ti))
                t_rows.append((conv_id, ti, role, _spacenoise(text, rng), tool, ts))
                ti += 1
            elif r < 0.52 and ti + 1 < n_turns and ti > 0:
                # T4 cross-turn: intro turn (one mention), then dangling
                # predicate turn whose subject is resolved from the window.
                p, o = pick("PER"), pick("ORG")
                intro = f"{_filler(rng)} {rm(p, 'PER', conv_id, ti)} {_filler(rng)} ."
                t_rows.append((conv_id, ti, role, _spacenoise(intro, rng), tool, ts))
                ti += 1
                ts = ts + timedelta(seconds=int(rng.integers(5, 120)))
                role2 = roles[int(rng.integers(0, 10)) % 3]
                tool2 = tools[int(rng.integers(0, 3))] if role2 == "tool" else None
                dangle = (f"works at {rm(o, 'ORG', conv_id, ti)} "
                          f"{_filler(rng)} .")
                t_rows.append((conv_id, ti, role2, _spacenoise(dangle, rng), tool2, ts))
                g_rows.append((p, "works_at", o, conv_id, ti))
                ti += 1
            elif r < 0.70:
                # mention-only filler turn (exactly one mention, no relation)
                cls = ["PER", "ORG", "PROD", "PLACE"][int(rng.integers(0, 4))]
                e = pick(cls)
                text = f"{_filler(rng)} {rm(e, cls, conv_id, ti)} {_filler(rng)} ."
                t_rows.append((conv_id, ti, role, _spacenoise(text, rng), tool, ts))
                ti += 1
            else:
                t_rows.append((conv_id, ti, role, _filler(rng, 4, 10), tool, ts))
                ti += 1

    transcripts = pd.DataFrame(
        t_rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    transcripts["turn_idx"] = transcripts["turn_idx"].astype(np.int32)
    transcripts["ts"] = pd.to_datetime(transcripts["ts"], utc=True).dt.tz_localize(None)

    gold = pd.DataFrame(
        g_rows, columns=["subj", "pred", "obj", "conv_id", "turn_idx"])
    gold["subj"] = gold["subj"].map(base)
    gold["obj"] = gold["obj"].map(base)
    gold["turn_idx"] = gold["turn_idx"].astype(np.int32)
    gold = gold.drop_duplicates().reset_index(drop=True)

    gold_mentions = pd.DataFrame(
        m_rows, columns=["conv_id", "turn_idx", "ent_type", "surface_norm"])
    gold_mentions["turn_idx"] = gold_mentions["turn_idx"].astype(np.int32)

    return {
        "transcripts": transcripts,
        "candidate_dict": reg.dict_df,
        "gold_triples": gold,
        "gold_mentions": gold_mentions,
    }


def _spacenoise(text: str, rng: np.random.Generator) -> str:
    """~10% of turns get one doubled inter-word space (offset robustness)."""
    if rng.random() < 0.10:
        parts = text.split(" ")
        if len(parts) > 2:
            i = int(rng.integers(1, len(parts) - 1))
            parts[i] = " " + parts[i]
        return " ".join(parts)
    return text


# scale name -> (n_convs, avg_turns)
SCALES = {
    "unit": (20, 10),
    "sf0.001": (60, 10),
    "sf0.01": (400, 10),
    "sf0.1": (12000, 12),
}


# fixtures are cached in the checkout that holds this package
FIXTURES_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))), ".fixtures")


def materialize(scale: str, base_dir: str = FIXTURES_DIR,
                seed: int = 42) -> str:
    """Write the fixture parquet files for ``scale`` (cached, deterministic).

    Returns the directory containing transcripts.parquet,
    candidate_dict.parquet, gold_triples.parquet.
    """
    n_convs, avg_turns = SCALES[scale]
    # v6: + gold_mentions.parquet (every rendered mention, normalized
    # surface) — transcript bytes are IDENTICAL to v5 (the recording
    # consumes no rng draws), but the dir must regenerate to carry the
    # new table the kg_mentions_by_class oracle replays
    key = json.dumps({"scale": scale, "n": n_convs, "t": avg_turns,
                      "seed": seed, "v": 6})
    tag = hashlib.sha256(key.encode()).hexdigest()[:12]
    out = os.path.join(base_dir, f"{scale}-{tag}")
    marker = os.path.join(out, "_DONE")
    if os.path.exists(marker):
        return out
    os.makedirs(out, exist_ok=True)
    tables = generate(n_convs=n_convs, seed=seed, avg_turns=avg_turns,
                      hot_frac=0.3 if scale == "unit" else 0.05)
    for name, df in tables.items():
        # microsecond timestamps: Spark's vectorized parquet reader rejects
        # TIMESTAMP(NANOS) columns
        path = os.path.join(out, f"{name}.parquet")
        # transcripts: write a DIRECTORY of part files, not one small file.
        # Spark assigns scan tasks by file byte ranges, so a single
        # pandas-written ~25 MB file is ONE task no matter the core count —
        # an artifact of the fixture, not of the design (a real
        # transcripts table scans as far more splits than executors, which
        # is exactly what the pipeline's no-repartition scan relies on).
        # Part order is lexicographic, so PANDAS/PYARROW readers (the
        # training sample and every content fingerprint) see unchanged row
        # order. Spark schedules parquet splits by size, not path order, so
        # Spark-side row order is NOT preserved — and nothing relies on it:
        # every downstream ordering is explicit on (conv_id, turn_idx, ...)
        # per the BASELINE per-row invariant.
        n_parts = min(64, max(1, len(df) // 2000)) if name == "transcripts" \
            else 1
        if n_parts > 1:
            os.makedirs(path, exist_ok=True)
            for i, chunk in enumerate(np.array_split(df, n_parts)):
                chunk.to_parquet(
                    os.path.join(path, f"part-{i:05d}.parquet"), index=False,
                    coerce_timestamps="us", allow_truncated_timestamps=True)
        else:
            df.to_parquet(path, index=False, coerce_timestamps="us",
                          allow_truncated_timestamps=True)
    with open(marker, "w") as f:
        f.write(tag)
    return out
