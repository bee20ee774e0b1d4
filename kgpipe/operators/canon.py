"""Canonicalization: blocked similarity join + union-find -> canon map
(SURVEY.md A10-A12), composed into the digest UDF's link map
(operators/relations.py turn_digests), so no join rewrites the triples.

Candidates only pair members of one (ent_class, first token) block, so
every cluster lies inside one block and union-find runs per block:
``canon_blocks`` generates candidates, verifies them (a banded Levenshtein
DP vectorized over all pairs at once) and clusters the verified edges —
filter-then-verify (PAPERS.md ICDE'22), verify vectorized (CIDR'22).
``build_canon_map_local`` runs it once on the driver; ``build_canon_map``
per block through ``applyInPandas``.

``connected_components`` serves graphs whose edges cross any key (the LSH
near-dup graph, queries/textops.py): Kiveris et al.'s large/small star
(SOCC'14), O(log^2 n) rounds, hand-rolled since GraphFrames is not
installable offline (SURVEY.md §4.4).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def entity_surfaces(dict_df: DataFrame) -> DataFrame:
    """entity_id -> its best (highest-prior) normalized alias + class."""
    return dict_df.groupBy("entity_id").agg(
        F.max_by("alias", F.struct("prior", "alias")).alias("surface"),
        F.first("ent_class").alias("ent_class"),
    )


# Blocks up to CANON_BLOCK_CAP members pair every two members; bigger ones
# (a shared-prefix dictionary can put millions of surfaces behind one first
# token) pair members <= CANON_SORT_WINDOW ranks apart by (surface, id):
# sorted neighborhood (Hernandez & Stolfo, SIGMOD'95), O(b*W) candidates.
# Pairs > W ranks apart in an over-cap block are the disclosed recall bound.
CANON_BLOCK_CAP = 1024
CANON_SORT_WINDOW = 8
# candidate pairs verified together: bounds the DP's working set
_VERIFY_BATCH = 1 << 17


def code_points(strings: list[str]):
    """(cp, off, ln): string s is ``cp[off[s]:off[s] + ln[s]]`` in one flat
    code-point array, followed by 4 entries the DP may read past the end."""
    ln = np.fromiter(map(len, strings), np.int64, len(strings))
    cp = np.concatenate([
        np.frombuffer("".join(strings).encode("utf-32-le"), np.uint32),
        np.zeros(4, np.uint32)])
    return cp, np.cumsum(ln) - ln, ln


def lev_within_2(cp: np.ndarray, off: np.ndarray, ln: np.ndarray,
                 a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """``lev(s[a[p]], s[b[p]]) <= 2`` per pair p of ``code_points`` strings,
    as Spark's ``F.levenshtein``: one DP over all pairs within 2 in length,
    row i keeping cells j = i-2..i+2 (a path of cost <= 2 stays there). A
    pair leaves at row la (answer D[la][lb]) or once all 5 cells exceed 2;
    cells past the end of b hold garbage that D[la][lb] never reads."""
    la, lb = ln[a], ln[b]
    out = np.zeros(len(a), bool)
    idx = np.flatnonzero(np.abs(la - lb) <= 2)
    la, lb, oa, ob = la[idx], lb[idx], off[a[idx]], off[b[idx]]
    # DP row 0, cells j = -2..2; 3 stands for any distance > 2
    row = np.tile(np.array([3, 3, 0, 1, 2], np.int8), (len(idx), 1))
    i = 0
    while True:
        end = la == i
        out[idx[end]] = row[end, lb[end] - i + 2] <= 2
        live = ~end & (row.min(axis=1) <= 2)
        if not live.any():
            return out
        idx, la, lb, oa, ob, row = (x[live] for x in (idx, la, lb, oa, ob,
                                                      row))
        i += 1
        ai = cp[oa + i - 1]
        new = np.empty_like(row)
        left = 3  # D[i][j-1]; cell d holds j = i + d - 2
        for d in range(5):
            # diagonal D[i-1][j-1] compares a[i-1] with b[j-1]; up D[i-1][j]
            # is cell d+1 of the previous row (outside the band at d = 4)
            cell = row[:, d] + (ai != cp[ob + i + d - 3])
            if d < 4:
                cell = np.minimum(cell, row[:, d + 1] + 1)
            new[:, d] = left = np.minimum(np.minimum(cell, left + 1), 3)
        row = new


def _sorted_blocks(surfaces: pd.DataFrame) -> pd.DataFrame:
    """(entity_id, surface, ent_class) + block, sorted by (ent_class, block,
    surface, entity_id). A null id, class or surface never merges."""
    s = surfaces[["entity_id", "surface", "ent_class"]].dropna()
    s = s.assign(block=s["surface"].str.split(" ", n=1).str[0])
    return s.sort_values(["ent_class", "block", "surface", "entity_id"],
                         ignore_index=True)


def _candidates(s: pd.DataFrame):
    """Batches of candidate pairs (r, r + k) over ``_sorted_blocks`` rows:
    1 <= k < b in blocks of b <= CANON_BLOCK_CAP members, else
    1 <= k <= CANON_SORT_WINDOW."""
    g = s.groupby(["ent_class", "block"], sort=False)
    size = g["entity_id"].transform("size").to_numpy()
    after = size - g.cumcount().to_numpy() - 1  # members ranked later
    lim = np.where(size <= CANON_BLOCK_CAP, after,
                   np.minimum(after, CANON_SORT_WINDOW))
    src, k, batch = np.flatnonzero(lim > 0), 1, []
    while len(src):
        batch.append((src, src + k))
        k += 1
        src = src[lim[src] >= k]
        if sum(len(r) for r, _ in batch) >= _VERIFY_BATCH or not len(src):
            a, b = (np.concatenate(x) for x in zip(*batch))
            for j in range(0, len(a), _VERIFY_BATCH):
                yield a[j:j + _VERIFY_BATCH], b[j:j + _VERIFY_BATCH]
            batch = []


def _roots(u: np.ndarray, v: np.ndarray, n: int) -> np.ndarray:
    """Union-find over nodes 0..n-1 -> each node's root, its component's
    min: compress paths, hook the larger root of each crossing edge."""
    p = np.arange(n)
    while True:
        while not np.array_equal(p[p], p):
            p = p[p]
        ru, rv = p[u], p[v]
        cross = ru != rv
        if not cross.any():
            return p
        np.minimum.at(p, np.maximum(ru, rv)[cross], np.minimum(ru, rv)[cross])


def canon_blocks(surfaces: pd.DataFrame) -> pd.DataFrame:
    """(entity_id, surface, ent_class) of any number of whole blocks ->
    (entity_id, canonical_id) for merged ids, non-roots only; canonical =
    the component's min id."""
    s = _sorted_blocks(surfaces)
    cp, off, ln = code_points(s["surface"].tolist())
    # lev(p + x, p + y) = lev(x, y), and every member of a block starts
    # with its block token: verify only what follows the token
    skip = s["block"].str.len().to_numpy()
    off, ln = off + skip, ln - skip
    src, dst = [np.zeros(0, np.int64)], [np.zeros(0, np.int64)]
    for a, b in _candidates(s):
        ok = lev_within_2(cp, off, ln, a, b)
        src.append(a[ok])
        dst.append(b[ok])
    ids, node = np.unique(s["entity_id"].to_numpy()[np.concatenate(src + dst)],
                          return_inverse=True)
    root = _roots(node[:len(node) // 2], node[len(node) // 2:], len(ids))
    moved = root != np.arange(len(ids))
    return pd.DataFrame({"entity_id": ids[moved],
                         "canonical_id": ids[root[moved]]})


def _edges_fingerprint(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(src, dst))"), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def connected_components(edges: DataFrame, max_iter: int = 25) -> DataFrame:
    """edges (src, dst) -> (entity_id, canonical_id), canonical = cluster min.

    Only non-root members appear in the output; callers coalesce identity.
    """
    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    e = e.distinct().localCheckpoint()
    prev_fp = None
    for _ in range(max_iter):
        # --- large star: for each u, connect every neighbor v > u to
        #     m = min(N(u) ∪ {u})
        sym = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        mins = sym.groupBy("src").agg(
            F.least(F.min("dst"), F.first("src")).alias("m"))
        large = (
            sym.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
        )
        # --- small star: orient edges (big -> small); connect every small
        #     neighbor (and u itself) to m = min(N⁻(u) ∪ {u})
        oriented = large.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        ).distinct()
        mins2 = oriented.groupBy("src").agg(F.min("dst").alias("m"))
        small = (
            oriented.join(mins2, "src")
            .select(F.col("dst").alias("v"), F.col("m"))
            .unionByName(mins2.select(F.col("src").alias("v"), F.col("m")))
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("src"), F.col("m").alias("dst"))
            .distinct()
        )
        e = small.localCheckpoint()
        fp = _edges_fingerprint(e)
        if fp == prev_fp:
            break
        prev_fp = fp
    # converged: every edge is (member, root)
    return e.select(F.col("src").alias("entity_id"),
                    F.col("dst").alias("canonical_id"))


def build_canon_map(dict_df: DataFrame) -> DataFrame:
    """candidate dictionary -> (entity_id, canonical_id) for merged ids:
    ``canon_blocks`` per (ent_class, first token) block. Any block fits in
    one Python worker: it is at most the whole dictionary, which every
    worker already holds as the gazetteer broadcast."""
    return entity_surfaces(dict_df).groupBy(
        "ent_class", F.split("surface", " ").getItem(0).alias("block")
    ).applyInPandas(canon_blocks, "entity_id string, canonical_id string")


def build_canon_map_local(candidate_dict: pd.DataFrame) -> pd.DataFrame:
    """Same (entity_id, canonical_id) mapping as build_canon_map as pandas,
    non-roots only: ``canon_blocks`` over every block at once, on the
    driver. The dictionary is broadcast-sized by construction (it ships to
    every labeler worker), so this needs no Spark job."""
    df = candidate_dict[["entity_id", "alias", "prior", "ent_class"]]
    # per entity: best surface = max by (prior, alias) — sort ascending and
    # take the last row per entity (same as Spark's max_by(struct(...)))
    cls_first = df.groupby("entity_id", sort=False)["ent_class"].first()
    df = df.sort_values(["prior", "alias"], kind="mergesort")
    best = (df.groupby("entity_id", sort=False).last().reset_index()
            [["entity_id", "alias"]].rename(columns={"alias": "surface"}))
    best["ent_class"] = best["entity_id"].map(cls_first)
    return canon_blocks(best)
