"""Canonicalization: similarity join + connected components -> canon map
(SURVEY.md A10-A12; BASELINE.json: "canonicalization via GraphFrames-style
connected components on a salted similarity join"). The id rewrite itself
happens in the digest UDF's link map (operators/relations.py
turn_digests), so no join ever rewrites the triples.

GraphFrames is not installable offline (SURVEY.md §4.4), and the phrase is
"GraphFrames-STYLE": connected components are hand-rolled DataFrame code.

Connected components use the alternating large-star / small-star
algorithm of Kiveris et al., "Connected Components in MapReduce and Beyond"
(SOCC'14): provably O(log^2 n) rounds on any graph, each round two shuffles
(groupBy min + join). This is the 100-TB path.

Every iteration ``localCheckpoint()``s to truncate lineage (SURVEY.md §4.2).

Similarity-join scaling: candidate pairs are generated ONLY within a blocking
key (ent_class, first token, length bucket) — an equi-join Catalyst can
shuffle-partition — and the quadratic Levenshtein filter runs per block.
Skewed blocks are covered by AQE skew-join splitting (enabled in session.py);
at 100-TB scale block caps / salting bound the worst block.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def entity_surfaces(dict_df: DataFrame) -> DataFrame:
    """entity_id -> its best (highest-prior) normalized alias + class."""
    return dict_df.groupBy("entity_id").agg(
        F.max_by("alias", F.struct("prior", "alias")).alias("surface"),
        F.first("ent_class").alias("ent_class"),
    )


# All-pairs candidate generation runs only inside blocks up to this size;
# bigger blocks (an adversarial shared-prefix dictionary puts millions of
# surfaces behind one first token) switch to a sorted-neighborhood rank
# band, bounding per-block candidates at O(b*W) instead of O(b^2). W trades
# recall for work: true lev<=2 duplicates share long prefixes and sort
# adjacently, so a small band recovers them; pairs > W ranks apart inside
# an over-cap block are the one disclosed recall bound of this operator.
CANON_BLOCK_CAP = 1024
CANON_SORT_WINDOW = 8


def similarity_edges(surfaces: DataFrame, max_lev: int = 2,
                     block_cap: int = CANON_BLOCK_CAP,
                     sort_window: int = CANON_SORT_WINDOW) -> DataFrame:
    """Candidate duplicate pairs (src < dst) via blocked Levenshtein join.

    Two-tier blocking keeps the worst block bounded at any scale:

    * blocks (ent_class, first token) with <= ``block_cap`` members get the
      exact all-pairs equi-join (quadratic only within the cap);
    * bigger blocks get the sorted-neighborhood method (Hernandez & Stolfo,
      SIGMOD'95): rank members by surface inside the block and pair only
      rows <= ``sort_window`` ranks apart — candidates are O(b*W) and the
      band join is a plain equi-join on (block, rank+k), so Catalyst
      shuffle-partitions it like any other key. The per-block rank itself
      is one window sort over b NARROW rows (bounded task = O(b log b)
      time, O(b) rows — the b^2 join blow-up is what the cap removes; a
      block too big even to sort in one task would need salted range
      ranks, which the dictionary sizes this engine targets don't reach).

    ``block_cap=None`` disables capping (the exact reference used by the
    equality gate on small dictionaries)."""
    s = surfaces.select(
        "entity_id",
        "surface",
        "ent_class",
        F.split(F.col("surface"), " ").getItem(0).alias("block_tok"),
        F.length("surface").alias("slen"),
    )

    def finish(pairs: DataFrame) -> DataFrame:
        # cheap length filter before the quadratic edit distance
        return (
            pairs.filter(F.abs(F.col("a_slen") - F.col("b_slen")) <= max_lev)
            .filter(F.levenshtein(F.col("a_surface"),
                                  F.col("b_surface")) <= max_lev)
            .select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
        )

    def allpairs(src: DataFrame) -> DataFrame:
        a = src.alias("a")
        b = src.alias("b")
        return a.join(
            b,
            (F.col("a.ent_class") == F.col("b.ent_class"))
            & (F.col("a.block_tok") == F.col("b.block_tok"))
            & (F.col("a.entity_id") < F.col("b.entity_id")),
            "inner",
        ).select(
            F.col("a.entity_id").alias("a_id"),
            F.col("b.entity_id").alias("b_id"),
            F.col("a.surface").alias("a_surface"),
            F.col("b.surface").alias("b_surface"),
            F.col("a.slen").alias("a_slen"),
            F.col("b.slen").alias("b_slen"),
        )

    if block_cap is None:
        return finish(allpairs(s))

    # block sizing via groupBy (map-side combine to one row per block) +
    # broadcast join back — NOT a count-over-window, which would shuffle
    # every surface row into size-skewed window partitions just to learn
    # its block size. #blocks ~ first-token vocabulary: broadcastable far
    # beyond dictionary scales that themselves stopped being broadcastable.
    sizes = s.groupBy("ent_class", "block_tok").agg(
        F.count(F.lit(1)).alias("bsz"))
    sized = s.join(F.broadcast(sizes), ["ent_class", "block_tok"])
    small = sized.filter(F.col("bsz") <= block_cap).drop("bsz")

    big = sized.filter(F.col("bsz") > block_cap).drop("bsz")
    # global per-block rank WITHOUT a per-block window (an over-cap block
    # is by definition too big for a single window partition): sub-bucket
    # on an order-consistent sort-key prefix (string prefix order agrees
    # with full-string order), row_number inside the small sub-buckets,
    # then add each sub-bucket's cumulative offset — computed on the TINY
    # (block, sub-bucket) count table. Rank values are identical to a
    # single global window; only the partitioning is bounded. The one
    # adversarial residue: surfaces sharing the whole 12-char prefix
    # beyond the first token collapse into one sub-bucket again (the
    # count table grows with prefix length — 12 keeps it at one row per
    # distinct prefix, still tiny relative to the surfaces themselves,
    # while a block would need to share token + 12 further chars across
    # millions of members to degenerate).
    sub = big.withColumn(
        "rb", F.expr("substring(surface, length(block_tok) + 2, 12)"))
    counts = sub.groupBy("ent_class", "block_tok", "rb").agg(
        F.count(F.lit(1)).alias("cnt"))
    offs = counts.withColumn(
        "off",
        F.coalesce(
            F.sum("cnt").over(
                Window.partitionBy("ent_class", "block_tok").orderBy("rb")
                .rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0))).drop("cnt")
    subw = Window.partitionBy("ent_class", "block_tok", "rb").orderBy(
        "surface", "entity_id")
    ranked = (
        sub.withColumn("r_in", F.row_number().over(subw))
        .join(offs, ["ent_class", "block_tok", "rb"])
        .withColumn("rnk", (F.col("r_in") + F.col("off")).cast("int"))
        .drop("rb", "r_in", "off")
    )
    probe = ranked.withColumn(
        "k", F.explode(F.sequence(F.lit(1), F.lit(sort_window)))
    ).withColumn("rnk_b", F.col("rnk") + F.col("k"))
    r = ranked.select(
        F.col("ent_class").alias("r_class"),
        F.col("block_tok").alias("r_tok"),
        F.col("rnk").alias("rnk_b"),
        F.col("entity_id").alias("r_id"),
        F.col("surface").alias("r_surface"),
        F.col("slen").alias("r_slen"),
    )
    band = probe.join(
        r,
        (F.col("ent_class") == F.col("r_class"))
        & (F.col("block_tok") == F.col("r_tok"))
        & (probe["rnk_b"] == r["rnk_b"]),
        "inner",
    ).select(
        F.least("entity_id", "r_id").alias("a_id"),
        F.greatest("entity_id", "r_id").alias("b_id"),
        F.when(F.col("entity_id") <= F.col("r_id"),
               F.col("surface")).otherwise(F.col("r_surface"))
        .alias("a_surface"),
        F.when(F.col("entity_id") <= F.col("r_id"),
               F.col("r_surface")).otherwise(F.col("surface"))
        .alias("b_surface"),
        F.when(F.col("entity_id") <= F.col("r_id"),
               F.col("slen")).otherwise(F.col("r_slen")).alias("a_slen"),
        F.when(F.col("entity_id") <= F.col("r_id"),
               F.col("r_slen")).otherwise(F.col("slen")).alias("b_slen"),
    )
    return finish(allpairs(small)).unionByName(finish(band))


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
    """candidate dictionary -> (entity_id, canonical_id) for merged ids.

    Surfaces are localCheckpointed: the two-tier similarity join reads them
    from three branches (block sizes, small-block all-pairs, big-block
    band), and without a materialization each branch would recompute the
    entity_surfaces aggregation from the raw dictionary."""
    edges = similarity_edges(entity_surfaces(dict_df).localCheckpoint())
    return connected_components(edges)


# --------------------------------------------------------------------------
# driver-side fast path for broadcast-sized dictionaries


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


def build_canon_map_local(candidate_dict, max_lev: int = 2):
    """Same (entity_id, canonical_id) mapping as build_canon_map, computed
    driver-side in pandas + union-find.

    The candidate dictionary is broadcast-sized BY CONSTRUCTION (it ships to
    every labeler worker), so the canon map derived from it never needs a
    cluster: blocked pairwise Levenshtein over a few thousand surfaces is
    microseconds-to-milliseconds, versus seconds of driver-loop latency for
    the iterative DataFrame CC. The distributed path (build_canon_map)
    remains the correct tool when canonicalizing an OPEN entity set (e.g.
    clustering emergent entities mined from the corpus itself) and is kept
    tested against this one (tests/test_cc.py::test_local_equals_distributed).

    Returns a pandas DataFrame (entity_id, canonical_id), non-roots only.
    """
    import pandas as pd

    df = candidate_dict[["entity_id", "alias", "prior", "ent_class"]].copy()
    # per entity: best surface = max by (prior, alias) — sort ascending and
    # take the last row per entity (same as Spark's max_by(struct(...)))
    cls_first = df.groupby("entity_id", sort=False)["ent_class"].first()
    df = df.sort_values(["prior", "alias"], kind="mergesort")
    best = (df.groupby("entity_id", sort=False).last().reset_index()
            [["entity_id", "alias"]].rename(columns={"alias": "surface"}))
    best["ent_class"] = best["entity_id"].map(cls_first)

    parent: dict[str, str] = {}

    def find(x: str) -> str:
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    def union(a: str, b: str) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo

    best["block"] = best["surface"].str.split(" ").str[0]
    for (_, _), grp in best.groupby(["ent_class", "block"], sort=False):
        rows = sorted(zip(grp["entity_id"], grp["surface"]))
        for i in range(len(rows)):
            for j in range(i + 1, len(rows)):
                ei, si = rows[i]
                ej, sj = rows[j]
                if abs(len(si) - len(sj)) <= max_lev and \
                        _lev(si, sj, max_lev) <= max_lev:
                    union(ei, ej)

    out = [(e, find(e)) for e in best["entity_id"] if find(e) != e]
    return pd.DataFrame(out, columns=["entity_id", "canonical_id"])
