"""Bench evidence for the LARGE-dictionary canonicalization path
(SURVEY.md A10-A12 above LOCAL_CANON_MAX_DICT), at a dictionary scale the
driver fixtures never reach. Both canon builders run the same per-block
function (operators/canon.py ``canon_blocks``: candidate pairs, all pairs
under the block cap and a sorted-neighborhood band inside over-cap
blocks, then a vectorized Levenshtein verify and union-find):
``build_canon_map`` per block through ``applyInPandas``, and
``build_canon_map_local`` over every block at once on the driver. The
bench times both on the same dictionary and fails unless their maps are
identical.

Synthesizes a deterministic ~1M-entity dictionary (seeded numpy):

* realistic region: first tokens zipf-drawn from a 3k vocab -> many
  modest blocks, paired all-pairs;
* planted duplicate clusters (pair of 1-edit variants per cluster) whose
  recovery rate is the correctness metric — a canon bench that only
  reports a wall could be fast by finding nothing;
* adversarial region: one shared-first-token block of 160k surfaces
  (>> CANON_BLOCK_CAP) with planted adjacent variants, exercising the
  sorted-neighborhood band that bounds the worst block.

Run per parallelism level (the JSON records the master); two levels give
the scaling-efficiency evidence for the distributed builder:

    KGPIPE_CANON_MASTER=local[8]  python bench_canon.py
    KGPIPE_CANON_MASTER=local[32] python bench_canon.py

Each run merges its result into .bench/canon.json (keyed by master);
bench.py inlines that file into the driver bench line.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np

# ~1M entities: big enough that the parallel join/CC compute dominates the
# fixed driver-round latency (at ~230k the job was latency-bound and the
# parallelism levels read as Amdahl floor, not the operator's scaling)
N_REALISTIC = 800_000
N_PLANTED_CLUSTERS = 40_000  # one 1-edit variant pair each
N_ADVERSARIAL = 150_000
N_ADV_PLANTED = 10_000
SEED = 7


def synth_dictionary():
    """Deterministic (entity_id, alias, prior, ent_class) pandas frame +
    the planted duplicate pairs (id_a, id_b) the run must merge."""
    import pandas as pd

    rng = np.random.default_rng(SEED)
    vocab = [f"tok{i:04d}" for i in range(3000)]
    # zipf-ish first-token draw, truncated to the vocab
    z = np.minimum(rng.zipf(1.3, N_REALISTIC) - 1, len(vocab) - 1)

    def rand_words(n: int, length: int) -> list[str]:
        # random letter strings: two draws are lev>2 apart almost surely,
        # so clusters are the PLANTED pairs, not accidental digit chains
        codes = rng.integers(0, 26, (n, length)) + ord("a")
        return ["".join(map(chr, row)) for row in codes]

    second = rand_words(N_REALISTIC, 8)
    rows, planted = [], []
    for i in range(N_REALISTIC):
        rows.append((f"R{i:06d}", f"{vocab[z[i]]} {second[i]}",
                     1.0, "ORG"))
    # planted clusters in realistic blocks: base + variant with final char
    # swapped (lev 1, same first token -> same block)
    base_ids = rng.choice(N_REALISTIC, N_PLANTED_CLUSTERS, replace=False)
    for j, bi in enumerate(base_ids):
        eid, surf, _, cls = rows[bi]
        var = surf[:-1] + ("x" if surf[-1] != "x" else "y")
        vid = f"V{j:06d}"
        rows.append((vid, var, 1.0, cls))
        planted.append((eid, vid))
    # adversarial shared-prefix block: one first token behind 30k surfaces
    # whose second words are random (pairwise lev>2), with planted 1-edit
    # variants that sort adjacent inside the block — exactly the shape the
    # sorted-neighborhood tier must both BOUND and still recover
    adv = rand_words(N_ADVERSARIAL, 10)
    for i in range(N_ADVERSARIAL):
        rows.append((f"A{i:06d}", f"megacorp {adv[i]}", 1.0, "ORG"))
    for j in range(N_ADV_PLANTED):
        var = adv[j][:-1] + ("x" if adv[j][-1] != "x" else "y")
        rows.append((f"B{j:06d}", f"megacorp {var}", 1.0, "ORG"))
        planted.append((f"A{j:06d}", f"B{j:06d}"))
    df = pd.DataFrame(rows,
                      columns=["entity_id", "alias", "prior", "ent_class"])
    # CANDIDATE_DICT schema order (createDataFrame maps by position)
    return df[["alias", "entity_id", "prior", "ent_class"]], planted


def main() -> int:
    master = os.environ.get("KGPIPE_CANON_MASTER", "local[32]")
    try:
        n_cores = int(master.split("[")[1].rstrip("]"))
    except (IndexError, ValueError):
        n_cores = 32

    from pyspark.sql import functions as F

    from kgpipe.operators.canon import (
        CANON_BLOCK_CAP,
        build_canon_map,
        build_canon_map_local,
        entity_surfaces,
    )
    from kgpipe.operators.linker import dict_to_df
    from kgpipe.pipeline import LOCAL_CANON_MAX_DICT
    from kgpipe.session import get_spark
    from kgpipe.stage_counters import stage_counters

    cd, planted = synth_dictionary()
    assert len(cd) > LOCAL_CANON_MAX_DICT, (
        "bench must exercise the distributed path")

    spark = get_spark("kgpipe-bench-canon", master=master,
                      shuffle_partitions=max(8, n_cores))
    dict_df = dict_to_df(spark, cd).cache()
    dict_df.count()  # materialize input outside the timed region

    # block-size histogram — the quantity the cap bounds
    blocks = (
        entity_surfaces(dict_df)
        .groupBy("ent_class",
                 F.split("surface", " ").getItem(0).alias("tok"))
        .count()
    )
    hist = blocks.agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.max("count").alias("max_block"),
        F.expr("approx_percentile(count, 0.99)").alias("p99_block"),
        F.sum(F.when(F.col("count") > CANON_BLOCK_CAP, 1)
              .otherwise(0)).alias("over_cap_blocks"),
    ).collect()[0]

    t0 = time.time()
    canon = build_canon_map(dict_df).cache()
    n_map = canon.count()
    wall = time.time() - t0
    roots = {r["entity_id"]: r["canonical_id"] for r in canon.collect()}

    t0 = time.time()
    local = build_canon_map_local(cd)
    local_wall = time.time() - t0
    local_roots = dict(zip(local["entity_id"], local["canonical_id"]))
    if local_roots != roots or len(local) != n_map:
        raise SystemExit("build_canon_map_local and build_canon_map "
                         f"disagree: {len(local)} vs {n_map} map rows")

    # planted recovery: both members of a planted pair must resolve to the
    # same root (canon maps non-roots only; identity otherwise)
    hit = sum(roots.get(a, a) == roots.get(b, b) for a, b in planted)
    recall = hit / len(planted)

    line = {
        "master": master,
        "n_entities": int(len(cd)),
        "n_planted_pairs": len(planted),
        "planted_recall": round(recall, 4),
        "canon_map_rows": int(n_map),
        "wall_sec": round(wall, 2),
        "local_wall_sec": round(local_wall, 2),
        "entities_per_sec": round(len(cd) / wall, 1),
        "block_cap": CANON_BLOCK_CAP,
        "blocks": {k: int(hist[k]) for k in
                   ("n_blocks", "max_block", "p99_block",
                    "over_cap_blocks")},
        "counters": stage_counters(spark),
    }
    print(json.dumps(line))

    bench_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             ".bench")
    os.makedirs(bench_dir, exist_ok=True)
    path = os.path.join(bench_dir, "canon.json")
    merged = {}
    if os.path.exists(path):
        with open(path) as f:
            merged = json.load(f)
    slim = dict(line)
    slim["counters"] = (line["counters"] or {}).get("totals")
    merged[master] = slim

    def cores(m):
        try:
            return int(m.split("[")[1].rstrip("]"))
        except (IndexError, ValueError):
            return 0

    levels = sorted((k for k in merged if cores(k) > 0), key=cores)
    if len(levels) >= 2:
        # consecutive-pair scaling efficiencies (e.g. 2->8 and 8->32)
        pairs = []
        for lo_k, hi_k in zip(levels, levels[1:]):
            lo, hi = merged[lo_k], merged[hi_k]
            ratio = cores(hi_k) / cores(lo_k)
            eff = (hi["entities_per_sec"] / lo["entities_per_sec"]) / ratio
            pairs.append({"levels": [lo_k, hi_k],
                          "throughput": [lo["entities_per_sec"],
                                         hi["entities_per_sec"]],
                          "efficiency": round(eff, 3)})
        merged["scaling"] = pairs
    with open(path, "w") as f:
        json.dump(merged, f, indent=1)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
