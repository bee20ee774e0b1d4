"""Connected components on known graphs (SURVEY.md §5.2): chain, star,
two components, self-loop, empty — two_phase must agree with ground
truth."""

import pytest
from pyspark.sql import functions as F

from kgpipe.operators.canon import connected_components

GRAPHS = {
    "chain": ([("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")],
              {"b": "a", "c": "a", "d": "a", "e": "a"}),
    "star": ([("hub", "s1"), ("hub", "s2"), ("hub", "s3")],
             {"s1": "hub", "s2": "hub", "s3": "hub"}),
    "two_components": ([("a", "b"), ("x", "y"), ("y", "z")],
                       {"b": "a", "y": "x", "z": "x"}),
    "self_loop": ([("a", "a"), ("a", "b")], {"b": "a"}),
    "triangle_plus_edge": ([("m", "n"), ("n", "o"), ("m", "o"), ("o", "p")],
                           {"n": "m", "o": "m", "p": "m"}),
    "empty": ([], {}),
}


# the id suffix names the algorithm under test (two_phase, the one
# connected-components implementation)
@pytest.mark.parametrize("name", sorted(GRAPHS),
                         ids=lambda name: f"{name}-two_phase")
def test_cc(spark, name):
    edges, want = GRAPHS[name]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r["entity_id"]: r["canonical_id"]
        for r in connected_components(df).collect()
    }
    assert got == want, f"{name}: {got} != {want}"


def test_cc_long_chain_converges(spark):
    """two-phase must converge on a 40-node chain within the iteration cap
    (the O(log n) property it exists for)."""
    nodes = [f"n{i:03d}" for i in range(40)]
    edges = list(zip(nodes, nodes[1:]))
    df = spark.createDataFrame(edges, "src string, dst string")
    got = connected_components(df, max_iter=15)
    assert got.filter(F.col("canonical_id") != "n000").count() == 0
    assert got.count() == 39


def test_local_equals_distributed(spark):
    """Driver-side canon map (pandas union-find) must equal the distributed
    similarity-join + CC path on the fixture dictionary."""
    import pandas as pd

    from kgpipe.fixtures.generator import materialize
    from kgpipe.operators.canon import build_canon_map, build_canon_map_local
    from kgpipe.operators.linker import dict_to_df

    fx = materialize("unit")
    cd = pd.read_parquet(fx + "/candidate_dict.parquet")
    dist = {(r.entity_id, r.canonical_id)
            for r in build_canon_map(dict_to_df(spark, cd)).collect()}
    local = set(map(tuple, build_canon_map_local(cd).itertuples(index=False)))
    assert local == dist
    assert local, "fixture must exercise at least one merged variant"


def test_similarity_block_cap_bounds_adversarial_block(spark):
    """Shared-prefix adversarial dictionary: one (class, first-token) block
    whose EVERY pair is a true lev<=2 duplicate. Uncapped all-pairs is
    provably quadratic (b(b-1)/2 edges); the capped operator must bound
    candidates at O(b*W) via the sorted-neighborhood band while the
    rank-adjacent edge chain still connects the block into ONE cluster —
    same clustering, bounded work."""
    import itertools
    import string

    import pandas as pd

    from kgpipe.operators.canon import (
        connected_components,
        entity_surfaces,
        similarity_edges,
    )
    from kgpipe.operators.linker import dict_to_df

    surfs = [f"megacorp unit {a}{b}"
             for a, b in itertools.product(string.ascii_lowercase, repeat=2)]
    b = len(surfs)  # 676 > cap
    cd = pd.DataFrame({
        "alias": surfs,
        "entity_id": [f"E{i:04d}" for i in range(b)],
        "prior": [1.0] * b,
        "ent_class": ["ORG"] * b,
    })
    surfaces = entity_surfaces(dict_to_df(spark, cd)).cache()

    capped = similarity_edges(surfaces, block_cap=256, sort_window=8)
    n_capped = capped.count()
    assert 0 < n_capped <= b * 8  # the bound the 100-TB path lives on

    # the chain of rank-adjacent edges keeps the cluster CONNECTED: CC over
    # the banded edges merges the whole block exactly like the exact join
    cc = connected_components(capped)
    assert cc.count() == b - 1
    assert cc.select("canonical_id").distinct().count() == 1

    # reference: the uncapped join on this block really is quadratic
    exact = similarity_edges(surfaces, block_cap=None)
    assert exact.count() == b * (b - 1) // 2

    # and on a dictionary with no over-cap block, capped == uncapped exactly
    small = pd.DataFrame({
        "alias": ["acme corp", "acme corpp", "acme inc", "zeta llc"],
        "entity_id": ["E_a", "E_b", "E_c", "E_d"],
        "prior": [1.0] * 4,
        "ent_class": ["ORG"] * 4,
    })
    ssurf = entity_surfaces(dict_to_df(spark, small))
    got = {tuple(r) for r in similarity_edges(ssurf).collect()}
    ref = {tuple(r) for r in
           similarity_edges(ssurf, block_cap=None).collect()}
    assert got == ref and got


def test_cc_algos_agree_on_random_graphs(spark):
    """Property gate over RANDOM graphs: two_phase (large/small star) must
    agree with a plain Python union-find ground truth — across dense
    blobs, long chains, forests of stars and lone edges. Hypothesis is
    overkill here (each example costs Spark jobs); seeded draws cover the
    shapes deterministically (4 trials keep the iterative-CC driver-round
    latency within suite budget)."""
    import random

    def truth(edges):
        parent = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        nodes = set()
        for a, b in edges:
            nodes.update((a, b))
            ra, rb = find(a), find(b)
            if ra != rb:
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        return {n: find(n) for n in nodes if find(n) != n}

    rng = random.Random(20260818)
    for trial in range(4):
        n = rng.randint(5, 60)
        nodes = [f"n{trial}_{i:02d}" for i in range(n)]
        shape = trial % 3
        if shape == 0:  # sparse random pairs (forest-ish)
            edges = [(rng.choice(nodes), rng.choice(nodes))
                     for _ in range(n // 2)]
        elif shape == 1:  # chain + random chords (long diameter)
            edges = list(zip(nodes, nodes[1:]))
            edges += [(rng.choice(nodes), rng.choice(nodes))
                      for _ in range(3)]
        else:  # dense blob + isolated star
            blob = nodes[: n // 2]
            edges = [(rng.choice(blob), rng.choice(blob))
                     for _ in range(len(blob) * 2)]
            hub, *spokes = nodes[n // 2:] or ["h"]
            edges += [(hub, s) for s in spokes]
        df = spark.createDataFrame(edges, "src string, dst string")
        got = {r["entity_id"]: r["canonical_id"]
               for r in connected_components(df).collect()}
        assert got == truth(edges), trial
