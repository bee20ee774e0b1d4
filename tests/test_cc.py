"""Connected components on known graphs (SURVEY.md §5.2): chain, star,
two components, self-loop, empty — two_phase must agree with ground
truth. Canonicalization: the per-block canon builder against brute force,
its Levenshtein kernel against the plain DP, and the driver-side map
against the distributed one."""

import itertools
import string

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from reference_plans import _lev

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


def _union_find(edges):
    """Ground truth: {node: min node of its component}, non-roots only."""
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


def _megacorp_block() -> pd.DataFrame:
    """One over-cap (ORG, "megacorp") block: 1,352 "megacorp unit {a}{b}{x|y}"
    surfaces that lev <= 2 pairs within CANON_SORT_WINDOW ranks chain into
    one cluster, then "megacorp a" and "megacorp va" (1 edit apart) sorted
    on either side of all of them."""
    surfs = [f"megacorp unit {a}{b}{c}"
             for a, b in itertools.product(string.ascii_lowercase, repeat=2)
             for c in "xy"]
    return pd.DataFrame({
        "alias": surfs + ["megacorp a", "megacorp va"],
        "entity_id": [f"MEGA{i:04d}" for i in range(len(surfs))]
        + ["MEGA_A", "MEGA_VA"],
        "prior": 1.0,
        "ent_class": "ORG",
    })


def test_local_equals_distributed(spark):
    """Driver-side canon map must equal the distributed one on the fixture
    dictionary plus an over-cap block: both band the block the same way,
    so the far pair "megacorp a" / "megacorp va" merges on neither."""
    from kgpipe.fixtures.generator import materialize
    from kgpipe.operators.canon import build_canon_map, build_canon_map_local
    from kgpipe.operators.linker import dict_to_df

    fx = materialize("unit")
    cd = pd.concat([pd.read_parquet(fx + "/candidate_dict.parquet"),
                    _megacorp_block()], ignore_index=True)
    dist = {(r.entity_id, r.canonical_id)
            for r in build_canon_map(dict_to_df(spark, cd)).collect()}
    local = set(map(tuple, build_canon_map_local(cd).itertuples(index=False)))
    assert local == dist
    assert any(not e.startswith("MEGA") for e, _ in local), (
        "fixture must exercise at least one merged variant")
    assert not {"MEGA_A", "MEGA_VA"} & {e for e, _ in local}


def test_similarity_block_cap_bounds_adversarial_block():
    """Shared-prefix adversarial block of b > CANON_BLOCK_CAP members, each
    within 2 edits of many others: candidates stay at O(b*W) through the
    sorted-neighborhood band while the chain of rank-adjacent edges still
    connects the block into ONE cluster."""
    from kgpipe.operators import canon

    block = _megacorp_block().iloc[:-2].rename(columns={"alias": "surface"})
    b = len(block)
    assert b > canon.CANON_BLOCK_CAP
    pairs = sum(len(a) for a, _ in canon._candidates(
        canon._sorted_blocks(block)))
    assert 0 < pairs <= b * canon.CANON_SORT_WINDOW
    cm = canon.canon_blocks(block)
    assert len(cm) == b - 1
    assert set(cm["canonical_id"]) == {"MEGA0000"}


_chars = st.sampled_from(list("ab é\u4e2d\U0001F600"))
_word = st.text(_chars, max_size=8)


@st.composite
def _pair(draw):
    """(a, b) with b either independent of a or a after 0-4 random edits
    (length differences 0-4)."""
    a = draw(_word)
    if draw(st.booleans()):
        return a, draw(_word)
    b = list(a)
    for _ in range(draw(st.integers(0, 4))):
        pos = draw(st.integers(0, len(b)))
        op = draw(st.sampled_from("ids"))
        if op == "i":
            b.insert(pos, draw(_chars))
        elif pos < len(b):
            if op == "d":
                del b[pos]
            else:
                b[pos] = draw(_chars)
    return a, "".join(b)


@settings(max_examples=300, deadline=None)
@given(st.lists(_pair(), min_size=1, max_size=20))
def test_lev_kernel_equals_reference(pairs):
    """The vectorized banded verify kernel is exactly ``lev <= 2``."""
    from kgpipe.operators.canon import code_points, lev_within_2

    cp, off, ln = code_points([x for p in pairs for x in p])
    even = np.arange(0, 2 * len(pairs), 2)
    got = lev_within_2(cp, off, ln, even, even + 1)
    assert got.tolist() == [_lev(a, b, 2) <= 2 for a, b in pairs]


@st.composite
def _entities(draw):
    n = draw(st.integers(0, 30))
    ids = [f"E{i:03d}" for i in draw(st.permutations(range(n)))]
    surfs = draw(st.lists(st.none() | st.text(st.sampled_from(list("ab é")),
                                              max_size=6),
                          min_size=n, max_size=n))
    classes = draw(st.lists(st.sampled_from(["ORG", "PER", None]),
                            min_size=n, max_size=n))
    return pd.DataFrame({"entity_id": ids, "surface": surfs,
                         "ent_class": classes}, dtype=object)


@settings(max_examples=200, deadline=None)
@given(_entities())
def test_canon_blocks_equals_brute_force(ents):
    """On dictionaries with no over-cap block, ``canon_blocks`` is exactly
    all-pairs lev <= 2 within (ent_class, first token) blocks, clustered
    by union-find (a null class or surface never merges)."""
    from kgpipe.operators.canon import canon_blocks

    rows = [r for r in ents.itertuples(index=False)
            if r.surface is not None and r.ent_class is not None]
    edges = [(x.entity_id, y.entity_id)
             for x, y in itertools.combinations(rows, 2)
             if x.ent_class == y.ent_class
             and x.surface.split(" ")[0] == y.surface.split(" ")[0]
             and _lev(x.surface, y.surface, 2) <= 2]
    got = canon_blocks(ents)
    assert dict(zip(got["entity_id"], got["canonical_id"])) == \
        _union_find(edges)


def test_cc_algos_agree_on_random_graphs(spark):
    """Property gate over RANDOM graphs: two_phase (large/small star) must
    agree with a plain Python union-find ground truth — across dense
    blobs, long chains, forests of stars and lone edges. Hypothesis is
    overkill here (each example costs Spark jobs); seeded draws cover the
    shapes deterministically (4 trials keep the iterative-CC driver-round
    latency within suite budget)."""
    import random

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
        assert got == _union_find(edges), trial
