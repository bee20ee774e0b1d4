"""Tests for the benchmark's own helpers.

    python3 -m pytest kgbench/tests -q
"""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest

import check
import inputs
import proctree
import workloads
from spans import Span, Tracer, covered, self_times

TINY = inputs.Size(base_convs=40, replicas=2, parts=2, stream_files=3,
                   added_entities=30, big_blocks=(8, 6))


def _tables(root: str) -> dict[str, pd.DataFrame]:
    out = {}
    for name in ("transcripts", "candidate_dict.parquet", "stream",
                 "reference.parquet", "warm", "warm_stream",
                 "warm_dict.parquet"):
        out[name] = pd.read_parquet(os.path.join(root, name))
    return out


def test_inputs_are_deterministic_by_seed(tmp_path):
    a = inputs.build("kg_bigdict", 7, TINY, str(tmp_path / "a"))
    b = inputs.build("kg_bigdict", 7, TINY, str(tmp_path / "b"))
    c = inputs.build("kg_bigdict", 8, TINY, str(tmp_path / "c"))
    ta, tb, tc = _tables(a.root), _tables(b.root), _tables(c.root)
    for name in ta:
        pd.testing.assert_frame_equal(ta[name], tb[name])
    assert a.meta == b.meta
    assert not ta["transcripts"].equals(tc["transcripts"])
    assert not ta["candidate_dict.parquet"].equals(tc["candidate_dict.parquet"])


def test_inputs_are_cached_by_workload_seed_and_size(tmp_path):
    cache = str(tmp_path)
    a = inputs.build("kg_batch", 3, TINY, cache)
    marker = os.path.join(a.root, "transcripts", "part-00000.parquet")
    mtime = os.path.getmtime(marker)
    assert inputs.build("kg_batch", 3, TINY, cache).root == a.root
    assert os.path.getmtime(marker) == mtime
    bigger = inputs.Size(**{**TINY.__dict__, "replicas": 3})
    assert inputs.build("kg_batch", 3, bigger, cache).root != a.root
    assert inputs.build("kg_stream", 3, TINY, cache).root != a.root


def test_replicated_reference_is_gold_with_suffixes(tmp_path):
    from kgpipe.fixtures.generator import generate

    inp = inputs.build("kg_batch", 5, TINY, str(tmp_path))
    gold = generate(n_convs=TINY.base_convs, seed=5, avg_turns=inputs.AVG_TURNS,
                    hot_frac=inputs.HOT_FRAC)["gold_triples"]
    ref = pd.read_parquet(inp.reference)
    assert len(ref) == TINY.replicas * len(gold)
    r1 = ref[ref["conv_id"].str.endswith("_r1")].copy()
    r1["conv_id"] = r1["conv_id"].str[:-3]
    assert check.key_set(r1) == check.key_set(gold)


def test_stream_files_hold_turn_ordered_slices(tmp_path):
    inp = inputs.build("kg_stream", 2, TINY, str(tmp_path))
    files = sorted(os.listdir(inp.stream))
    assert len(files) == TINY.stream_files
    mtimes = [os.path.getmtime(os.path.join(inp.stream, f)) for f in files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)
    parts = [pd.read_parquet(os.path.join(inp.stream, f)) for f in files]
    whole = pd.read_parquet(inp.transcripts)
    assert sum(len(p) for p in parts) == len(whole)
    # within each conversation, slice j ends before slice j+1 starts
    last: dict[str, int] = {}
    for p in parts:
        for conv, g in p.groupby("conv_id"):
            assert g["turn_idx"].min() > last.get(conv, -1)
            last[conv] = g["turn_idx"].max()


def test_grown_dictionary_merges_exactly_the_planted_variants(tmp_path):
    from kgpipe.operators.canon import build_canon_map_local

    inp = inputs.build("kg_bigdict", 9, TINY, str(tmp_path))
    grown = pd.read_parquet(inp.candidate_dict)
    stock = pd.read_parquet(inp.warm_dict)
    assert inp.meta["planted_variants"] > 0
    assert (len(build_canon_map_local(grown))
            == len(build_canon_map_local(stock)) + inp.meta["planted_variants"])
    # no added surface can match the text: its first word is no corpus token
    text_words = set(" ".join(
        pd.read_parquet(inp.transcripts)["text"].str.lower()).split())
    added = grown.iloc[len(stock):]
    assert not set(added["alias"].str.split(" ").str[0]) & text_words
    sizes = workloads.canon_blocks(grown)
    assert max(sizes) == max(TINY.big_blocks) * 3 // 2


def test_block_sizes_are_fixed_by_the_size_not_the_seed():
    s = inputs.block_sizes(20, (6, 4))
    assert s[:2] == [6, 4] and sum(s) == 20 and max(s[2:]) <= 3
    with pytest.raises(ValueError):
        inputs.block_sizes(5, (6,))


def test_lev_within():
    assert inputs.lev_within("kitten", "sitten", 1)
    assert not inputs.lev_within("kitten", "sitting", 2)
    assert inputs.lev_within("kitten", "sitting", 3)
    assert not inputs.lev_within("abc", "abcdefg", 3)


def test_precision_recall():
    ref = {(1,), (2,), (3,), (4,)}
    assert check.precision_recall(ref, ref) == (1.0, 1.0)
    assert check.precision_recall({(1,), (2,), (9,)}, ref) == (2 / 3, 0.5)
    assert check.precision_recall(set(), ref) == (0.0, 0.0)


def test_same_digest_records_first_then_compares(tmp_path):
    path = str(tmp_path / "digest.json")
    assert check.same_digest(path, (10, -5))
    assert json.load(open(path)) == [10, -5]
    assert check.same_digest(path, (10, -5))
    assert not check.same_digest(path, (10, 6))
    assert not check.same_digest(path, (11, -5))


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[1]").appName("kgbench-tests")
         .config("spark.ui.enabled", "false").getOrCreate())
    yield s
    s.stop()


def test_xor_digest_is_order_independent_and_content_sensitive(spark):
    rows = [(f"s{i}", "works_at", f"o{i % 3}", f"c{i % 5}", i) for i in range(50)]
    cols = check.KEY
    a = spark.createDataFrame(rows, cols)
    b = spark.createDataFrame(list(reversed(rows)), cols).repartition(4)
    changed = spark.createDataFrame(rows[:-1] + [("s49", "met", "o1", "c4", 49)],
                                    cols)
    assert check.xor_digest(a) == check.xor_digest(b)
    assert check.xor_digest(a)[0] == 50
    assert check.xor_digest(changed) != check.xor_digest(a)


def test_self_time_subtracts_the_union_of_children():
    spans = [Span(0, "root", 0.0, 10.0, None, "r"),
             Span(1, "a", 1.0, 4.0, 0, "r"),
             Span(2, "b", 3.0, 6.0, 0, "r"),  # overlaps a: union is 1..6
             Span(3, "c", 2.0, 3.0, 1, "r"),  # grandchild: not root's child
             Span(4, "d", 9.0, 12.0, 0, "r")]  # clipped to the parent's end
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[3] == pytest.approx(1.0)
    assert covered([], 0.0, 1.0) == 0.0


def test_tracer_nests_spans_and_patches_calls():
    import types

    mod = types.SimpleNamespace(f=lambda x: x + 1)
    t = Tracer("run1")
    t.patch(mod, "f", "mod.f")
    with t.span("outer"):
        assert mod.f(1) == 2
    t.unpatch_all()
    assert mod.f(1) == 2 and len(t.spans) == 2
    outer, inner = t.spans
    assert inner.parent == outer.id and inner.name == "mod.f"
    assert outer.start <= inner.start <= inner.end <= outer.end
    assert {s.run for s in t.spans} == {"run1"}


def test_parse_stat_handles_odd_command_names():
    fields = ["S", "41"] + ["0"] * 9 + ["100", "50", "7", "3"] + ["0"] * 6 + ["25"]
    line = "123 (py (worker) x) " + " ".join(fields) + " 0 0\n"
    ppid, comm, cpu, rss = proctree.parse_stat(line)
    assert (ppid, comm) == (41, "py (worker) x")
    assert cpu == pytest.approx(160 / os.sysconf("SC_CLK_TCK"))
    assert rss == 25 * os.sysconf("SC_PAGE_SIZE")


def test_snapshot_sees_this_process_and_a_child():
    import subprocess
    import sys

    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(5)"])
    try:
        snap = proctree.snapshot()
        assert snap[os.getpid()].kind == "driver"
        assert snap[child.pid].kind == "python"
        assert proctree.rss_total(snap) > 0
    finally:
        child.kill()
        child.wait()
