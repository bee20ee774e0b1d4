"""``bench.py`` ends its output with a compact summary line, because the
reader of the bench output keeps only its last 2,000 bytes. Starts no
Spark: ``summary_line`` is a pure function of the full bench record."""

from __future__ import annotations

import json

from bench import summary_line


def _oversized_line() -> dict:
    """A full bench record far past 2,000 bytes: hundreds of queries with
    long names, long error strings and large nested extras."""
    queries = {f"query_{i:04d}_" + "x" * 80: round(0.01 * i, 3)
               for i in range(400)}
    queries["failed_query"] = -1.0
    return {
        "metric": "total_bench_sec", "value": 812.4, "unit": "sec",
        "queries": queries, "sf": 0.1, "triples": 1_234_567,
        "turns": 144_000, "triples_per_sec": 21_975.3,
        "errors": {q: "Traceback " * 20 for q in list(queries)[:50]},
        "durable_state": {
            "neardup_family": {"warm": True, "committed_stages":
                               ["sigs", "pairs", "members", "keep_best"]},
            "lsh_pairs_family": {"warm": False, "committed_stages": []}},
        "scaling": {"input": "/x" * 500,
                    "primary": {"scaling_efficiency_N_to_4N": 0.909,
                                "scaling_efficiency_fresh_only": 0.835,
                                "N": {"stage_counters": {"s": "y" * 5000}}}},
        "dedup_bench": {"z": list(range(2000))},
        "host_control": {"cpu_Mops": 11.5, "mem_triad_GBps": 0.45,
                         "par32_Mops": 328.5},
    }


def test_summary_line_is_compact_and_carries_the_headline():
    full = _oversized_line()
    assert len(json.dumps(full).encode()) > 50_000
    s = summary_line(full)
    assert "\n" not in s and len(s.encode()) < 2000
    got = json.loads(s)
    assert (got["metric"], got["value"], got["unit"]) == \
        ("total_bench_sec", 812.4, "sec")
    assert got["triples_per_sec"] == 21_975.3
    assert got["scaling_efficiency"] == 0.909
    # the 5 slowest successful queries, slowest first; a failed (-1) query
    # is not a slow one
    want = sorted((v, k) for k, v in full["queries"].items())[-5:][::-1]
    assert list(got["slowest_queries"].items()) == \
        [(name[:64], sec) for sec, name in want]
    assert got["durable_state"] == {"neardup_family": True,
                                    "lsh_pairs_family": False}
    assert got["host_control"] == full["host_control"]


def test_summary_line_without_optional_extras():
    """A record with no scaling file, no durable state and no host
    control still gives a parseable line (those keys read null/empty)."""
    got = json.loads(summary_line(
        {"value": 3.0, "queries": {"a": 1.0, "b": 2.0}}))
    assert got["slowest_queries"] == {"b": 2.0, "a": 1.0}
    assert got["scaling_efficiency"] is None
    assert got["durable_state"] == {} and got["host_control"] == {}
