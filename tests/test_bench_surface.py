"""The frozen benchmark's call surface (kgbench/): every function its
traced pass patches exists, and every kgpipe call its iterations and
probes make still binds to the current signature — so an API change
cannot silently break ``kgbench/run.py --trace 1``. No Spark session."""

from __future__ import annotations

import importlib
import inspect
import os
import sys

import pytest

BENCH = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "kgbench")
_BENCH_MODULES = ("workloads", "check", "inputs", "proctree", "spans")

X = object()  # stands in for every argument value


@pytest.fixture(scope="module")
def workloads():
    sys.path.insert(0, BENCH)
    try:
        yield importlib.import_module("workloads")
    finally:
        sys.path.remove(BENCH)
        for m in _BENCH_MODULES:
            sys.modules.pop(m, None)


def test_traced_calls_exist(workloads):
    assert workloads.TRACED_CALLS
    for mod, attr, _name in workloads.TRACED_CALLS:
        assert callable(getattr(importlib.import_module(mod), attr)), (
            f"{mod}.{attr}")


# (module, attribute, positional args, keyword args) as kgbench calls them
CALLS = [
    ("kgpipe.session", "get_spark", (X,), {"extra_conf": X}),
    ("kgpipe.fixtures.generator", "generate", (),
     {"n_convs": X, "seed": X, "avg_turns": X, "hot_frac": X}),
    ("kgpipe.pipeline", "read_transcripts", (X, X), {}),
    ("kgpipe.pipeline", "run_pipeline", (X, X, X), {}),
    ("kgpipe.sources.storage", "write_triples", (X, X), {}),
    ("kgpipe.sources.storage", "read_triples", (X, X), {}),
    ("kgpipe.streaming", "read_transcripts_stream", (X, X),
     {"max_files_per_trigger": 1}),
    ("kgpipe.streaming", "incremental_triples", (X, X, X), {}),
    ("kgpipe.streaming", "write_triples_stream", (X, X, X), {}),
    ("kgpipe.streaming", "IdempotentTripleSink", (X,), {}),
    ("kgpipe.functions.tokenize", "tokenize_batch", (X,), {}),
    ("kgpipe.operators.labeler", "build_gazetteer", (X,), {}),
    ("kgpipe.operators.labeler", "build_transitions", (), {}),
    ("kgpipe.operators.labeler", "label_texts", (X, X, X), {}),
    ("kgpipe.operators.labeler", "label_transcripts", (X, X, X), {}),
    ("kgpipe.operators.mentions", "extract_mentions", (X,), {}),
    ("kgpipe.operators.linker", "top1_dict", (X,), {}),
    ("kgpipe.operators.linker", "dict_to_df", (X, X), {}),
    ("kgpipe.operators.linker", "link_entities", (X, X),
     {"k": 1, "ranked": False}),
    ("kgpipe.operators.canon", "build_canon_map_local", (X,), {}),
    ("kgpipe.operators.relations", "turn_digests", (X, X, X),
     {"canon": X, "inline_labeler": "gaz"}),
    ("kgpipe.operators.relations", "triples_from_digests", (X,),
     {"window": 3, "dedup": True}),
]


@pytest.mark.parametrize("mod,attr,args,kwargs", CALLS,
                         ids=[f"{c[0]}.{c[1]}" for c in CALLS])
def test_bench_calls_bind(mod, attr, args, kwargs):
    fn = getattr(importlib.import_module(mod), attr)
    inspect.signature(fn).bind(*args, **kwargs)


def test_sink_methods_bench_reads_exist():
    from kgpipe.streaming import IdempotentTripleSink

    inspect.signature(IdempotentTripleSink.read).bind(X, X)
    inspect.signature(IdempotentTripleSink.committed_batches).bind(X)
