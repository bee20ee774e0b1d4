from __future__ import annotations

import glob

import pytest

from kgpipe.fixtures.generator import materialize
from kgpipe.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("kgpipe-tests", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def unit_fixture_dir() -> str:
    return materialize("unit")


@pytest.fixture(scope="session")
def unit_model(unit_fixture_dir):
    """A perceptron fit on a sample of the unit fixture (disk-cached next
    to the fixture, so fresh processes skip training)."""
    import os

    import pandas as pd

    from kgpipe.operators.train import fit_or_load, sample_texts

    cd = pd.read_parquet(
        os.path.join(unit_fixture_dir, "candidate_dict.parquet"))
    return fit_or_load(
        sample_texts(os.path.join(unit_fixture_dir, "transcripts.parquet"),
                     500),
        cd, cache_dir=os.path.join(unit_fixture_dir, "models"))


@pytest.fixture(scope="session")
def sf001_dir() -> str:
    return "/root/testdata/sf0.001"


def sfdir(sf: str) -> str:
    paths = glob.glob(f"/root/testdata/{sf}")
    assert paths, f"missing testdata {sf}"
    return paths[0]
