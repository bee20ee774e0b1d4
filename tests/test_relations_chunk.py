"""The exploded reference plan (tests/reference_plans.py), chunked for
skew, must equal its unchunked form — chunk boundaries are exercised hard
with chunk=4 over the unit fixture (avg ~10 turns/conv, hot conv much
longer). The product's chunking is pinned in test_relations_fused.py."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from reference_plans import extract_triples

from kgpipe.operators.labeler import label_transcripts
from kgpipe.operators.linker import dict_to_df, link_entities, top1_dict
from kgpipe.operators.mentions import extract_mentions
from kgpipe.operators.relations import triples_from_digests
from kgpipe.pipeline import read_transcripts


@pytest.fixture(scope="module")
def linked(spark, unit_fixture_dir):
    t = read_transcripts(
        spark, os.path.join(unit_fixture_dir, "transcripts.parquet"))
    cd = pd.read_parquet(
        os.path.join(unit_fixture_dir, "candidate_dict.parquet"))
    return link_entities(
        extract_mentions(label_transcripts(spark, t, cd)),
        dict_to_df(spark, top1_dict(cd)), k=1, ranked=False).cache()


def _tset(df):
    return {tuple(r) for r in
            df.select("subj", "pred", "obj", "conv_id", "turn_idx", "conf")
            .collect()}


def test_chunked_equals_unchunked(spark, linked):
    ref = _tset(extract_triples(spark, linked, window=3, chunk=None))
    assert ref, "fixture must produce triples"
    for c in (4, 7, 64):
        got = _tset(extract_triples(spark, linked, window=3, chunk=c))
        assert got == ref, f"chunk={c}"


def test_chunk_bounds_hot_conversation(spark, linked):
    """The hot conversation spans multiple chunks -> multiple window
    partitions instead of one giant task."""
    from pyspark.sql import functions as F

    hot = (linked.groupBy("conv_id").count()
           .orderBy(F.desc("count")).first())
    n_chunks = (linked.filter(F.col("conv_id") == hot.conv_id)
                .select((F.col("turn_idx") / 4).cast("long").alias("c"))
                .distinct().count())
    assert n_chunks > 1


def test_window_must_be_smaller_than_chunk(spark):
    digests = spark.createDataFrame(
        [], "conv_id string, turn_idx int, "
            "intra array<struct<subj:string,pred:string,obj:string>>, "
            "first_ent string, first_pred string, last_ent string")
    with pytest.raises(ValueError):
        triples_from_digests(digests, window=8, chunk=4)
