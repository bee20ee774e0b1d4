"""Fixed schemas for every table in the engine (SURVEY.md §1).

The transcripts schema is the authoritative input shape from
BASELINE.json's input_hint:
``(conv_id:string, turn_idx:int32, role:string, text:string, tool:string,
ts:timestamp)`` — int32 stays IntegerType, never Long.
"""

from __future__ import annotations

from pyspark.sql import types as T

TRANSCRIPTS = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

SPAN = T.StructType(
    [
        T.StructField("start", T.IntegerType(), False),
        T.StructField("end", T.IntegerType(), False),
        T.StructField("ent_type", T.StringType(), False),
        T.StructField("score", T.FloatType(), False),
    ]
)

SPANS_ARRAY = T.ArrayType(SPAN)

MENTIONS = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("mention_id", T.StringType(), False),
        T.StructField("span_start", T.IntegerType(), False),
        T.StructField("span_end", T.IntegerType(), False),
        T.StructField("surface", T.StringType(), False),
        T.StructField("ent_type", T.StringType(), False),
        T.StructField("score", T.FloatType(), False),
    ]
)

CANDIDATE_DICT = T.StructType(
    [
        T.StructField("alias", T.StringType(), False),
        T.StructField("entity_id", T.StringType(), False),
        T.StructField("prior", T.FloatType(), False),
        T.StructField("ent_class", T.StringType(), False),
    ]
)

# Entity classes and the BIO tag set for the sequence labeler.
ENT_CLASSES = ["PER", "ORG", "PROD", "PLACE"]
TAGS = ["O"] + [f"{b}-{c}" for c in ENT_CLASSES for b in ("B", "I")]
