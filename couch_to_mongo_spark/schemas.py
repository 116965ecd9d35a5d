"""Canonical schemas (BASELINE.json input_hint + FIXTURES.md §1-2)."""

from __future__ import annotations

from pyspark.sql import types as T

#: the target transcript table payload (input_hint, exact)
TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

#: the CDC feed (CouchDB `_changes` analogue, FIXTURES.md §2)
CHANGE_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType(), False),
        T.StructField("op", T.StringType(), False),
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("_rev", T.StringType(), True),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

#: schema-evolution variant: extra columns appear mid-stream (FIXTURES.md §3)
EVOLVED_EXTRA_FIELDS = [
    T.StructField("metadata", T.StringType(), True),
    T.StructField("tool_args", T.StringType(), True),
]
