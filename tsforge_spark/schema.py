"""Canonical schemas (SURVEY.md §1.3).

The reference discovers columns dynamically at runtime
(``src/tsforge/feature_engineering/encode_features.py:48-50``); our engine
declares fixed StructTypes so Catalyst can prune/push down and so parquet
footers carry exact types.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Primary engine input — BASELINE.json input_hint.
TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
    ]
)

# One tier cell: partial aggregates so coarser tiers fold exactly
# (mean = sum/count — SURVEY.md §4.2.4).  `bucket` is the tumbling-window
# start truncated to the tier resolution.
TIER_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("bucket", T.TimestampType(), False),
        T.StructField("turns", T.LongType(), False),
        T.StructField("tool_calls", T.LongType(), False),
        T.StructField("user_turns", T.LongType(), False),
        T.StructField("assistant_turns", T.LongType(), False),
        T.StructField("text_chars", T.LongType(), False),
        T.StructField("chars_min", T.IntegerType(), True),
        T.StructField("chars_max", T.IntegerType(), True),
        T.StructField("first_ts", T.TimestampType(), True),
        T.StructField("last_ts", T.TimestampType(), True),
    ]
)

# The stores as Spark lists them: file columns, then the ``day=``
# partition column.  The engine's own reads pass these explicitly, so
# Spark runs no schema-inference job per read.
TIER_READ_SCHEMA = T.StructType(
    TIER_SCHEMA.fields + [T.StructField("day", T.DateType(), True)]
)
# the canonical turns store: transcript columns plus the layout columns
# the ingest adds (operators/skew.py salted_layout)
TURNS_READ_SCHEMA = T.StructType(
    TRANSCRIPT_SCHEMA.fields
    + [
        T.StructField("text_len", T.IntegerType(), True),
        T.StructField("bucket_id", T.IntegerType(), True),
        T.StructField("salt", T.IntegerType(), True),
        T.StructField("day", T.DateType(), True),
    ]
)
