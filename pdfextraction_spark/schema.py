"""Engine schemas (BASELINE.json input_hint + FIXTURES.md §3)."""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import types as T

TRANSCRIPTS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)

SPAN_ARROW = pa.list_(
    pa.struct([("label", pa.string()), ("start", pa.int32()), ("end", pa.int32())])
)

# the extraction UDF's result (operators/extract.py); the Spark type
# is derived from it, so the output fields are declared only here
EXTRACTED_ARROW = pa.struct(
    [
        ("payload_kind", pa.string()),
        ("extracted_text", pa.string()),
        ("spans", SPAN_ARROW),
        ("blocks_kept", pa.int32()),
        ("blocks_dropped", pa.int32()),
        ("parse_failed", pa.bool_()),
    ]
)

MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("commit_id", T.StringType()),
        T.StructField("source_snapshot_id", T.StringType()),
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("row_count", T.LongType()),
        T.StructField("blocks_kept", T.LongType()),
        T.StructField("blocks_dropped", T.LongType()),
        T.StructField("parse_failures", T.LongType()),
        T.StructField("extractor_version", T.StringType()),
        T.StructField("committed_at", T.TimestampType()),
    ]
)
