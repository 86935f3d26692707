"""Spark extraction operator — one scalar Arrow UDF over ``text``.

The reference's three sequential steps (classify -> identify ->
extract, app.py:206-904) collapse into a single narrow Arrow stage
(SURVEY.md §7.1): detect payload kind, strip/reflow, emit text +
spans + metrics. Only ``text`` crosses into Python; the UDF returns
one struct (``schema.EXTRACTED_ARROW``) that a single projection
expands, while the key columns stay in the JVM. No shuffle; whole
batches flow Arrow -> NumPy -> Arrow."""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_type

from ..kernels.extract import extract_batch_flat
from ..schema import EXTRACTED_ARROW

# ts passes through when present so event-time streaming windows can
# run downstream of the extraction stage
_PASSTHROUGH = ["conv_id", "turn_idx", "role", "ts"]


def _extract_text(text: pa.Array) -> pa.Array:
    res = extract_batch_flat(text.to_pandas())
    return pa.StructArray.from_arrays(
        [
            pa.array(res.kinds, type=pa.string()),
            pa.array(res.text, type=pa.string()),
            res.spans,
            pa.array(res.kept, type=pa.int32()),
            pa.array(res.dropped, type=pa.int32()),
            pa.array(res.failed, type=pa.bool_()),
        ],
        fields=list(EXTRACTED_ARROW),
    )


# a DataType (not a DDL string) return type: no active session needed
_extract_udf = F.arrow_udf(_extract_text, from_arrow_type(EXTRACTED_ARROW))


def _make_extract_fn(*_):
    """The stage as a mapInArrow body over batches carrying ``text``.
    Only perfbench calls it (its in-process worker-body timing); the
    arguments are ignored."""
    def _batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            yield pa.RecordBatch.from_struct_array(
                _extract_text(batch.column("text")))

    return _batches


def extract_turns(turns: DataFrame) -> DataFrame:
    """Apply the fused extraction stage to a transcripts DataFrame.

    Input requires (conv_id, turn_idx, role, text); ts is carried
    through when present, turn_idx comes out as int. Narrow
    transformation — preserves partitioning.
    """
    keys = [c for c in _PASSTHROUGH if c in turns.columns]
    return (
        turns.withColumn("turn_idx", F.col("turn_idx").cast("int"))
        .select(*keys, _extract_udf("text").alias("_x"))
        .select(*keys, "_x.*")
    )
