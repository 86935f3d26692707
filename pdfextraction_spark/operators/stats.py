"""A1 word-spacing statistics operator (spatial_preprocessor.py:422-463
analogue) — per pdf_layout turn, Arrow-batched."""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from ..kernels.extract import _decode_envelopes_flat, detect_kinds
from ..kernels.tables import spacing_stats_flat
from ..payload import KIND_PDF

_DDL = ("conv_id string, turn_idx int, avg_spacing double, "
        "median_spacing double, spacing_std double")

_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("avg_spacing", pa.float64()),
        ("median_spacing", pa.float64()),
        ("spacing_std", pa.float64()),
    ]
)


def _batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    for batch in it:
        texts = batch.column("text").to_pandas()
        pdf_idx = np.flatnonzero(detect_kinds(texts) == KIND_PDF)
        sv = texts.to_numpy(dtype=object)
        sizes, t_arr, coord, failed = _decode_envelopes_flat(
            [sv[i] for i in pdf_idx.tolist()])
        stats = spacing_stats_flat(len(pdf_idx), sizes, t_arr, coord)[~failed]
        rows = pdf_idx[~failed]
        yield pa.RecordBatch.from_arrays(
            [
                batch.column("conv_id").take(rows),
                batch.column("turn_idx").take(rows).cast(pa.int32()),
                pa.array(stats[:, 0], type=pa.float64()),
                pa.array(stats[:, 1], type=pa.float64()),
                pa.array(stats[:, 2], type=pa.float64()),
            ],
            schema=_SCHEMA,
        )


def spacing_stats_turns(turns: DataFrame) -> DataFrame:
    return turns.select("conv_id", "turn_idx", "text").mapInArrow(_batches, _DDL)
