"""Structured Streaming wrapper around the extraction stage.

The reference has no streaming surface (SURVEY.md §2.9) and the north
rule specifies a resumable BATCH job — that remains the primary mode
(pipeline.py). This wrapper exists because the fused extraction stage
is stateless, so it composes with ``readStream`` unchanged: micro-batch
ingestion of transcript files -> the same Arrow UDF kernels ->
append sink with checkpointing (exactly-once via the streaming
commit log, the streaming analogue of our manifest protocol).

Not applicable under streaming: the salted repartition + within-
partition sort (global sort is unsupported and unnecessary — per-turn
outputs are order-free; the golden-equality tests order by key at
comparison time).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..operators.extract import extract_turns
from ..schema import TRANSCRIPTS_SCHEMA


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Start a file-source streaming extraction query."""
    reader = spark.readStream.schema(TRANSCRIPTS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    turns = reader.parquet(input_dir)
    extracted = extract_turns(turns)
    writer = (
        extracted.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_turn_metrics(extracted_stream, window: str = "5 minutes",
                          watermark: str = "10 minutes"):
    """Watermarked event-time windowed extraction metrics: turns,
    parse failures, and blocks dropped per (payload_kind, window).
    Late turns beyond the watermark are dropped; state is bounded.
    Requires the stream to retain the ``ts`` column."""
    from pyspark.sql import functions as F

    return (
        extracted_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "payload_kind")
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(F.col("parse_failed").cast("long")).alias("parse_failures"),
            F.sum("blocks_dropped").alias("blocks_dropped"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "payload_kind", "n_turns", "parse_failures", "blocks_dropped",
        )
    )
