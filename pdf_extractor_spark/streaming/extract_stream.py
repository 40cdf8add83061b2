"""Structured Streaming front-end for the extraction pipeline.

The reference is batch-only with resume semantics (SURVEY.md §2.10); this
module adds the continuous-ingest shape a transcript firehose needs:
``readStream`` over the table directory -> the SAME extract_turns kernel
(stateless per-turn rules stream trivially) -> parquet sink with its own
checkpoint. Late data is handled where it matters — the windowed metrics
stream — via an event-time watermark; the extraction itself is row-local and
needs none.

Batch/stream parity: extract_turns is reused verbatim, so a file processed
by the streaming job yields byte-identical rows to the batch job
(tests/test_streaming.py asserts set equality).

Scale notes: maxFilesPerTrigger bounds micro-batch size; the parquet sink
commits via the checkpoint WAL so restarts are exactly-once per file, the
same unit of work as the batch lineage table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import extract_turns
from ..schema import TRANSCRIPTS


def read_transcript_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    reader = spark.readStream.schema(TRANSCRIPTS)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Continuous extraction: stream in, extract, append to parquet.
    available_now=True drains everything currently present then stops
    (the batch-equivalence mode used by tests and backfills)."""
    stream = read_transcript_stream(spark, input_dir)
    extracted = extract_turns(stream)
    writer = (
        extracted.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.trigger(processingTime="10 seconds").start()


def windowed_turn_counts(stream: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Per-role turns/minute with late-data tolerance: the event-time
    watermark bounds state and admits stragglers up to `watermark` late."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 minute").alias("w"), "role")
        .agg(F.count("*").alias("n_turns"))
        .select(
            F.col("w.start").alias("window_start"),
            "role",
            "n_turns",
        )
    )


def run_windowed_counts(
    spark: SparkSession, input_dir: str, checkpoint_dir: str, table_name: str
):
    """Drain the windowed-count stream into an in-memory table (test/demo
    sink; production writes to the metrics table)."""
    counts = windowed_turn_counts(read_transcript_stream(spark, input_dir))
    q = (
        counts.writeStream.format("memory")
        .queryName(table_name)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
