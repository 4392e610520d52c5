"""Structured-Streaming input for transcript turns.

The reference is strictly batch (SURVEY.md §2.14); this is the
engine's additive streaming surface for transcript turns arriving
continuously: ``stream_turns`` is the file-stream reader that
``stateful_assemble.assemble_stream`` consumes, and the windowed
rollup shows the watermark + tumbling-window pattern for late turns.

Run via tests (file source + memory sink) — no external broker in the
sandbox.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from paperslicer_spark.sources.transcripts import TRANSCRIPT_SCHEMA


def stream_turns(spark: SparkSession, path: str,
                 max_files_per_trigger: int = 1) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def streaming_turn_rates(turns: DataFrame, watermark: str = "10 minutes",
                         window: str = "5 minutes") -> DataFrame:
    """Tumbling-window turn counts with a watermark for late arrivals."""
    return (
        turns.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "role")
        .agg(F.count("*").alias("n_turns"),
             F.sum(F.length("text")).alias("n_chars"))
        .select(F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"), "role",
                "n_turns", "n_chars")
    )
