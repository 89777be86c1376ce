"""Structured Streaming surfaces for the engine's operators.

The reference is strictly batch (SURVEY.md §2.10), so streaming is an
*engine addition*, not a parity requirement: the same column expressions
and kernels run under ``readStream`` with watermarks. Two surfaces here:

* :func:`stream_transcripts` — file-source stream of the transcripts table.
* :func:`windowed_turn_counts` — watermarked tumbling-window aggregation
  (the streaming form of queries.t1_time_window_agg; late turns beyond the
  watermark are dropped, per standard event-time semantics).

Streaming ER itself — durable feature and assignment state maintained per
micro-batch — is :func:`blink_spark.operators.incremental.incremental_er_stream`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blink_spark.synth import TRANSCRIPT_SCHEMA


def stream_transcripts(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source stream of transcript rows (one parquet file per batch)."""
    return spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(input_dir)


def windowed_turn_counts(
    transcripts: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling-window per-role turn counts (streaming agg)."""
    return (
        transcripts.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "role")
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(F.col("w.start").alias("window_start"), "role", "n_turns")
    )
