"""Streaming event-time windowed aggregation (beyond-reference streaming
surface: the reference has no tumbling/sliding windows, SURVEY.md §2.8).

``stream_tumbling_counts`` runs a watermarked tumbling-window aggregation
over a parquet-landed event stream with ``availableNow`` + memory sink —
the drained result equals the equivalent batch GROUP BY, which is exactly
what the DuckDB oracle checks. Every variant here watermarks ``ts`` by
2 hours and aggregates ``value`` the same way (:func:`_totals`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dataplatform_cdc_pipeline_spark.streaming import drain_to_memory


def _totals(stream: DataFrame, window: Column, key: str) -> DataFrame:
    """Per (window ``w``, ``key``): row count ``n`` and ``total_value``,
    the 2-dp DECIMAL sum of ``value`` the oracles recompute."""
    return (
        stream.withWatermark("ts", "2 hours")
        .groupBy(window.alias("w"), F.col(key))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(25,6)")), 2)
            .cast("double")
            .alias("total_value"),
        )
    )


def _window_counts(stream: DataFrame, window: Column, mode: str) -> DataFrame:
    """(window_start_us, event_type, n, total_value), drained in ``mode``."""
    return drain_to_memory(
        _totals(stream, window, "event_type").select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n",
            "total_value",
        ),
        mode,
    )


def stream_tumbling_counts(
    spark: SparkSession, source_path: str, schema: str
) -> DataFrame:
    """1-hour tumbling-window counts/sums per ``event_type`` over a
    streamed parquet directory.

    Complete output mode against the memory sink: a bounded ``availableNow``
    drain emits every window (append mode would hold back trailing windows
    the final watermark never passes), so the result equals the batch
    aggregation. A continuous deployment would run append mode to a real
    sink with the watermark bounding state.
    """
    stream = spark.readStream.schema(schema).parquet(source_path)
    return _window_counts(stream, F.window("ts", "1 hour"), "complete")


def stream_sliding_counts(
    spark: SparkSession, source_path: str, schema: str
) -> DataFrame:
    """SLIDING-window counts/sums (4-hour windows every hour → every
    event lands in exactly 4 overlapping windows). Same complete-mode
    availableNow drain as the tumbling form; state per group is bounded
    by (length/slide) concurrent windows past the watermark."""
    stream = spark.readStream.schema(schema).parquet(source_path)
    return _window_counts(stream, F.window("ts", "4 hours", "1 hour"), "complete")


def stream_session_windows(
    spark: SparkSession, source_path: str, schema: str
) -> DataFrame:
    """Watermarked SESSION-window aggregation per ``user_id`` over a
    streamed directory: a session = consecutive events per key with
    < 30 minutes between them
    (``F.session_window`` — dynamic, data-driven windows; state merges as
    late events bridge sessions). Complete-mode availableNow drain, so the
    result equals batch gap-based sessionization — which is exactly what
    the DuckDB oracle recomputes (session end = last event + gap).
    """
    stream = spark.readStream.schema(schema).parquet(source_path)
    sessions = _totals(stream, F.session_window("ts", "30 minutes"), "user_id")
    return drain_to_memory(
        sessions.select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            F.unix_micros(F.col("w.end")).alias("session_end_us"),
            F.col("n").alias("n_events"),
            "total_value",
        ),
        "complete",
    )


def stream_tumbling_counts_append(
    spark: SparkSession, source_path: str, schema: str
) -> DataFrame:
    """APPEND-mode tumbling aggregation with one-file-per-micro-batch —
    the variant that actually exercises watermark semantics (the
    complete-mode twin above cannot drop anything: every batch re-emits
    full state). Files process in modification-time order, so a caller
    staging out-of-order files with staggered mtimes gets deterministic
    batch boundaries: rows arriving after the watermark passed their
    window's end are DROPPED, windows emit exactly once when the
    watermark passes them, and windows the final watermark never passes
    (e.g. a trailing sentinel's own) are held back forever."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_path)
    )
    return _window_counts(stream, F.window("ts", "1 hour"), "append")
