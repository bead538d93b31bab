"""Streaming distribution-drift monitoring: a live value histogram
maintained through a Structured Streaming drain, compared against a
FIXED reference window by PSI (the batch operator's semantics —
queries_prep.q_events_psi_drift — lifted to a stream).

Exactly-once without sketch idempotence: histogram-count merge is
ADDITION, which a replayed micro-batch would double — unlike the KMV
union (streaming/sketches.py), which is naturally idempotent. The state
layout makes replay harmless anyway: each batch writes its OWN
deterministic per-bin counts under ``state/batch=<id>/`` with overwrite
semantics, so a replay rewrites identical content instead of adding
twice; the final histogram is the sum over batch directories. This is
the write-once-per-batch-id pattern Delta's txnVersion formalizes,
reduced to a directory convention.

Bin edges are frozen from the REFERENCE window (production drift
monitors fix edges at deployment time — live outliers clamp into the
edge bins rather than silently re-binning history).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataplatform_cdc_pipeline_spark.streaming import drain_batches


def bin_expr(value_col: str, vmin: float, vmax: float, n_bins: int):
    """Frozen-edge equal-width bin id with edge clamping."""
    c = F.col(value_col)
    raw = F.floor((c - F.lit(vmin)) / (F.lit(vmax) - F.lit(vmin)) * F.lit(float(n_bins)))
    return F.greatest(F.lit(0), F.least(F.lit(n_bins - 1), raw)).cast("int")


def run_streaming_histogram(
    spark: SparkSession,
    src_path: str,
    schema: T.StructType | str,
    value_col: str,
    state_path: str,
    checkpoint_path: str,
    vmin: float,
    vmax: float,
    n_bins: int = 10,
) -> None:
    """Drain ``src_path`` (availableNow) maintaining per-bin counts of
    ``value_col`` under ``state_path/batch=<id>/``."""
    stream = spark.readStream.schema(schema).parquet(src_path)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        counts = (
            batch_df.filter(F.col(value_col).isNotNull())
            .select(bin_expr(value_col, vmin, vmax, n_bins).alias("bin"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        # deterministic per-batch content + overwrite = replay-idempotent
        counts.write.mode("overwrite").parquet(f"{state_path}/batch={batch_id}")

    drain_batches(stream, process_batch, checkpoint_path)


def histogram_state(spark: SparkSession, state_path: str) -> DataFrame:
    """(bin, n) summed over every drained batch directory."""
    return (
        spark.read.option("basePath", state_path)
        .parquet(f"{state_path}/batch=*")
        .groupBy("bin")
        .agg(F.sum("n").alias("n"))
    )
