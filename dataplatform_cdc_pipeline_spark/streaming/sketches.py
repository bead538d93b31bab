"""Streaming sketch maintenance: KMV distinct-count state kept current by
a Structured Streaming loop.

The batch KMV sketch (operators/sketches.py) is MERGEABLE — union the
retained hashes, keep the bottom k — which makes its streaming
maintenance trivial and EXACT: each micro-batch's sketch merges into the
persisted state, and because merge is idempotent (unioning the same
batch twice dedups to the same set), a replayed batch after a crash
cannot corrupt the state. The drained streaming state is therefore
bit-equal to the batch sketch over all data — the property the query's
oracle checks (same oracle SQL as the batch twin, by construction).

This is the standard production layout for streaming cardinality
(Druid/Pinot ingest-time theta sketches): per-batch sketch build is one
small aggregation; state is k int64s per group regardless of stream
length.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataplatform_cdc_pipeline_spark.operators.sketches import kmv_sketch
from dataplatform_cdc_pipeline_spark.streaming import drain_batches


def _read_state(spark: SparkSession, path: str) -> DataFrame | None:
    """Persisted sketch state, or None ONLY when no state exists yet
    (first batch). Any other read failure — a corrupt/partial state file,
    a permission problem — propagates: swallowing it would silently reset
    the accumulated sketch to the current batch, a permanent invisible
    undercount (fail-loudly convention)."""
    if not os.path.exists(path):
        return None
    return spark.read.parquet(path)


def run_streaming_distinct_sketch(
    spark: SparkSession,
    src_path: str,
    schema: T.StructType | str,
    key_col: str,
    group_col: str,
    state_path: str,
    checkpoint_path: str,
    k: int = 32,
) -> None:
    """Drain ``src_path`` (availableNow) maintaining a per-``group_col``
    KMV sketch of ``key_col`` at ``state_path``.

    Each batch: sketch the batch, union with persisted state, re-rank,
    keep bottom k per group. The union-merge is idempotent, so replays
    are harmless; the state is eagerly materialized BEFORE the overwrite
    (the read-then-overwrite-same-path hazard — invariant 11).
    """
    from pyspark.sql import Window

    stream = spark.readStream.schema(schema).parquet(src_path)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_sk = kmv_sketch(batch_df, key_col, [group_col], k).select(group_col, "hv")
        prev = _read_state(spark, state_path)
        pool = batch_sk if prev is None else batch_sk.unionByName(
            prev.select(group_col, "hv")
        )
        w = Window.partitionBy(group_col).orderBy(F.col("hv").asc())
        merged = (
            pool.distinct()
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .localCheckpoint(eager=True)
        )
        merged.write.mode("overwrite").parquet(state_path)

    drain_batches(stream, process_batch, checkpoint_path)
