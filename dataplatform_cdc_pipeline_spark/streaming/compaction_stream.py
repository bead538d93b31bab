"""Streaming ingest with LSM-style run consolidation — the maintenance
loop that keeps a streaming sink's small files from eating the table
(micro-batch sinks produce one small file set per trigger; at 100 TB
the table dies by a thousand footers long before it dies by bytes).

Per micro-batch k behind foreachBatch:

- the batch lands under ``landing/batch=b<k>`` with dynamic partition
  overwrite — the replay contract shared with every incremental index
  here: after checkpoint loss the feed replays batch ids from 0 and
  each replayed batch rewrites exactly its own partition byte-
  identically.
- every ``compact_every`` batches, the landing batches since the last
  run — a BOUNDED delta, never the accumulated table — are
  sort-compacted (operators/compaction.sort_pack_bins) into run
  ``r<j>`` (j = k // compact_every) under ``runs/run=r<j>``, one file
  per bin, clustered on the key so footer min/max stats prune again.
  The run id is a pure function of the batch ids it covers, so a
  replayed compaction overwrites its own run partition with identical
  bytes (idempotent).

The table's live view = consolidated runs + the uncompacted landing
tail; the published per-run/per-tail stats stream (bin row counts, key
ranges) is the maintenance audit a production pipeline monitors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataplatform_cdc_pipeline_spark.operators.compaction import sort_pack_bins
from dataplatform_cdc_pipeline_spark.streaming import drain_batches, read_or_empty


def stream_compact_runs(
    spark: SparkSession,
    source_path: str,
    source_schema: str,
    work_dir: str,
    key: str = "event_id",
    compact_every: int = 2,
    bins_per_run: int = 3,
) -> None:
    """Drain ``source_path`` (one parquet file per micro-batch, mtime
    order) through the landing + run-consolidation loop. Artifacts land
    under ``work_dir``: landing/batch=b<k>, runs/run=r<j>/bin=<i>."""
    landing = f"{work_dir}/landing"
    runs = f"{work_dir}/runs"

    def process(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("batch", F.lit(f"b{batch_id}"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch")
            .parquet(landing)
        )
        if (batch_id + 1) % compact_every == 0:
            j = batch_id // compact_every
            lo, hi = j * compact_every, batch_id
            delta = (
                spark.read.parquet(landing)
                .filter(
                    F.expr("CAST(substring(batch, 2) AS BIGINT)").between(lo, hi)
                )
                .drop("batch")
            )
            n = delta.count()  # bounded: the run delta, not the table
            if n == 0:
                return
            target = -(-n // bins_per_run)  # ceil
            (
                sort_pack_bins(delta, key, target)
                .withColumn("run", F.lit(f"r{j}"))
                .repartition(F.col("bin"))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("run", "bin")
                .parquet(runs)
            )

    stream = (
        spark.readStream.schema(source_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_path)
    )
    drain_batches(stream, process, f"{work_dir}/ckpt")


def run_stats(
    spark: SparkSession,
    work_dir: str,
    key: str,
    data_cols_schema: str,
    n_batches: int,
    compact_every: int = 2,
) -> DataFrame:
    """The maintenance audit: per consolidated (run, bin) — row count,
    key sum and min/max (the footer-stat ranges sort-compaction exists
    to restore) — plus one row per uncompacted landing-tail batch.
    Output: (phase, id, bin, n_rows, sum_key, min_key, max_key)."""
    runs = read_or_empty(
        spark, f"{work_dir}/runs",
        f"bin long, {data_cols_schema}, run string",
    )
    aggs = [
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(key).alias("sum_key"),
        F.min(key).alias("min_key"),
        F.max(key).alias("max_key"),
    ]
    run_rows = (
        runs.groupBy("run", "bin")
        .agg(*aggs)
        .select(
            F.lit("run").alias("phase"),
            F.col("run").alias("id"),
            "bin", "n_rows", "sum_key", "min_key", "max_key",
        )
    )
    n_consolidated = (n_batches // compact_every) * compact_every
    tail = (
        read_or_empty(
            spark, f"{work_dir}/landing",
            f"{data_cols_schema}, batch string",
        )
        .filter(
            F.expr("CAST(substring(batch, 2) AS BIGINT)") >= n_consolidated
        )
        .groupBy("batch")
        .agg(*aggs)
        .select(
            F.lit("tail").alias("phase"),
            F.col("batch").alias("id"),
            F.lit(None).cast("long").alias("bin"),
            "n_rows", "sum_key", "min_key", "max_key",
        )
    )
    return run_rows.unionByName(tail)
