"""Streaming near-duplicate screening — the incremental LSH index
(operators/dedup_index.py) maintained by a Structured Streaming
foreachBatch loop, so every micro-batch of crawled documents is deduped
against everything that arrived before it, at delta cost.

Per micro-batch, in this order (the order IS the crash contract):

1. screen the batch against the index and the archived corpus, with the
   batch's OWN partitions masked everywhere (``exclude_batches`` on the
   index, a batch filter on the archive) — so a replayed batch after a
   mid-commit crash sees exactly the pre-crash world;
2. write the verified pairs under ``pairs/batch=<id>``;
3. publish the batch's band rows to the index (``batch=<id>``);
4. archive the batch's documents (``archive/batch=<id>``).

Every write is a dynamic-partition overwrite of the batch's own
partition, so replaying any prefix of the steps rewrites identical
content — exactly-once by rewrite, the same contract as the streaming
merges (stream_merge.py). The pairs are materialized (step 2) BEFORE
the index and archive mutate (steps 3-4), closing the
lazy-read-after-mutation hazard ivm.py documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataplatform_cdc_pipeline_spark.operators.dedup_index import IncrementalLshIndex
from dataplatform_cdc_pipeline_spark.streaming import drain_batches, read_or_empty


def stream_incremental_dedup(
    spark: SparkSession,
    source_path: str,
    source_schema: str,
    work_dir: str,
    threshold: float = 0.5,
) -> DataFrame:
    """Drain ``source_path`` (parquet files of (doc_id, text), one
    micro-batch per file in mtime order) through the incremental dedup
    loop; returns the accumulated pairs
    (new_id, other_id, kind, jaccard, batch)."""
    idx = IncrementalLshIndex(spark, f"{work_dir}/index")
    archive = f"{work_dir}/archive"
    pairs_path = f"{work_dir}/pairs"

    def process(batch_df: DataFrame, batch_id: int) -> None:
        b = f"b{batch_id}"
        # batch k must see STRICTLY EARLIER batches (< k), not merely
        # "not itself": after checkpoint loss the feed replays against a
        # work dir that already holds this batch's FUTURE — batch ids
        # restart at 0 over the same mtime-ordered files, so `< k`
        # reconstructs exactly the pre-crash view (replay test pins it)
        earlier = F.expr(f"CAST(substring(batch, 2) AS BIGINT) < {batch_id}")
        docs = batch_df.select("doc_id", "text").localCheckpoint(eager=True)
        prior = read_or_empty(
            spark, archive, "doc_id long, text string, batch string"
        ).filter(earlier)
        corpus = prior.select("doc_id", "text").unionByName(docs)
        # ONE signature pass per batch (r12 optimization): the screen
        # and the publish share the same materialized band rows
        bands = idx.band_rows(docs)
        pairs = idx.dedup_batch(
            docs, corpus, threshold=threshold, index_filter=earlier, bands=bands
        ).withColumn("batch", F.lit(b))
        (
            pairs.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch")
            .parquet(pairs_path)
        )
        idx.add_batch(b, docs, bands=bands)
        (
            docs.withColumn("batch", F.lit(b))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch")
            .parquet(archive)
        )

    stream = (
        spark.readStream.schema(source_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_path)
    )
    drain_batches(stream, process, f"{work_dir}/ckpt")
    # a corpus with zero near-dups writes no pairs partitions at all
    return read_or_empty(
        spark,
        pairs_path,
        "new_id long, other_id long, kind string, jaccard double, batch string",
    ).select("new_id", "other_id", "kind", "jaccard", "batch")
