"""Streaming maintenance of the incremental BM25 index — the same
inverted-index loop as operators/bm25_index.py behind foreachBatch, so
every micro-batch of crawled documents becomes searchable the moment its
batch commits (the search mirror of streaming/dedup_stream.py).

Per micro-batch k: ``add_batch("b<k>", docs)`` publishes the delta's
postings + per-batch aggregates (idempotent partition overwrite), then a
top-k search SCOPED TO BATCHES ≤ k is snapshotted under its own
``batch=b<k>`` partition. The ≤ k scope is the replay contract shared
with the dedup stream: after checkpoint loss the feed replays batch ids
from 0 against a work dir that already holds this batch's FUTURE — the
scope reconstructs exactly the pre-crash view, so the re-published
snapshot is byte-identical (replay test pins it). The snapshot sequence
is therefore the index's search-quality history: how the ranking for a
standing query drifted as the corpus grew — the monitoring surface a
production crawl pipeline actually wants.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataplatform_cdc_pipeline_spark.operators.bm25_index import (
    IncrementalBm25Index,
)
from dataplatform_cdc_pipeline_spark.streaming import drain_batches, read_or_empty


def stream_bm25_index(
    spark: SparkSession,
    source_path: str,
    source_schema: str,
    work_dir: str,
    query_terms: Sequence[str],
) -> DataFrame:
    """Drain ``source_path`` (parquet files of (doc_id, text), one
    micro-batch per file in mtime order) through the incremental BM25
    loop; returns the accumulated per-batch top-20 search snapshots
    (batch, doc_id, bm25)."""
    idx = IncrementalBm25Index(spark, f"{work_dir}/index")
    searches = f"{work_dir}/searches"

    def process(batch_df: DataFrame, batch_id: int) -> None:
        idx.add_batch(f"b{batch_id}", batch_df.select("doc_id", "text"))
        scope = F.expr(f"CAST(substring(batch, 2) AS BIGINT) <= {batch_id}")
        snap = idx.search(query_terms, top_k=20, batch_filter=scope)
        (
            snap.withColumn("batch", F.lit(f"b{batch_id}"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch")
            .parquet(searches)
        )

    stream = (
        spark.readStream.schema(source_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_path)
    )
    drain_batches(stream, process, f"{work_dir}/ckpt")
    return read_or_empty(
        spark, searches, "doc_id long, bm25 double, batch string"
    ).select("batch", "doc_id", "bm25")
