"""Structured Streaming front-end for the CDC merge engine.

Every streaming query here is a bounded ``availableNow`` drain through one
of two helpers: :func:`drain_batches` (``foreachBatch`` into an idempotent
sink, the checkpoint scoping each micro-batch) or :func:`drain_to_memory`
(the memory sink, for results compared against a batch oracle).
"""

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery


def drain_batches(stream: DataFrame, process, checkpoint: str) -> StreamingQuery:
    """Run ``process(batch_df, batch_id)`` on every micro-batch of
    ``stream`` available now, checkpointed at ``checkpoint``, and return
    the finished query. An exception in ``process`` fails the query and
    leaves that batch uncommitted, so a rerun on the same checkpoint
    replays it."""
    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def drain_to_memory(frame: DataFrame, mode: str) -> DataFrame:
    """Drain the streaming ``frame`` into a uniquely named memory table in
    output ``mode`` and return that table."""
    name = f"drain_{uuid.uuid4().hex[:8]}"
    (
        frame.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return frame.sparkSession.table(name)


def read_or_empty(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Read a batch-partitioned parquet dir that may not exist yet, or
    may hold zero data files (a drain that produced no rows still
    commits the directory). The DECLARED schema makes both read as zero
    rows instead of failing schema inference; a real read error still
    propagates."""
    if not os.path.isdir(path):
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(path)


from dataplatform_cdc_pipeline_spark.streaming.stream_merge import (  # noqa: E402
    run_streaming_merge,
    streaming_dedup_within_watermark,
)

__all__ = [
    "drain_batches",
    "drain_to_memory",
    "read_or_empty",
    "run_streaming_merge",
    "streaming_dedup_within_watermark",
]
