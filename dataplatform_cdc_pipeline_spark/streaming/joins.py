"""Stream-stream join + streaming dedup (beyond-reference streaming
surface): watermarked interval joins and exact dedup over a replayed feed.

Both run as bounded ``availableNow`` drains into a memory sink so the
result is comparable to the equivalent batch query — which is what the
DuckDB oracles recompute. A continuous deployment would use the same plan
against a real sink; the watermarks (2 hours on every event-time column)
bound the join/dedup state either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataplatform_cdc_pipeline_spark.streaming import drain_to_memory


def _click_attribution(
    spark: SparkSession, source_path: str, schema: str, extra: tuple, how: str
) -> DataFrame:
    """Each purchase joined to the same user's clicks in the hour before
    it, drained in append mode. Rows whose ``event_type`` is in ``extra``
    pass both side filters; ``p_type`` carries the purchase side's type."""
    src = spark.readStream.schema(schema).parquet(source_path)
    clicks = (
        src.filter(F.col("event_type").isin("click", *extra))
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        src.filter(F.col("event_type").isin("purchase", *extra))
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("event_type").alias("p_type"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            """
            user_id = click_user AND
            click_ts >= purchase_ts - INTERVAL 1 hour AND
            click_ts <= purchase_ts
            """
        ),
        how,
    ).select(
        "purchase_id",
        "user_id",
        "p_type",
        F.unix_micros("purchase_ts").alias("purchase_ts_us"),
        "click_id",
        F.unix_micros("click_ts").alias("click_ts_us"),
    )
    return drain_to_memory(joined, "append")


def stream_click_purchase_join(
    spark: SparkSession, source_path: str, schema: str
) -> DataFrame:
    """Stream-stream INNER interval join: every purchase matched to the
    same user's clicks in the preceding hour.

    Both sides carry watermarks + the time-range predicate, so Spark can
    bound join state (a click older than purchase-watermark − window is
    provably unmatchable and gets evicted). Inner-join rows emit as they
    match — no holdback — so the availableNow drain equals the batch
    interval join.
    """
    return _click_attribution(spark, source_path, schema, (), "inner").drop(
        "p_type"
    )


def stream_distinct_events(
    spark: SparkSession,
    source_path: str,
    schema: str,
    key_cols: list[str],
) -> DataFrame:
    """Streaming exact dedup of a replayed/at-least-once feed:
    ``dropDuplicatesWithinWatermark`` keeps one row per key with state
    bounded by the watermark on ``ts`` (a key older than the watermark
    can never recur within delivery skew, so its dedup state is evicted)
    — unlike plain ``dropDuplicates``, whose state grows forever on a
    stream."""
    stream = (
        spark.readStream.schema(schema)
        .parquet(source_path)
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(key_cols)
    )
    return drain_to_memory(stream, "append")


def stream_point_in_time_enrich(
    spark: SparkSession,
    source_path: str,
    schema: str,
    history: DataFrame,
    pk: list[str],
    fact_ts_col: str,
) -> DataFrame:
    """Stream-STATIC temporal enrichment: facts stream in micro-batches
    and each joins the SCD2 dimension VERSION valid at its own event
    time — the online leg of the feature-store join
    (operators/scd2.point_in_time_join, reused verbatim so batch and
    streaming share ONE join definition).

    A stream-static inner join is stateless per micro-batch (the static
    side is re-resolved each batch, no watermark or join state needed),
    so the drained availableNow result must equal the batch join — which
    is exactly what the oracle recomputes. The dimension snapshot is
    pinned for the run; a live deployment would swap in the current SCD2
    table per batch and get as-of-now enrichment for free.
    """
    from dataplatform_cdc_pipeline_spark.operators.scd2 import point_in_time_join

    facts = spark.readStream.schema(schema).parquet(source_path)
    return drain_to_memory(point_in_time_join(facts, history, pk, fact_ts_col), "append")


def stream_left_outer_attribution(
    spark: SparkSession, source_path: str, schema: str
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every purchase with its
    same-user prior-hour clicks — and purchases with NO matching click
    STILL emit, NULL-padded, once the watermark proves no match can
    arrive. That proof is the outer join's whole difficulty: the
    NULL-padded row for purchase P is only correct after the click-side
    watermark passes P's join window, so Spark holds unmatched rows in
    state until then. A bounded availableNow drain therefore needs the
    caller to stage, inside ``source_path``, files of ``__sentinel`` rows
    whose mtimes are later than every real file's and whose far-future
    ``ts`` advances the watermark past every real purchase — exactly the
    late-data-drop query's sentinel technique; the sentinel rows are
    filtered from the result. Without them the trailing purchases' NULL
    rows stay held back and the drain is incomplete in a way no inner
    join reveals."""
    # sentinels must pass BOTH side filters: the query's global watermark
    # is the MIN across eventTime columns, so a click-side watermark
    # stuck at the real data's max would hold every NULL row back forever
    out = _click_attribution(
        spark, source_path, schema, ("__sentinel",), "left_outer"
    )
    return out.filter(F.col("p_type") != "__sentinel").drop("p_type")
