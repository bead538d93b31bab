"""CDC source readers + the deterministic events→CDC feed.

The reference's bronze table is landed by an external ingestion process
(Debezium → Pub/Sub → BQ, or binlog → MySQL staging); rows are
``(data JSON, load_ts, publish_time, …)`` (FIXTURES.md F1;
merge.sql:307-326). For tests/bench the engine synthesizes an equivalent
feed from the driver's ``events`` table — a pure-Column transform, fully
deterministic, so a SQL oracle can recompute expected results relationally.

Mapping (events → CDC envelope):
  __op          'error' → 'd', 'signup' → 'c', else 'u'
  __ts_ns       epoch nanos of ``ts`` (string, variant A of FIXTURES F1a)
  __source_pos  ``event_id`` (monotone source position)
  payload       user_id (PK), event_type, value, k (from props JSON)
  load_ts       ``ts`` (arrival == event time for the synthetic feed)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataplatform_cdc_pipeline_spark.config import MergeConfig

#: The landed bronze table's columns, as :func:`synthesize_cdc_from_events`
#: produces them; streaming readers declare it instead of inferring it.
BRONZE_SCHEMA = (
    "data string, load_ts timestamp, publish_time timestamp, "
    "message_id string, source_db_table string, subscription_name string"
)

#: Typed silver target exercised by the synthetic feed: latest state per user.
USER_STATE_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("k", T.IntegerType()),
    ]
)


def user_state_config(cdc_table: str = "events_cdc", **overrides) -> MergeConfig:
    return MergeConfig.from_dict(
        {
            "cdc_table": cdc_table,
            "target_table": "user_state",
            "target_database": "silver",
            "pk": "user_id",
            "ts_ns_encoding": "nanos",
            **overrides,
        }
    )


def op_expr(event_type=None):
    """Deterministic op assignment — 'error' events model deletes."""
    event_type = event_type if event_type is not None else F.col("event_type")
    return (
        F.when(event_type == "error", F.lit("d"))
        .when(event_type == "signup", F.lit("c"))
        .otherwise(F.lit("u"))
    )


#: DuckDB-SQL equivalent of :func:`op_expr` (oracle side).
OP_SQL = "CASE WHEN event_type = 'error' THEN 'd' WHEN event_type = 'signup' THEN 'c' ELSE 'u' END"


def synthesize_cdc_from_events(events: DataFrame, load_ts=None) -> DataFrame:
    """events table → bronze CDC frame ``(data, load_ts, publish_time, …)``.

    ``load_ts`` overrides the arrival time (default: the event time itself);
    pass a shifted Column to model LATE-ARRIVING data — events whose
    arrival batch is later than their event time (SURVEY §2.8 replay
    semantics).

    Robust to TIMESTAMP_NTZ input: callers may hand a frame read outside
    :func:`~dataplatform_cdc_pipeline_spark.sources.tables.load_table`
    (e.g. unadjusted-to-UTC parquet); epoch arithmetic below requires TZ.
    """
    from dataplatform_cdc_pipeline_spark.sources.tables import normalize_ntz

    events = normalize_ntz(events)
    payload = F.to_json(
        F.struct(
            op_expr().alias("__op"),
            (F.unix_micros(F.col("ts")) * F.lit(1000)).cast("string").alias("__ts_ns"),
            F.col("event_id").cast("string").alias("__source_pos"),
            F.col("user_id"),
            F.col("event_type"),
            F.col("value"),
            F.get_json_object("props", "$.k").cast("int").alias("k"),
        )
    )
    lt = load_ts if load_ts is not None else F.col("ts")
    return events.select(
        payload.alias("data"),
        lt.alias("load_ts"),
        lt.alias("publish_time"),
        F.concat(F.lit("m-"), F.col("event_id")).alias("message_id"),
        F.lit("demo.events").alias("source_db_table"),
        F.lit("sub-events").alias("subscription_name"),
    )


def read_cdc_batch(
    spark: SparkSession, path: str, schema: T.StructType | None = None, fmt: str | None = None
) -> DataFrame:
    """S4 batch reader for a landed bronze table (parquet/json/csv/orc).

    Column pruning + the window predicate push down to the scan; a
    date-partitioned landing layout gets partition pruning for free from
    the ``load_ts`` filter (vs the reference's explicit PARTITION list,
    step-8:352-377).
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if path.endswith((".json", ".jsonl")) or fmt == "json":
        return reader.json(path)
    if path.endswith(".csv") or fmt == "csv":
        return reader.option("header", "true").csv(path)
    if path.endswith(".orc") or fmt == "orc":
        return reader.orc(path)
    return reader.parquet(path)
