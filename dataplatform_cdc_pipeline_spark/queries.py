"""The engine's query inventory — each entry is (Spark implementation,
DuckDB oracle SQL) over the driver's synthetic tables (TESTDATA.md).

Conventions for exact oracle parity (driver hashes values column-sorted):
- every computed column aliased identically on both sides
- timestamps → epoch **micros** BIGINT (``unix_micros`` ⟷
  ``epoch_us(x::TIMESTAMP)``), dates → 'yyyy-MM-dd' strings
- floating aggregates rounded to a fixed scale on both sides
- hashes derived from MD5 only (identical across engines; functions/hashing)

The CDC queries synthesize a bronze feed from ``events``
(sources/cdc.py) and run the REAL engine operators — window scan, dedup,
cast rules, survivorship, full merge lifecycle — while the oracle recomputes
the expected relational result directly from ``events``.
"""

from __future__ import annotations

import datetime
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataplatform_cdc_pipeline_spark import bench_phases
from dataplatform_cdc_pipeline_spark.config import MergeConfig
from dataplatform_cdc_pipeline_spark.operators.dedup import latest_per_key
from dataplatform_cdc_pipeline_spark.plans.merge_plan import (
    build_changes,
    build_two_stream,
    window_scan,
)
from dataplatform_cdc_pipeline_spark.sources.cdc import (
    OP_SQL,
    USER_STATE_SCHEMA,
    op_expr,
    synthesize_cdc_from_events,
    user_state_config,
)
from dataplatform_cdc_pipeline_spark.sources.tables import load_table, spread_scan

# Fixed half-open CDC window used by the windowed queries (events span
# 2024-01; the same literals work at every scale factor).
WIN_START = "2024-01-05 00:00:00"
WIN_END = "2024-01-20 00:00:00"

# The synthesized bronze feed is identical for every CDC query in a session;
# persist it once per sf_dir instead of re-running the events→JSON synthesis
# per query (the driver and bench call many queries in one session).
_FEED_CACHE: dict[str, DataFrame] = {}


def cdc_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = f"{spark.sparkContext.applicationId}:{sf_dir}"
    if key not in _FEED_CACHE:
        # spread_scan BEFORE the synthesis (r13, guide §2.5/§6): the
        # events table is one single-row-group file, so without it the
        # JSON envelope synthesis AND every consumer's json_tuple parse
        # of the cached feed run as ONE task; the persisted feed keeps
        # the spread partitioning, so every CDC query's window scan is
        # parallel. No-op at production split counts (see spread_scan).
        _FEED_CACHE[key] = synthesize_cdc_from_events(
            spread_scan(load_table(spark, sf_dir, "events"))
        ).persist()
    return _FEED_CACHE[key]

# ---------------------------------------------------------------------------
# CDC core queries (S4/F1-F4/W1/P*/J2/K1-K4/A2-A3 from SURVEY.md §2)
# ---------------------------------------------------------------------------


def q_cdc_window_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4+F1+F3: half-open window scan + envelope extraction."""
    raw = cdc_feed(spark, sf_dir)
    cfg = user_state_config()
    w = window_scan(raw, cfg, WIN_START, WIN_END)
    return w.select(
        F.col("__op").alias("op"),
        F.col("__pos").alias("pos"),
        F.unix_micros("__event_ts").alias("event_ts_us"),
        F.unix_micros(F.col("load_ts")).alias("load_ts_us"),
    )


SQL_CDC_WINDOW_SCAN = f"""
SELECT {OP_SQL} AS op,
       event_id AS pos,
       epoch_us(ts::TIMESTAMP) AS event_ts_us,
       epoch_us(ts::TIMESTAMP) AS load_ts_us
FROM events
WHERE ts > TIMESTAMP '{WIN_START}' AND ts <= TIMESTAMP '{WIN_END}'
ORDER BY pos
"""


def q_cdc_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: latest event per PK (event-ts order, pos tiebreak)."""
    raw = cdc_feed(spark, sf_dir)
    cfg = user_state_config()
    w = window_scan(raw, cfg, None, None)
    keyed = w.select(
        F.col("__op"),
        F.col("__pk_raw_0").cast("long").alias("user_id"),
        F.get_json_object("data", "$.event_type").alias("event_type"),
        F.get_json_object("data", "$.value").cast("double").alias("value"),
        F.col("__event_ts").alias("source_ts_ns_order"),
        F.col("__pos").alias("pos"),
    )
    out = latest_per_key(keyed, ["user_id"])
    return out.select(
        "user_id",
        F.col("__op").alias("op"),
        "event_type",
        "value",
        F.unix_micros("source_ts_ns_order").alias("event_ts_us"),
        "pos",
    )


SQL_CDC_DEDUP_LATEST = f"""
WITH ranked AS (
  SELECT user_id, {OP_SQL} AS op, event_type, value,
         epoch_us(ts::TIMESTAMP) AS event_ts_us, event_id AS pos,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts::TIMESTAMP) DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, op, event_type, value, event_ts_us, pos
FROM ranked WHERE rn = 1 ORDER BY user_id
"""


def q_cdc_dedup_latest_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 via the two-phase SALTED dedup (the window-skew escape hatch for
    hot keys — operators/dedup.latest_per_key(salt_buckets=8)). "Latest" is
    associative, so the result must be identical to the unsalted form;
    gated by the same oracle as ``cdc_dedup_latest``."""
    raw = cdc_feed(spark, sf_dir)
    cfg = user_state_config()
    w = window_scan(raw, cfg, None, None)
    keyed = w.select(
        F.col("__op"),
        F.col("__pk_raw_0").cast("long").alias("user_id"),
        F.get_json_object("data", "$.event_type").alias("event_type"),
        F.get_json_object("data", "$.value").cast("double").alias("value"),
        F.col("__event_ts").alias("source_ts_ns_order"),
        F.col("__pos").alias("pos"),
    )
    out = latest_per_key(keyed, ["user_id"], salt_buckets=8)
    return out.select(
        "user_id",
        F.col("__op").alias("op"),
        "event_type",
        "value",
        F.unix_micros("source_ts_ns_order").alias("event_ts_us"),
        "pos",
    )


#: Wide target schema exercising the cast-rule engine end-to-end.
CAST_DEMO_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),  # P15/P16 ('null' → NULL)
        T.StructField("value", T.DoubleType()),  # P15 double
        T.StructField("k", T.IntegerType()),  # P15 int
        T.StructField("is_big", T.BooleanType()),  # P11 bool parse
        T.StructField("bitcol", T.IntegerType()),  # P7 bit_to_int
        T.StructField("created_ns", T.TimestampType()),  # P4 epoch nanos
        T.StructField("created_s", T.TimestampType()),  # P6 epoch seconds
        T.StructField("birth_date", T.DateType()),  # P5 epoch days
        T.StructField("updated_at", T.TimestampType()),  # P8 ISO datetime
        T.StructField("event_ms", T.TimestampType()),  # P13 epoch millis
        T.StructField("rk_int", T.LongType()),  # P9 → yyyymmddHHMMSS
        T.StructField("Rowkeynum", T.LongType()),  # P2 base64 row key
        T.StructField("SysEndTime", T.TimestampType()),  # P1 sentinel
        T.StructField("amount", T.DecimalType(18, 4)),  # P15 decimal
    ]
)


def _cast_demo_payload() -> F.Column:
    """Synthesize a payload exercising every deterministic cast rule."""
    iso = F.date_format(F.col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'")
    rk_num = F.col("user_id") * F.lit(1_000_000) + F.col("event_id")
    return F.to_json(
        F.struct(
            op_expr().alias("__op"),
            (F.unix_micros("ts") * F.lit(1000)).cast("string").alias("__ts_ns"),
            F.col("event_id").cast("string").alias("__source_pos"),
            F.col("user_id"),
            F.when(F.col("event_type") == "view", F.lit("null"))
            .otherwise(F.col("event_type"))
            .alias("event_type"),
            F.col("value"),
            F.get_json_object("props", "$.k").cast("int").alias("k"),
            F.when(F.col("value") > 100, "true").otherwise("false").alias("is_big"),
            F.when(F.col("value") > 100, "true").otherwise("false").alias("bitcol"),
            (F.unix_micros("ts") * F.lit(1000)).cast("string").alias("created_ns"),
            (F.unix_micros("ts") / F.lit(1_000_000)).cast("long").cast("string").alias("created_s"),
            F.call_function("div", F.unix_micros("ts"), F.lit(1000)).cast("string").alias("event_ms"),
            ((F.col("user_id") * 100 + F.col("event_id") % 100).cast("string")).alias("birth_date"),
            iso.alias("updated_at"),
            iso.alias("rk_int"),
            F.base64(F.unhex(F.lpad(F.hex(rk_num), 16, "0"))).alias("rk"),
            F.round(F.col("value") * 1.5, 4).cast("string").alias("amount"),
        )
    )


def q_cdc_cast_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P2/P4-P9/P11/P15/P16 cast rules through the real engine."""
    events = spread_scan(load_table(spark, sf_dir, "events"))
    raw = events.select(_cast_demo_payload().alias("data"), F.col("ts").alias("load_ts"))
    cfg = MergeConfig.from_dict(
        {
            "cdc_table": "demo",
            "target_table": "cast_demo",
            "pk": "user_id",
            "epoc_nano_cols": "created_ns",
            "epoc_cols": "created_s",
            "epoc_day_cols": "birth_date",
            "datetime_millis_cols": "event_ms",
            "bit_to_int_col": "bitcol",
            "non_epoch_datetime_col": "updated_at",
            "datetime_to_int_val_col": "rk_int",
            "row_key_binary": "rk",
            "ts_ns_encoding": "nanos",
        }
    )
    changes = build_changes(window_scan(raw, cfg, None, None), CAST_DEMO_SCHEMA, cfg, True)
    return changes.select(
        "user_id",
        "event_type",
        "value",
        "k",
        "is_big",
        "bitcol",
        F.unix_micros("created_ns").alias("created_ns_us"),
        F.unix_micros("created_s").alias("created_s_us"),
        F.date_format("birth_date", "yyyy-MM-dd").alias("birth_date"),
        F.unix_micros("updated_at").alias("updated_at_us"),
        F.unix_micros("event_ms").alias("event_ms_us"),
        "rk_int",
        F.col("Rowkeynum").alias("rowkeynum"),
        F.date_format("SysEndTime", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("sys_end_time"),
        F.col("amount").cast("string").alias("amount"),
    )


SQL_CDC_CAST_PROJECTION = f"""
WITH ranked AS (
  SELECT *, {OP_SQL} AS op,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts::TIMESTAMP) DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id,
       CASE WHEN event_type = 'view' THEN NULL ELSE event_type END AS event_type,
       value,
       json_extract_string(props, '$.k')::INT AS k,
       value > 100 AS is_big,
       CASE WHEN value > 100 THEN 1 ELSE 0 END AS bitcol,
       epoch_us(ts::TIMESTAMP) AS created_ns_us,
       (epoch_us(ts::TIMESTAMP) // 1000000) * 1000000 AS created_s_us,
       strftime(DATE '1970-01-01' + INTERVAL (user_id * 100 + event_id % 100) DAY, '%Y-%m-%d') AS birth_date,
       (epoch_us(ts::TIMESTAMP) // 1000000) * 1000000 AS updated_at_us,
       (epoch_us(ts::TIMESTAMP) // 1000) * 1000 AS event_ms_us,
       strftime(ts::TIMESTAMP, '%Y%m%d%H%M%S')::BIGINT AS rk_int,
       user_id * 1000000 + event_id AS rowkeynum,
       '9999-12-31 23:59:59.999999' AS sys_end_time,
       printf('%.4f', round(value * 1.5, 4)) AS amount
FROM ranked WHERE rn = 1 ORDER BY user_id
"""


def q_cdc_delete_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: deletes surviving against the upsert view (two-stream fidelity)."""
    raw = cdc_feed(spark, sf_dir)
    cfg = user_state_config(two_stream_fidelity=True)
    w = window_scan(raw, cfg, None, None)
    _, log_v_d = build_two_stream(w, USER_STATE_SCHEMA, cfg, deterministic_audit=True)
    return log_v_d.select(
        "user_id", F.unix_micros("source_ts_ns_order").alias("event_ts_us"), "pos"
    )


SQL_CDC_DELETE_SURVIVORSHIP = f"""
WITH typed AS (
  SELECT user_id, {OP_SQL} AS op, epoch_us(ts::TIMESTAMP) AS ts_us, event_id AS pos
  FROM events
), i AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts_us DESC, pos DESC) AS rn
    FROM typed WHERE op != 'd') WHERE rn = 1
), d AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts_us DESC, pos DESC) AS rn
    FROM typed WHERE op = 'd') WHERE rn = 1
)
SELECT d.user_id, d.ts_us AS event_ts_us, d.pos
FROM d LEFT JOIN i ON d.user_id = i.user_id
WHERE i.user_id IS NULL OR i.ts_us < d.ts_us
ORDER BY d.user_id
"""


def _merged_state(spark: SparkSession, sf_dir: str, windows) -> DataFrame:
    """Run the real merge lifecycle over one or more load_ts windows."""
    from dataplatform_cdc_pipeline_spark.engine import run_merge
    from dataplatform_cdc_pipeline_spark.operators.merge_target import ParquetMergeTarget
    from dataplatform_cdc_pipeline_spark.operators.watermark import WatermarkStore

    raw = cdc_feed(spark, sf_dir)
    cfg = user_state_config()
    tmp = tempfile.mkdtemp(prefix="cdc_q_")
    target = ParquetMergeTarget(spark, f"{tmp}/t", cfg, USER_STATE_SCHEMA)
    audit = WatermarkStore(spark, f"{tmp}/a")
    for win in windows:
        run_merge(spark, cfg, target, audit, raw=raw, window=win, deterministic_audit=True)
    return target.read().select(
        "user_id",
        "event_type",
        "value",
        "k",
        F.unix_micros("source_ts_ns_order").alias("event_ts_us"),
        "pos",
    )


def q_cdc_merge_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: full CDC merge into an empty target (K1-K4 end-to-end)."""
    return _merged_state(spark, sf_dir, [(None, None)])


SQL_CDC_MERGE_FULL = f"""
WITH ranked AS (
  SELECT user_id, {OP_SQL} AS op, event_type, value,
         json_extract_string(props, '$.k')::INT AS k,
         epoch_us(ts::TIMESTAMP) AS event_ts_us, event_id AS pos,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts::TIMESTAMP) DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, event_type, value, k, event_ts_us, pos
FROM ranked WHERE rn = 1 AND op != 'd' ORDER BY user_id
"""


def q_cdc_merge_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two sequential windowed merges (watermark loop, cross-batch K1-K4)."""
    split = datetime.datetime(2024, 1, 15)
    return _merged_state(spark, sf_dir, [(None, split), (split, None)])


# load_ts == event ts in the synthetic feed, so batch order == event order and
# the two-batch replay converges to the same final state as the full merge —
# the query still exercises the watermarked two-pass path on the Spark side.
SQL_CDC_MERGE_INCREMENTAL = SQL_CDC_MERGE_FULL


def q_cdc_merge_multi_pk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-PK merge (step-7 parity): latest state per (user_id, event_type)
    composite key through the full lifecycle."""
    import tempfile as _tf

    from dataplatform_cdc_pipeline_spark.engine import run_merge
    from dataplatform_cdc_pipeline_spark.operators.merge_target import ParquetMergeTarget
    from dataplatform_cdc_pipeline_spark.operators.watermark import WatermarkStore

    raw = cdc_feed(spark, sf_dir)
    cfg = user_state_config(pk="user_id,event_type")
    tmp = _tf.mkdtemp(prefix="cdc_mpk_q_")
    target = ParquetMergeTarget(spark, f"{tmp}/t", cfg, USER_STATE_SCHEMA)
    audit = WatermarkStore(spark, f"{tmp}/a")
    run_merge(spark, cfg, target, audit, raw=raw, window=(None, None), deterministic_audit=True)
    return target.read().select(
        "user_id",
        "event_type",
        "value",
        "k",
        F.unix_micros("source_ts_ns_order").alias("event_ts_us"),
        "pos",
    )


SQL_CDC_MERGE_MULTI_PK = f"""
WITH ranked AS (
  SELECT user_id, event_type, {OP_SQL} AS op, value,
         json_extract_string(props, '$.k')::INT AS k,
         epoch_us(ts::TIMESTAMP) AS event_ts_us, event_id AS pos,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY epoch_us(ts::TIMESTAMP) DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, event_type, value, k, event_ts_us, pos
FROM ranked WHERE rn = 1 AND op != 'd'
"""


def q_cdc_merge_op_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2/J4: ``update_only_op_u`` — matched targets update only from
    ``__op = 'u'`` rows (step-6:431-438); a matched 'c' leaves the target
    row untouched while unmatched rows still insert (step-6:441-451).

    Phase 1 seeds the target with the pre-split window under default
    semantics; phase 2 replays the post-split window with the gate on, so
    keys whose latest post-split change is a matched 'c' keep their phase-1
    state — the distinguishing observable of this rule.
    """
    from dataplatform_cdc_pipeline_spark.engine import run_merge
    from dataplatform_cdc_pipeline_spark.operators.merge_target import ParquetMergeTarget
    from dataplatform_cdc_pipeline_spark.operators.watermark import WatermarkStore

    split = datetime.datetime(2024, 1, 15)
    raw = cdc_feed(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="cdc_opu_")
    cfg = user_state_config()
    target = ParquetMergeTarget(spark, f"{tmp}/t", cfg, USER_STATE_SCHEMA)
    audit = WatermarkStore(spark, f"{tmp}/a")
    run_merge(spark, cfg, target, audit, raw=raw, window=(None, split), deterministic_audit=True)

    cfg_u = user_state_config(update_only_op_u=True)
    target_u = ParquetMergeTarget(spark, f"{tmp}/t", cfg_u, USER_STATE_SCHEMA)
    run_merge(spark, cfg_u, target_u, audit, raw=raw, window=(split, None), deterministic_audit=True)
    return target_u.read().select(
        "user_id",
        "event_type",
        "value",
        "k",
        F.unix_micros("source_ts_ns_order").alias("event_ts_us"),
        "pos",
    )


_OPU_SPLIT = "2024-01-15 00:00:00"

SQL_CDC_MERGE_OP_U = f"""
WITH typed AS (
  SELECT user_id, {OP_SQL} AS op, event_type, value,
         json_extract_string(props, '$.k')::INT AS k,
         epoch_us(ts::TIMESTAMP) AS event_ts_us, event_id AS pos, ts
  FROM events
), s1 AS (
  -- target state after the default-semantics phase-1 merge (ts <= split)
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id
                                 ORDER BY event_ts_us DESC, pos DESC) AS rn
    FROM typed WHERE ts <= TIMESTAMP '{_OPU_SPLIT}') WHERE rn = 1 AND op != 'd'
), w2 AS (
  -- deduped phase-2 change set (ts > split)
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id
                                 ORDER BY event_ts_us DESC, pos DESC) AS rn
    FROM typed WHERE ts > TIMESTAMP '{_OPU_SPLIT}') WHERE rn = 1
)
SELECT
  CASE WHEN w2.user_id IS NULL OR (w2.op = 'c' AND s1.user_id IS NOT NULL)
       THEN s1.user_id ELSE w2.user_id END AS user_id,
  CASE WHEN w2.user_id IS NULL OR (w2.op = 'c' AND s1.user_id IS NOT NULL)
       THEN s1.event_type ELSE w2.event_type END AS event_type,
  CASE WHEN w2.user_id IS NULL OR (w2.op = 'c' AND s1.user_id IS NOT NULL)
       THEN s1.value ELSE w2.value END AS value,
  CASE WHEN w2.user_id IS NULL OR (w2.op = 'c' AND s1.user_id IS NOT NULL)
       THEN s1.k ELSE w2.k END AS k,
  CASE WHEN w2.user_id IS NULL OR (w2.op = 'c' AND s1.user_id IS NOT NULL)
       THEN s1.event_ts_us ELSE w2.event_ts_us END AS event_ts_us,
  CASE WHEN w2.user_id IS NULL OR (w2.op = 'c' AND s1.user_id IS NOT NULL)
       THEN s1.pos ELSE w2.pos END AS pos
FROM s1 FULL JOIN w2 ON s1.user_id = w2.user_id
WHERE w2.op IS NULL OR w2.op != 'd'
ORDER BY user_id
"""


def q_cdc_rowkey_timestamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: ``row_key_timestamp`` — ISO timestamp payload key decoded to unix
    seconds in the ``rowkeynum`` column (merge.sql:236-243), through the real
    window-scan → dedup → cast pipeline."""
    events = spread_scan(load_table(spark, sf_dir, "events"))
    iso = F.date_format(F.col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'")
    payload = F.to_json(
        F.struct(
            op_expr().alias("__op"),
            (F.unix_micros("ts") * F.lit(1000)).cast("string").alias("__ts_ns"),
            F.col("event_id").cast("string").alias("__source_pos"),
            F.col("user_id"),
            iso.alias("rk"),
        )
    )
    raw = events.select(payload.alias("data"), F.col("ts").alias("load_ts"))
    cfg = MergeConfig.from_dict(
        {
            "cdc_table": "demo",
            "target_table": "rk_demo",
            "pk": "user_id",
            "row_key_timestamp": "rk",
            "ts_ns_encoding": "nanos",
        }
    )
    schema = T.StructType(
        [T.StructField("user_id", T.LongType()), T.StructField("Rowkeynum", T.LongType())]
    )
    changes = build_changes(window_scan(raw, cfg, None, None), schema, cfg, True)
    return changes.select("user_id", F.col("Rowkeynum").alias("rowkeynum"))


SQL_CDC_ROWKEY_TIMESTAMP = """
WITH ranked AS (
  SELECT user_id, epoch_us(ts::TIMESTAMP) AS ts_us,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts::TIMESTAMP) DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, (ts_us // 1000000)::BIGINT AS rowkeynum
FROM ranked WHERE rn = 1 ORDER BY user_id
"""


def _late_replay_state(spark: SparkSession, sf_dir: str, strict: bool) -> DataFrame:
    """Two-batch merge over a feed where 'view' events arrive 10 days LATE.

    Batch 2 can then carry an event-time-OLDER change for a key already
    merged from batch 1 — the SURVEY §2.8 cross-batch replay hazard:

    - default (reference fidelity): the late older event OVERWRITES the
      newer target state (merge.sql has no recency guard);
    - ``strict_ts_guard``: updates apply only when
      ``source.ts >= target.ts``, so the newer state survives.
    """
    from dataplatform_cdc_pipeline_spark.engine import run_merge
    from dataplatform_cdc_pipeline_spark.operators.merge_target import ParquetMergeTarget
    from dataplatform_cdc_pipeline_spark.operators.watermark import WatermarkStore

    events = spread_scan(load_table(spark, sf_dir, "events"))
    # +30 days puts EVERY late view in batch 2 by itself (events span one
    # month), so most keys' batch-2 winner is event-time-older than their
    # batch-1 state — the discriminating shape for the guard
    late_lt = F.when(
        F.col("event_type") == "view", F.col("ts") + F.expr("INTERVAL 30 DAYS")
    ).otherwise(F.col("ts"))
    raw = synthesize_cdc_from_events(events, load_ts=late_lt)
    split = datetime.datetime(2024, 2, 1)
    cfg = user_state_config(strict_ts_guard=strict)
    tmp = tempfile.mkdtemp(prefix="cdc_late_")
    target = ParquetMergeTarget(spark, f"{tmp}/t", cfg, USER_STATE_SCHEMA)
    audit = WatermarkStore(spark, f"{tmp}/a")
    run_merge(spark, cfg, target, audit, raw=raw, window=(None, split), deterministic_audit=True)
    run_merge(spark, cfg, target, audit, raw=raw, window=(split, None), deterministic_audit=True)
    return target.read().select(
        "user_id",
        "event_type",
        "value",
        "k",
        F.unix_micros("source_ts_ns_order").alias("event_ts_us"),
        "pos",
    )


def q_cdc_merge_late_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 replay, reference fidelity: late older events overwrite."""
    return _late_replay_state(spark, sf_dir, strict=False)


def q_cdc_merge_late_guarded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 replay with ``strict_ts_guard``: newer target state survives."""
    return _late_replay_state(spark, sf_dir, strict=True)


_LATE_SPLIT = "2024-02-01 00:00:00"


def _late_replay_sql(strict: bool) -> str:
    # guarded: a non-delete batch-2 winner only replaces a surviving
    # batch-1 row when its event time is >= (deletes are unconditional)
    keep_s1 = (
        "w2.user_id IS NULL OR (w2.op != 'd' AND s1.user_id IS NOT NULL AND w2.e < s1.e)"
        if strict
        else "w2.user_id IS NULL"
    )
    return f"""
WITH typed AS (
  SELECT user_id, {OP_SQL} AS op, event_type, value,
         json_extract_string(props, '$.k')::INT AS k,
         epoch_us(ts::TIMESTAMP) AS e, event_id AS pos,
         CASE WHEN event_type = 'view' THEN ts::TIMESTAMP + INTERVAL 30 DAY
              ELSE ts::TIMESTAMP END AS load_ts
  FROM events
), s1 AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY e DESC, pos DESC) AS rn
    FROM typed WHERE load_ts <= TIMESTAMP '{_LATE_SPLIT}') WHERE rn = 1 AND op != 'd'
), w2 AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY e DESC, pos DESC) AS rn
    FROM typed WHERE load_ts > TIMESTAMP '{_LATE_SPLIT}') WHERE rn = 1
)
SELECT
  CASE WHEN {keep_s1} THEN s1.user_id ELSE w2.user_id END AS user_id,
  CASE WHEN {keep_s1} THEN s1.event_type ELSE w2.event_type END AS event_type,
  CASE WHEN {keep_s1} THEN s1.value ELSE w2.value END AS value,
  CASE WHEN {keep_s1} THEN s1.k ELSE w2.k END AS k,
  CASE WHEN {keep_s1} THEN s1.e ELSE w2.e END AS event_ts_us,
  CASE WHEN {keep_s1} THEN s1.pos ELSE w2.pos END AS pos
FROM s1 FULL JOIN w2 ON s1.user_id = w2.user_id
WHERE (w2.op IS NULL OR w2.op != 'd')
ORDER BY user_id
"""


SQL_CDC_MERGE_LATE_REPLAY = _late_replay_sql(False)
SQL_CDC_MERGE_LATE_GUARDED = _late_replay_sql(True)


def q_cdc_merge_multi_pk_guarded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fidelity-flag composition: multi-PK (step-7:206-276) ×
    ``strict_ts_guard`` × ``update_only_op_u`` in ONE two-batch lifecycle.

    Each flag is oracle-verified pairwise elsewhere (`cdc_merge_multi_pk`,
    `cdc_merge_late_guarded`, `cdc_merge_op_u`); this query pins their
    interaction. Lateness is keyed on ``event_id % 3`` (not event_type,
    which under the composite key (user_id, event_type) is constant per
    group — op would then be constant per group and the guard could never
    fire on a matched row). At sf0.01 the shape discriminates hard: 146
    matched groups survive only because the op_u gate blocks a matched 'c',
    290 only because the guard blocks an event-time-older 'u', 155 updates
    apply.
    """
    from dataplatform_cdc_pipeline_spark.engine import run_merge
    from dataplatform_cdc_pipeline_spark.operators.merge_target import ParquetMergeTarget
    from dataplatform_cdc_pipeline_spark.operators.watermark import WatermarkStore

    events = spread_scan(load_table(spark, sf_dir, "events"))
    late_lt = F.when(
        F.col("event_id") % 3 == 0, F.col("ts") + F.expr("INTERVAL 30 DAYS")
    ).otherwise(F.col("ts"))
    raw = synthesize_cdc_from_events(events, load_ts=late_lt)
    split = datetime.datetime(2024, 2, 1)
    cfg = user_state_config(
        pk="user_id,event_type", strict_ts_guard=True, update_only_op_u=True
    )
    tmp = tempfile.mkdtemp(prefix="cdc_mpkg_")
    target = ParquetMergeTarget(spark, f"{tmp}/t", cfg, USER_STATE_SCHEMA)
    audit = WatermarkStore(spark, f"{tmp}/a")
    run_merge(spark, cfg, target, audit, raw=raw, window=(None, split), deterministic_audit=True)
    run_merge(spark, cfg, target, audit, raw=raw, window=(split, None), deterministic_audit=True)
    return target.read().select(
        "user_id",
        "event_type",
        "value",
        "k",
        F.unix_micros("source_ts_ns_order").alias("event_ts_us"),
        "pos",
    )


# keep s1 when: no phase-2 change, OR the op_u gate blocks a matched 'c',
# OR the strict guard blocks an event-time-older matched 'u'; deletes are
# unconditional (reference step-6 runs DELETE as its own statement).
_MPKG_KEEP_S1 = (
    "w2.user_id IS NULL OR (s1.user_id IS NOT NULL AND w2.op != 'd' "
    "AND (w2.op = 'c' OR w2.e < s1.e))"
)

SQL_CDC_MERGE_MULTI_PK_GUARDED = f"""
WITH typed AS (
  SELECT user_id, event_type, {OP_SQL} AS op, value,
         json_extract_string(props, '$.k')::INT AS k,
         epoch_us(ts::TIMESTAMP) AS e, event_id AS pos,
         CASE WHEN event_id % 3 = 0 THEN ts::TIMESTAMP + INTERVAL 30 DAY
              ELSE ts::TIMESTAMP END AS load_ts
  FROM events
), s1 AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                 ORDER BY e DESC, pos DESC) AS rn
    FROM typed WHERE load_ts <= TIMESTAMP '{_LATE_SPLIT}') WHERE rn = 1 AND op != 'd'
), w2 AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                 ORDER BY e DESC, pos DESC) AS rn
    FROM typed WHERE load_ts > TIMESTAMP '{_LATE_SPLIT}') WHERE rn = 1
)
SELECT
  CASE WHEN {_MPKG_KEEP_S1} THEN s1.user_id ELSE w2.user_id END AS user_id,
  CASE WHEN {_MPKG_KEEP_S1} THEN s1.event_type ELSE w2.event_type END AS event_type,
  CASE WHEN {_MPKG_KEEP_S1} THEN s1.value ELSE w2.value END AS value,
  CASE WHEN {_MPKG_KEEP_S1} THEN s1.k ELSE w2.k END AS k,
  CASE WHEN {_MPKG_KEEP_S1} THEN s1.e ELSE w2.e END AS event_ts_us,
  CASE WHEN {_MPKG_KEEP_S1} THEN s1.pos ELSE w2.pos END AS pos
FROM s1 FULL JOIN w2
  ON s1.user_id = w2.user_id AND s1.event_type = w2.event_type
WHERE (w2.op IS NULL OR w2.op != 'd')
ORDER BY user_id, event_type
"""


def q_cdc_watermark_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/A3: window stats — min/max load_ts + upsert/delete candidate counts."""
    raw = cdc_feed(spark, sf_dir)
    cfg = user_state_config()
    w = window_scan(raw, cfg, WIN_START, WIN_END)
    changes = build_changes(w, USER_STATE_SCHEMA, cfg, deterministic_audit=True)
    stats = w.agg(
        F.unix_micros(F.max("load_ts")).alias("max_load_ts_us"),
        F.unix_micros(F.min("load_ts")).alias("min_load_ts_us"),
        F.count(F.lit(1)).alias("events_scanned"),
    )
    ch = changes.agg(
        F.count(F.when(F.col("__op") != "d", 1)).alias("records_inserted"),
        F.count(F.when(F.col("__op") == "d", 1)).alias("records_deleted"),
    )
    return stats.crossJoin(ch)


SQL_CDC_WATERMARK_STATS = f"""
WITH win AS (
  SELECT user_id, {OP_SQL} AS op, epoch_us(ts::TIMESTAMP) AS ts_us, event_id AS pos
  FROM events
  WHERE ts > TIMESTAMP '{WIN_START}' AND ts <= TIMESTAMP '{WIN_END}'
), latest AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts_us DESC, pos DESC) AS rn
    FROM win) WHERE rn = 1
)
SELECT (SELECT max(ts_us) FROM win) AS max_load_ts_us,
       (SELECT min(ts_us) FROM win) AS min_load_ts_us,
       (SELECT count(*) FROM win) AS events_scanned,
       (SELECT count(*) FROM latest WHERE op != 'd') AS records_inserted,
       (SELECT count(*) FROM latest WHERE op = 'd') AS records_deleted
"""

def q_cdc_bucket_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: partition-pruned target read — the Spark analogue of the
    reference's explicit ``PARTITION (pNNN)`` scan list (step-8:352-377).

    After a full merge, reads ONLY the hash-bucket partitions containing
    ``user_id <= 30`` (the bucket list is computed exactly as the merge
    computes its affected-bucket set). The oracle is the final state for
    those keys — if pruning read the wrong bucket set, rows would be
    missing and the value hash would diverge, so the pruned read path
    itself is what this query gates. ``test_bucket_pruning`` separately
    pins that the physical plan carries PartitionFilters.
    """
    from dataplatform_cdc_pipeline_spark.engine import run_merge
    from dataplatform_cdc_pipeline_spark.operators.merge_target import (
        ParquetMergeTarget,
        bucket_expr,
    )
    from dataplatform_cdc_pipeline_spark.operators.watermark import WatermarkStore

    raw = cdc_feed(spark, sf_dir)
    cfg = user_state_config()
    tmp = tempfile.mkdtemp(prefix="cdc_prune_q_")
    target = ParquetMergeTarget(spark, f"{tmp}/t", cfg, USER_STATE_SCHEMA)
    audit = WatermarkStore(spark, f"{tmp}/a")
    run_merge(spark, cfg, target, audit, raw=raw, window=(None, None), deterministic_audit=True)

    # bucket ids for the probed keys — a driver-side list of ≤ n_buckets
    # ints, same shape as the merge's own collect_set of affected buckets
    buckets = [
        r["b"]
        for r in target.read()
        .filter(F.col("user_id") <= 30)
        .select(bucket_expr(["user_id"], cfg.n_buckets).alias("b"))
        .distinct()
        .collect()
    ]
    return (
        target.read(buckets=buckets)
        .filter(F.col("user_id") <= 30)
        .select(
            "user_id",
            "event_type",
            "value",
            "k",
            F.unix_micros("source_ts_ns_order").alias("event_ts_us"),
            "pos",
        )
    )


SQL_CDC_BUCKET_PRUNED_READ = f"""
WITH ranked AS (
  SELECT user_id, {OP_SQL} AS op, event_type, value,
         json_extract_string(props, '$.k')::INT AS k,
         epoch_us(ts::TIMESTAMP) AS event_ts_us, event_id AS pos,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts::TIMESTAMP) DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, event_type, value, k, event_ts_us, pos
FROM ranked WHERE rn = 1 AND op != 'd' AND user_id <= 30 ORDER BY user_id
"""


def q_cdc_zorder_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER lifecycle: full merge → ``compact(zorder_by=
    ('k','value'))`` (Morton-interleaved quantile bins, operators/
    zorder.py) → box-filtered read on BOTH clustered columns. The oracle
    is the final state under the same box — a maintenance rewrite that
    lost, duplicated, or reordered-into-wrong-bucket rows diverges the
    hash. The layout benefit itself (row-group skipping on either
    column) is pinned by tests/test_zorder.py's measured-overlap test."""
    from dataplatform_cdc_pipeline_spark.engine import run_merge
    from dataplatform_cdc_pipeline_spark.operators.merge_target import ParquetMergeTarget
    from dataplatform_cdc_pipeline_spark.operators.watermark import WatermarkStore

    raw = cdc_feed(spark, sf_dir)
    cfg = user_state_config()
    tmp = tempfile.mkdtemp(prefix="cdc_zorder_q_")
    target = ParquetMergeTarget(spark, f"{tmp}/t", cfg, USER_STATE_SCHEMA)
    audit = WatermarkStore(spark, f"{tmp}/a")
    run_merge(spark, cfg, target, audit, raw=raw, window=(None, None), deterministic_audit=True)
    target.compact(zorder_by=("k", "value"))
    return (
        target.read()
        .filter((F.col("k") <= 80) & (F.col("value") >= 10.0))
        .select(
            "user_id",
            "event_type",
            "value",
            "k",
            F.unix_micros("source_ts_ns_order").alias("event_ts_us"),
            "pos",
        )
    )


SQL_CDC_ZORDER_READ = f"""
WITH ranked AS (
  SELECT user_id, {OP_SQL} AS op, event_type, value,
         json_extract_string(props, '$.k')::INT AS k,
         epoch_us(ts::TIMESTAMP) AS event_ts_us, event_id AS pos,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts::TIMESTAMP) DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, event_type, value, k, event_ts_us, pos
FROM ranked WHERE rn = 1 AND op != 'd' AND k <= 80 AND value >= 10.0
ORDER BY user_id
"""


def q_cdc_date_partitioned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout parity for ``bq_partition_field`` (config-file_5.sql:12): the
    target is laid out bucket × DATE(partition_field), and a date-ranged
    read prunes the date layer in PartitionFilters — BigQuery partition
    elimination, re-expressed as parquet partition pruning. The oracle is
    the final merged state restricted to the date range: a wrong partition
    layout or pruned read drops/adds rows and diverges the hash.
    ``test_bucket_pruning`` pins the physical PartitionFilters."""
    from dataplatform_cdc_pipeline_spark.engine import run_merge
    from dataplatform_cdc_pipeline_spark.operators.merge_target import ParquetMergeTarget
    from dataplatform_cdc_pipeline_spark.operators.watermark import WatermarkStore

    raw = cdc_feed(spark, sf_dir)
    cfg = user_state_config(partition_field="source_ts_ns_order")
    tmp = tempfile.mkdtemp(prefix="cdc_dpart_q_")
    target = ParquetMergeTarget(spark, f"{tmp}/t", cfg, USER_STATE_SCHEMA)
    audit = WatermarkStore(spark, f"{tmp}/a")
    run_merge(spark, cfg, target, audit, raw=raw, window=(None, None), deterministic_audit=True)
    return target.read(date_range=("2024-01-01", "2024-01-29")).select(
        "user_id",
        "event_type",
        "value",
        "k",
        F.unix_micros("source_ts_ns_order").alias("event_ts_us"),
        "pos",
    )


SQL_CDC_DATE_PARTITIONED_READ = f"""
WITH ranked AS (
  SELECT user_id, {OP_SQL} AS op, event_type, value,
         json_extract_string(props, '$.k')::INT AS k,
         epoch_us(ts::TIMESTAMP) AS event_ts_us, event_id AS pos,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts::TIMESTAMP) DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, event_type, value, k, event_ts_us, pos
FROM ranked
WHERE rn = 1 AND op != 'd'
  AND make_timestamp(event_ts_us)::DATE BETWEEN DATE '2024-01-01' AND DATE '2024-01-29'
ORDER BY user_id
"""


def q_cdc_ivm_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance over the merge (operators/ivm.py): a
    per-event_type user-count view maintained from change DELTAS across a
    two-batch lifecycle — never recomputed from the target. The oracle is
    the fresh GROUP BY of the final state: any drift between delta
    maintenance and recomputation hash-fails."""
    from dataplatform_cdc_pipeline_spark.operators.ivm import (
        maintain_counts_through_merge,
    )
    from dataplatform_cdc_pipeline_spark.operators.merge_target import ParquetMergeTarget

    raw = cdc_feed(spark, sf_dir)
    cfg = user_state_config()
    tmp = tempfile.mkdtemp(prefix="cdc_ivm_q_")
    target = ParquetMergeTarget(spark, f"{tmp}/t", cfg, USER_STATE_SCHEMA)
    split = datetime.datetime(2024, 1, 15)
    counts = None
    for lo, hi in ((None, split), (split, None)):
        w = window_scan(raw, cfg, lo, hi)
        changes = build_changes(w, USER_STATE_SCHEMA, cfg, deterministic_audit=True)
        counts, _ = maintain_counts_through_merge(target, changes, counts, "event_type")
        bench_phases.mark("merge_and_maintain")  # accumulates per window
    return counts.select("event_type", F.col("n").alias("n_users"))


SQL_CDC_IVM_TYPE_COUNTS = f"""
WITH ranked AS (
  SELECT user_id, {OP_SQL} AS op, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts::TIMESTAMP) DESC, event_id DESC) AS rn
  FROM events
)
SELECT event_type, count(*) AS n_users
FROM ranked WHERE rn = 1 AND op != 'd'
GROUP BY event_type ORDER BY event_type
"""


def q_cdc_ivm_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Abelian-aggregate IVM through a GATED merge (the generalization of
    ``cdc_ivm_type_counts``): a per-event_type (count, Σ value-micros) view
    maintained from change deltas across a two-phase lifecycle whose second
    merge runs with ``update_only_op_u`` — blocked matched-'c' changes keep
    the old target row and must net to zero in the view. The maintenance
    derives the post-merge contribution from the merge's own resolve
    predicate (operators/ivm.py + merge_target.resolve_changes); the oracle
    recomputes the op_u-gated final state and aggregates it fresh, so any
    drift between delta maintenance and the gated merge hash-fails. Sums
    use floor(value·1e6) int64 — exact, associative, batch-replayable
    (the stream_user_totals pattern)."""
    from dataplatform_cdc_pipeline_spark.operators.ivm import maintain_view_through_merge
    from dataplatform_cdc_pipeline_spark.operators.merge_target import ParquetMergeTarget

    raw = cdc_feed(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="cdc_ivm_sum_q_")
    split = datetime.datetime(2024, 1, 15)
    sums = {"value_micros_sum": F.floor(F.col("value") * F.lit(1e6)).cast("long")}
    view = None
    for cfg, (lo, hi) in (
        (user_state_config(), (None, split)),
        (user_state_config(update_only_op_u=True), (split, None)),
    ):
        target = ParquetMergeTarget(spark, f"{tmp}/t", cfg, USER_STATE_SCHEMA)
        w = window_scan(raw, cfg, lo, hi)
        changes = build_changes(w, USER_STATE_SCHEMA, cfg, deterministic_audit=True)
        view, _ = maintain_view_through_merge(target, changes, view, "event_type", sums)
        bench_phases.mark("merge_and_maintain")  # accumulates per window
    return view.select("event_type", F.col("n").alias("n_users"), "value_micros_sum")


# final state under the two-phase op_u lifecycle = the cdc_merge_op_u
# oracle's resolve, aggregated fresh per event_type.
SQL_CDC_IVM_SUM = f"""
WITH typed AS (
  SELECT user_id, {OP_SQL} AS op, event_type, value,
         epoch_us(ts::TIMESTAMP) AS event_ts_us, event_id AS pos, ts
  FROM events
), s1 AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id
                                 ORDER BY event_ts_us DESC, pos DESC) AS rn
    FROM typed WHERE ts <= TIMESTAMP '{_OPU_SPLIT}') WHERE rn = 1 AND op != 'd'
), w2 AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id
                                 ORDER BY event_ts_us DESC, pos DESC) AS rn
    FROM typed WHERE ts > TIMESTAMP '{_OPU_SPLIT}') WHERE rn = 1
), final AS (
  SELECT
    CASE WHEN w2.user_id IS NULL OR (w2.op = 'c' AND s1.user_id IS NOT NULL)
         THEN s1.event_type ELSE w2.event_type END AS event_type,
    CASE WHEN w2.user_id IS NULL OR (w2.op = 'c' AND s1.user_id IS NOT NULL)
         THEN s1.value ELSE w2.value END AS value
  FROM s1 FULL JOIN w2 ON s1.user_id = w2.user_id
  WHERE w2.op IS NULL OR w2.op != 'd'
)
SELECT event_type, count(*) AS n_users,
       coalesce(sum(floor(value * 1000000.0)), 0)::BIGINT AS value_micros_sum
FROM final GROUP BY event_type ORDER BY event_type
"""


def q_cdc_ivm_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVM for the NON-invertible aggregates: a per-event_type
    (count, min value, max value) view maintained through a two-phase
    merge lifecycle via endangered-group bounded recompute
    (operators/ivm.minmax_view_delta_for_merge) — groups whose removed
    rows tie the current extreme rescan their surviving rows; every other
    group updates with pure (≤|G|-row) arithmetic. Phase-2 deletes and
    cross-group updates remove standing extremes, so both paths execute.
    The oracle aggregates the fresh final state — any drift in the
    endangered-set analysis or the rescan hash-fails."""
    from dataplatform_cdc_pipeline_spark.operators.ivm import (
        maintain_minmax_through_merge,
    )
    from dataplatform_cdc_pipeline_spark.operators.merge_target import ParquetMergeTarget

    raw = cdc_feed(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="cdc_ivm_mm_q_")
    split = datetime.datetime(2024, 1, 15)
    cfg = user_state_config()
    view = None
    for lo, hi in ((None, split), (split, None)):
        target = ParquetMergeTarget(spark, f"{tmp}/t", cfg, USER_STATE_SCHEMA)
        w = window_scan(raw, cfg, lo, hi)
        changes = build_changes(w, USER_STATE_SCHEMA, cfg, deterministic_audit=True)
        view, _ = maintain_minmax_through_merge(
            target, changes, view, "event_type", "value"
        )
        bench_phases.mark("merge_and_maintain")  # accumulates per window
    return view.select(
        "event_type",
        F.col("n").alias("n_users"),
        F.col("min_v").alias("min_value"),
        F.col("max_v").alias("max_value"),
    )


# two sequential default-mode merges split on ts == one global
# dedup-latest (phase-2 events of a key always postdate its phase-1
# events), so the fresh recomputation is the plain final-state aggregate
SQL_CDC_IVM_MINMAX = f"""
WITH ranked AS (
  SELECT user_id, {OP_SQL} AS op, event_type, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts::TIMESTAMP) DESC, event_id DESC) AS rn
  FROM events
), final AS (
  SELECT event_type, value FROM ranked WHERE rn = 1 AND op != 'd'
)
SELECT event_type, count(*) AS n_users,
       min(value) AS min_value, max(value) AS max_value
FROM final GROUP BY event_type ORDER BY event_type
"""


_DRIFT_SPLIT = "2024-01-15 00:00:00"


def q_cdc_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift lifecycle (operators/schema_drift.py): the CDC payload
    presents a NEW business key ('region') only after the split date —
    the mid-stream new-column event. Under ``schema_drift_policy='evolve'``
    the phase-2 merge adds it as a nullable string column first
    (merge.sql:289-294's INFORMATION_SCHEMA re-read made explicit), so
    keys last written in phase 1 read NULL while phase-2 winners carry
    values. The oracle recomputes the final state with region present iff
    the winning event is post-split — a wrong policy (drop/duplicate/
    non-null backfill) hash-fails."""
    from dataplatform_cdc_pipeline_spark.engine import run_merge
    from dataplatform_cdc_pipeline_spark.operators.merge_target import ParquetMergeTarget
    from dataplatform_cdc_pipeline_spark.operators.watermark import WatermarkStore

    events = spread_scan(load_table(spark, sf_dir, "events"))
    split = F.lit(_DRIFT_SPLIT).cast("timestamp")
    payload = F.to_json(
        F.struct(
            op_expr().alias("__op"),
            (F.unix_micros(F.col("ts")) * F.lit(1000)).cast("string").alias("__ts_ns"),
            F.col("event_id").cast("string").alias("__source_pos"),
            F.col("user_id"),
            F.col("event_type"),
            F.col("value"),
            F.get_json_object("props", "$.k").cast("int").alias("k"),
            # the drifting key: present only post-split (to_json omits nulls)
            F.when(
                F.col("ts") > split,
                F.concat(F.lit("r"), (F.col("user_id") % 5).cast("string")),
            ).alias("region"),
        )
    )
    raw = events.select(payload.alias("data"), F.col("ts").alias("load_ts"))
    cfg = user_state_config(schema_drift_policy="evolve")
    tmp = tempfile.mkdtemp(prefix="cdc_drift_q_")
    target = ParquetMergeTarget(spark, f"{tmp}/t", cfg, USER_STATE_SCHEMA)
    audit = WatermarkStore(spark, f"{tmp}/a")
    sp = datetime.datetime(2024, 1, 15)
    run_merge(spark, cfg, target, audit, raw=raw, window=(None, sp), deterministic_audit=True)
    run_merge(spark, cfg, target, audit, raw=raw, window=(sp, None), deterministic_audit=True)
    return target.read().select(
        "user_id",
        "event_type",
        "value",
        "k",
        "region",
        F.unix_micros("source_ts_ns_order").alias("event_ts_us"),
        "pos",
    )


SQL_CDC_SCHEMA_DRIFT = f"""
WITH ranked AS (
  SELECT user_id, {OP_SQL} AS op, event_type, value,
         json_extract_string(props, '$.k')::INT AS k,
         epoch_us(ts::TIMESTAMP) AS event_ts_us, event_id AS pos, ts,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts::TIMESTAMP) DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, event_type, value, k,
       CASE WHEN ts > TIMESTAMP '{_DRIFT_SPLIT}'
            THEN 'r' || (user_id % 5)::VARCHAR END AS region,
       event_ts_us, pos
FROM ranked WHERE rn = 1 AND op != 'd' ORDER BY user_id
"""


def q_cdc_job_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5b: the ``etl_job_log`` run-timing twin (tables_list.sql:38-51,
    written step-8:598-626) — deterministic columns only (run id and
    wall-clock timestamps excluded; counts/status/identity are the
    oracle-checkable contract)."""
    from dataplatform_cdc_pipeline_spark.engine import run_merge
    from dataplatform_cdc_pipeline_spark.operators.merge_target import ParquetMergeTarget
    from dataplatform_cdc_pipeline_spark.operators.watermark import WatermarkStore

    raw = cdc_feed(spark, sf_dir)
    cfg = user_state_config()
    tmp = tempfile.mkdtemp(prefix="cdc_joblog_q_")
    target = ParquetMergeTarget(spark, f"{tmp}/t", cfg, USER_STATE_SCHEMA)
    audit = WatermarkStore(spark, f"{tmp}/a")
    run_merge(spark, cfg, target, audit, raw=raw, window=(None, None), deterministic_audit=True)
    return audit.job_log().select(
        "proc_name",
        "target_database",
        "target_table",
        "run_status",
        F.col("error_msg").cast("string").alias("error_msg"),
        "records_inserted",
        "records_deleted",
    )


SQL_CDC_JOB_LOG = f"""
WITH latest AS (
  SELECT * FROM (
    SELECT user_id, {OP_SQL} AS op,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY epoch_us(ts::TIMESTAMP) DESC, event_id DESC) AS rn
    FROM events) WHERE rn = 1
)
SELECT 'sp_cdc_merge_job' AS proc_name,
       'silver' AS target_database,
       'user_state' AS target_table,
       'SUCCESS' AS run_status,
       NULL::VARCHAR AS error_msg,
       (SELECT count(*) FROM latest WHERE op != 'd')::BIGINT AS records_inserted,
       (SELECT count(*) FROM latest WHERE op = 'd')::BIGINT AS records_deleted
"""


# ---------------------------------------------------------------------------
# Relational operator surface (scan/join/agg/window/sort over the star schema)
# ---------------------------------------------------------------------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style grouped aggregation with pushdown-friendly filter."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # decimal sums: exact and partition-order-independent — a plain
            # double sum drifts ~1e-4 with partition count, enough to flip
            # round(,2) between environments (see SCALE.md)
            # round in the DECIMAL domain (exact; both engines HALF_UP) and
            # only then cast to double — round(double) has cross-engine
            # half-boundary divergence; averages floor-scale the
            # IEEE-identical double quotient
            F.round(F.sum(F.col("l_quantity").cast("decimal(25,6)")), 2).cast("double").alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(25,6)")), 2).cast("double").alias("sum_base_price"),
            F.round(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(25,6)")), 2
            ).cast("double").alias("sum_disc_price"),
            (F.floor(
                F.sum(F.col("l_quantity").cast("decimal(25,6)")).cast("double") / F.count(F.lit(1)) * 10000.0
            ) / 10000.0).alias("avg_qty"),
            (F.floor(
                F.sum(F.col("l_discount").cast("decimal(25,6)")).cast("double") / F.count(F.lit(1)) * 10000.0
            ) / 10000.0).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       round(sum(CAST(l_quantity AS DECIMAL(25,6))), 2)::DOUBLE AS sum_qty,
       round(sum(CAST(l_extendedprice AS DECIMAL(25,6))), 2)::DOUBLE AS sum_base_price,
       round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))), 2)::DOUBLE AS sum_disc_price,
       floor(sum(CAST(l_quantity AS DECIMAL(25,6)))::DOUBLE / count(*) * 10000.0) / 10000.0 AS avg_qty,
       floor(sum(CAST(l_discount AS DECIMAL(25,6)))::DOUBLE / count(*) * 10000.0) / 10000.0 AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-join star query with broadcast dims (TPC-H Q5 style)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(25,6)")), 2
            ).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        
    )


SQL_REVENUE_BY_NATION = """
SELECT r_name, n_name,
       round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))), 2)::DOUBLE AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
ORDER BY r_name, n_name
"""


def q_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per group via ranked window (the W1 pattern generalized)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "rk", "o_orderkey", "o_totalprice")
        
    )


SQL_TOP_ORDERS_PER_CUSTOMER = """
SELECT o_custkey, rk, o_orderkey, o_totalprice
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
  FROM orders)
WHERE rk <= 3
ORDER BY o_custkey, rk
"""


def q_cdc_snapshot_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TABLE-atomic sink (operators/snapshot_target.py): the same
    two-window watermark lifecycle as cdc_merge_incremental, but through
    SnapshotMergeTarget — manifest-versioned immutable commits (one
    atomic hard-link per commit, snapshot-isolated readers, time travel).
    The second window's commit carries the first window's untouched
    buckets forward by manifest reference, so a carryover bug (dropped or
    double-referenced bucket) diverges the final-state hash. Shares the
    incremental oracle: same merge semantics, different commit protocol.
    """
    from dataplatform_cdc_pipeline_spark.engine import run_merge
    from dataplatform_cdc_pipeline_spark.operators.snapshot_target import (
        SnapshotMergeTarget,
    )
    from dataplatform_cdc_pipeline_spark.operators.watermark import WatermarkStore

    raw = cdc_feed(spark, sf_dir)
    cfg = user_state_config()
    tmp = tempfile.mkdtemp(prefix="cdc_snap_q_")
    target = SnapshotMergeTarget(spark, f"{tmp}/t", cfg, USER_STATE_SCHEMA)
    audit = WatermarkStore(spark, f"{tmp}/a")
    split = datetime.datetime(2024, 1, 15)
    for win in [(None, split), (split, None)]:
        run_merge(
            spark, cfg, target, audit, raw=raw, window=win, deterministic_audit=True
        )
    return target.read().select(
        "user_id",
        "event_type",
        "value",
        "k",
        F.unix_micros("source_ts_ns_order").alias("event_ts_us"),
        "pos",
    )


SQL_CDC_SNAPSHOT_MERGE = SQL_CDC_MERGE_INCREMENTAL


def q_cdc_merge_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MERGE-ON-READ sink (operators/dv_target.py): the same
    two-window watermark lifecycle as cdc_merge_incremental, but deletes
    land as per-bucket deletion-vector tombstones instead of bucket
    rewrites — window 2's reads must apply window 1's masks, its upsert
    rewrites must FOLD them (a re-inserted pk loses its mask with the
    bucket rewrite), and the final masked read must be indistinguishable
    from copy-on-write. Shares the incremental oracle: same merge
    semantics, different delete representation."""
    from dataplatform_cdc_pipeline_spark.engine import run_merge
    from dataplatform_cdc_pipeline_spark.operators.dv_target import DvMergeTarget
    from dataplatform_cdc_pipeline_spark.operators.watermark import WatermarkStore

    raw = cdc_feed(spark, sf_dir)
    cfg = user_state_config()
    tmp = tempfile.mkdtemp(prefix="cdc_dv_q_")
    target = DvMergeTarget(spark, f"{tmp}/t", cfg, USER_STATE_SCHEMA)
    audit = WatermarkStore(spark, f"{tmp}/a")
    split = datetime.datetime(2024, 1, 15)
    for win in [(None, split), (split, None)]:
        run_merge(
            spark, cfg, target, audit, raw=raw, window=win, deterministic_audit=True
        )
        bench_phases.mark("merge_window")  # accumulates per window
    return target.read().select(
        "user_id",
        "event_type",
        "value",
        "k",
        F.unix_micros("source_ts_ns_order").alias("event_ts_us"),
        "pos",
    )


SQL_CDC_MERGE_DV = SQL_CDC_MERGE_INCREMENTAL


_ROW_SCHEMA = "tbl string, key string, val long"
FOLD_DEL_MOD = 7  # post-fold delete batch: survivors with user_id % 7 == 0


def q_dv_fold_crossover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The merge-on-read fold lifecycle whose read-tax economics
    SCALE.md "DV mask read tax and the fold crossover" records,
    semantics now hash-gated end to end: one full-window merge leaves
    the final-op-'d' keys as TOMBSTONES (``mask_before_fold`` row counts
    them); the masked read and the post-``compact()`` folded read must
    produce identical row sets (both returned, both oracle-recomputed);
    the fold clears every tombstone (``mask_after_fold`` = 0) and
    reports the surviving row count (``rows_folded``); a subsequent
    delete batch over ``auto_fold_max = 0`` must trigger the
    fold-on-threshold path inside ``merge`` itself (``mask_after_autofold``
    = 0, final state short the deleted keys). A mask that leaked through
    a read, survived a fold, or missed the auto-fold threshold diverges
    the hash."""
    from dataplatform_cdc_pipeline_spark.engine import run_merge
    from dataplatform_cdc_pipeline_spark.operators.dv_target import DvMergeTarget
    from dataplatform_cdc_pipeline_spark.operators.watermark import WatermarkStore
    from dataplatform_cdc_pipeline_spark.sources.cdc import (
        USER_STATE_SCHEMA,
        user_state_config,
    )

    raw = cdc_feed(spark, sf_dir)
    cfg = user_state_config()
    tmp = tempfile.mkdtemp(prefix="dv_fold_q_")
    target = DvMergeTarget(spark, f"{tmp}/t", cfg, USER_STATE_SCHEMA)
    audit = WatermarkStore(spark, f"{tmp}/a")
    run_merge(
        spark, cfg, target, audit, raw=raw, window=(None, None),
        deterministic_audit=True,
    )
    bench_phases.mark("merge")

    def state_rows(tag: str) -> DataFrame:
        return target.read().select(
            F.lit(tag).alias("tbl"),
            F.col("user_id").cast("string").alias("key"),
            F.floor(F.col("value") * F.lit(1_000_000.0)).cast("long").alias("val"),
        )

    mask_before = target.mask_size()
    masked = state_rows("masked").localCheckpoint(eager=True)
    bench_phases.mark("masked_read")
    rows_folded = target.compact()
    bench_phases.mark("fold")
    mask_after = target.mask_size()
    folded = state_rows("folded").localCheckpoint(eager=True)
    bench_phases.mark("folded_read")

    # delete batch over a zero threshold: merge() itself must fold
    target.auto_fold_max = 0
    dels = (
        target.read()
        .filter(F.col("user_id") % FOLD_DEL_MOD == 0)
        .select(
            "user_id",
            "event_type",
            "value",
            "k",
            F.lit(None).cast("timestamp").alias("source_ts_ns_order"),
            F.col("user_id").cast("long").alias("pos"),
            F.lit("d").alias("__op"),
        )
    )
    target.merge(dels)
    bench_phases.mark("autofold_merge")
    mask_autofold = target.mask_size()
    final = state_rows("after_autofold")
    counters = spark.createDataFrame(
        [
            ("mask_before_fold", "n", mask_before),
            ("mask_after_fold", "n", mask_after),
            ("rows_folded", "n", rows_folded),
            ("mask_after_autofold", "n", mask_autofold),
        ],
        _ROW_SCHEMA,
    )
    return (
        masked.unionByName(folded).unionByName(final).unionByName(counters)
    )


SQL_DV_FOLD_CROSSOVER = f"""
WITH ranked AS (
  SELECT user_id,
         CASE WHEN event_type = 'error' THEN 'd'
              WHEN event_type = 'signup' THEN 'c' ELSE 'u' END AS op,
         value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts::TIMESTAMP) DESC,
                                     event_id DESC) AS rn
  FROM events),
survivors AS (
  SELECT user_id, floor(value * 1000000.0)::BIGINT AS val
  FROM ranked WHERE rn = 1 AND op != 'd'),
tombstoned AS (SELECT user_id FROM ranked WHERE rn = 1 AND op = 'd')
SELECT 'masked' AS tbl, user_id::VARCHAR AS key, val FROM survivors
UNION ALL
SELECT 'folded', user_id::VARCHAR, val FROM survivors
UNION ALL
SELECT 'after_autofold', user_id::VARCHAR, val
FROM survivors WHERE user_id % {FOLD_DEL_MOD} != 0
UNION ALL
SELECT 'mask_before_fold', 'n', count(*)::BIGINT FROM tombstoned
UNION ALL
SELECT 'mask_after_fold', 'n', 0::BIGINT
UNION ALL
SELECT 'rows_folded', 'n', count(*)::BIGINT FROM survivors
UNION ALL
SELECT 'mask_after_autofold', 'n', 0::BIGINT
ORDER BY tbl, key
"""


_N_FILES = 16  # staged small files for the bin-pack query
_N_BINS = 5  # target bins: target_rows = ceil(n / _N_BINS)


def _stage_group_files(df: DataFrame, n: int, key: str, dest: str) -> None:
    """One parquet file per key%n group, deterministically named so
    file-name order == group order (g00.parquet … g15.parquet)."""
    import glob as _glob
    import os as _os
    import shutil as _shutil

    stage_root = tempfile.mkdtemp(prefix="compact_stage_")
    _os.makedirs(dest, exist_ok=True)
    for g in range(n):
        d = f"{stage_root}/stage_{g}"
        df.filter(F.col(key) % n == g).coalesce(1).write.parquet(d)
        part = _glob.glob(f"{d}/part-*.parquet")[0]
        _shutil.move(part, f"{dest}/g{g:02d}.parquet")


def q_cdc_compact_binpack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bin-pack compaction lifecycle. Output rows
    (phase, id, bin, n_rows, sum_key, rewrite):

    - 'plan': one row per input file (id = its group g) — the bin the
      sequential row-budget packing assigned and the rewrite decision
    - 'post': per-bin row count + event_id sum read back from the
      compacted layout — mis-packed data diverges here
    - 'total': whole-table invariance (count + sum survive compaction)
    """
    from dataplatform_cdc_pipeline_spark.operators.compaction import compact

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    tmp = tempfile.mkdtemp(prefix="compact_q_")
    src, dst = f"{tmp}/src", f"{tmp}/dst"
    _stage_group_files(events, _N_FILES, "event_id", src)
    n_total = spark.read.parquet(src).count()
    target = -(-n_total // _N_BINS)  # ceil
    bench_phases.mark("setup")

    plan = compact(spark, src, dst, target)
    bench_phases.mark("compact")

    plan_rows = plan.select(
        F.lit("plan").alias("phase"),
        F.regexp_extract("file", r"g(\d+)\.parquet$", 1)
        .cast("long")
        .alias("id"),
        "bin",
        "n_rows",
        F.lit(None).cast("long").alias("sum_key"),
        F.col("rewrite").cast("int").alias("rewrite"),
    )
    compacted = spark.read.parquet(dst)
    post = (
        compacted.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("event_id").alias("sum_key"),
        )
        .select(
            F.lit("post").alias("phase"),
            F.lit(None).cast("long").alias("id"),
            "bin", "n_rows", "sum_key",
            F.lit(None).cast("int").alias("rewrite"),
        )
    )
    total = compacted.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("event_id").alias("sum_key"),
    ).select(
        F.lit("total").alias("phase"),
        F.lit(None).cast("long").alias("id"),
        F.lit(None).cast("long").alias("bin"),
        "n_rows", "sum_key",
        F.lit(None).cast("int").alias("rewrite"),
    )
    return plan_rows.unionByName(post).unionByName(total)


SQL_CDC_COMPACT_BINPACK = f"""
WITH per_g AS (
  -- sums cast to BIGINT: DuckDB sum(BIGINT) is HUGEINT, which pandas
  -- renders float64 and the driver's value hash would diverge from
  -- Spark's int64 (caught by check_parity before the r12 promotion)
  SELECT event_id % {_N_FILES} AS g, count(*) AS n_rows,
         CAST(sum(event_id) AS BIGINT) AS sum_id
  FROM events GROUP BY 1
),
tot AS (
  SELECT CAST(ceil(count(*) / {_N_BINS}.0) AS BIGINT) AS target FROM events
),
cum AS (
  SELECT g, n_rows, sum_id,
         COALESCE(SUM(n_rows) OVER (
           ORDER BY g ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS cb
  FROM per_g
),
plan AS (
  SELECT g, n_rows, sum_id, cb // tot.target AS bin, tot.target AS target
  FROM cum, tot
),
per_bin AS (
  SELECT bin, count(*) AS n_files,
         CAST(sum(n_rows) AS BIGINT) AS bin_rows,
         CAST(sum(sum_id) AS BIGINT) AS bin_sum, max(target) AS target
  FROM plan GROUP BY bin
)
SELECT 'plan' AS phase, p.g AS id, p.bin, p.n_rows,
       NULL::BIGINT AS sum_key,
       CAST(b.n_files > 1 OR b.bin_rows < b.target AS INT) AS rewrite
FROM plan p JOIN per_bin b USING (bin)
UNION ALL
SELECT 'post', NULL, bin, bin_rows, bin_sum, NULL::INT FROM per_bin
UNION ALL
SELECT 'total', NULL, NULL, count(*),
       CAST(sum(event_id) AS BIGINT), NULL::INT
FROM events
"""


def q_cdc_time_travel_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel through the snapshot sink: after BOTH windows commit,
    ``read(version=1)`` must reproduce the phase-1 state exactly — the
    audit/backfill query a versioned table exists for. The oracle
    recomputes the merge of only the pre-split events, so a time-travel
    bug (manifest pruned too eagerly, files shared across versions
    mutated, wrong version resolution) diverges the hash."""
    from dataplatform_cdc_pipeline_spark.engine import run_merge
    from dataplatform_cdc_pipeline_spark.operators.snapshot_target import (
        SnapshotMergeTarget,
    )
    from dataplatform_cdc_pipeline_spark.operators.watermark import WatermarkStore

    raw = cdc_feed(spark, sf_dir)
    cfg = user_state_config()
    tmp = tempfile.mkdtemp(prefix="cdc_tt_q_")
    target = SnapshotMergeTarget(spark, f"{tmp}/t", cfg, USER_STATE_SCHEMA)
    audit = WatermarkStore(spark, f"{tmp}/a")
    split = datetime.datetime(2024, 1, 15)
    for win in [(None, split), (split, None)]:
        run_merge(
            spark, cfg, target, audit, raw=raw, window=win, deterministic_audit=True
        )
    return target.read(version=1).select(
        "user_id",
        "event_type",
        "value",
        "k",
        F.unix_micros("source_ts_ns_order").alias("event_ts_us"),
        "pos",
    )


def q_cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change feed from time travel (SnapshotMergeTarget.diff — Delta CDF
    derived after the fact): what changed between version 1 (phase-1
    state) and version 2 (final state) of the two-window lifecycle, one
    row per changed key tagged insert/update/delete, updates carrying the
    NEW image and deletes the OLD. The oracle recomputes both states
    relationally and diffs them — a wrong change classification, a
    leaked 'unchanged' row, or a wrong-side image diverges the hash."""
    from dataplatform_cdc_pipeline_spark.engine import run_merge
    from dataplatform_cdc_pipeline_spark.operators.snapshot_target import (
        SnapshotMergeTarget,
    )
    from dataplatform_cdc_pipeline_spark.operators.watermark import WatermarkStore

    raw = cdc_feed(spark, sf_dir)
    cfg = user_state_config()
    tmp = tempfile.mkdtemp(prefix="cdc_diff_q_")
    target = SnapshotMergeTarget(spark, f"{tmp}/t", cfg, USER_STATE_SCHEMA)
    audit = WatermarkStore(spark, f"{tmp}/a")
    split = datetime.datetime(2024, 1, 15)
    for win in [(None, split), (split, None)]:
        run_merge(
            spark, cfg, target, audit, raw=raw, window=win, deterministic_audit=True
        )
    return target.diff(1, 2).select(
        "_change_type",
        "user_id",
        "event_type",
        "value",
        "k",
        F.unix_micros("source_ts_ns_order").alias("event_ts_us"),
        "pos",
    )


SQL_CDC_SNAPSHOT_DIFF = f"""
WITH r1 AS (
  SELECT user_id, {OP_SQL} AS op, event_type, value,
         json_extract_string(props, '$.k')::INT AS k,
         epoch_us(ts::TIMESTAMP) AS event_ts_us, event_id AS pos,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts::TIMESTAMP) DESC, event_id DESC) AS rn
  FROM events WHERE ts <= TIMESTAMP '2024-01-15 00:00:00'),
s1 AS (SELECT user_id, event_type, value, k, event_ts_us, pos
       FROM r1 WHERE rn = 1 AND op != 'd'),
r2 AS (
  SELECT user_id, {OP_SQL} AS op, event_type, value,
         json_extract_string(props, '$.k')::INT AS k,
         epoch_us(ts::TIMESTAMP) AS event_ts_us, event_id AS pos,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts::TIMESTAMP) DESC, event_id DESC) AS rn
  FROM events),
s2 AS (SELECT user_id, event_type, value, k, event_ts_us, pos
       FROM r2 WHERE rn = 1 AND op != 'd'),
d AS (
  SELECT
    CASE WHEN s1.user_id IS NULL THEN 'insert'
         WHEN s2.user_id IS NULL THEN 'delete'
         WHEN s1.event_type IS DISTINCT FROM s2.event_type
              OR s1.value IS DISTINCT FROM s2.value
              OR s1.k IS DISTINCT FROM s2.k
              OR s1.event_ts_us IS DISTINCT FROM s2.event_ts_us
              OR s1.pos IS DISTINCT FROM s2.pos
         THEN 'update' END AS _change_type,
    CASE WHEN s2.user_id IS NULL THEN s1.user_id ELSE s2.user_id END AS user_id,
    CASE WHEN s2.user_id IS NULL THEN s1.event_type ELSE s2.event_type END AS event_type,
    CASE WHEN s2.user_id IS NULL THEN s1.value ELSE s2.value END AS value,
    CASE WHEN s2.user_id IS NULL THEN s1.k ELSE s2.k END AS k,
    CASE WHEN s2.user_id IS NULL THEN s1.event_ts_us ELSE s2.event_ts_us END AS event_ts_us,
    CASE WHEN s2.user_id IS NULL THEN s1.pos ELSE s2.pos END AS pos
  FROM s1 FULL JOIN s2 ON s1.user_id = s2.user_id)
SELECT * FROM d WHERE _change_type IS NOT NULL ORDER BY user_id
"""


def q_cdc_branch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nessie-style BRANCHES on the snapshot sink, end to end: window 1
    seeds main; a branch forks at v1 and merges the post-split events
    whose key buckets land in the LOW half; main concurrently merges the
    HIGH-half post-split events (disjoint buckets by construction —
    bucket is a pure function of the PK); ``merge_branch`` then publishes
    the branch back as ONE atomic main commit via the three-way manifest
    diff. Because the bucket split PARTITIONS the post-split keys, the
    final state must equal the plain two-window lifecycle — the
    incremental oracle gates the whole branch protocol: an isolation
    leak, a dropped/duplicated bucket in the three-way merge, or a wrong
    carry-forward diverges the hash. The conflict path (both sides touch
    one bucket → BranchConflictError, both lines intact) is pinned by
    tests/test_branches.py."""
    from dataplatform_cdc_pipeline_spark.engine import run_merge
    from dataplatform_cdc_pipeline_spark.operators.snapshot_target import (
        SnapshotMergeTarget,
    )
    from dataplatform_cdc_pipeline_spark.operators.watermark import WatermarkStore

    raw = cdc_feed(spark, sf_dir)
    cfg = user_state_config()
    tmp = tempfile.mkdtemp(prefix="cdc_branch_q_")
    target = SnapshotMergeTarget(spark, f"{tmp}/t", cfg, USER_STATE_SCHEMA)
    split = datetime.datetime(2024, 1, 15)
    # same hash family as merge_target.bucket_expr, applied to the
    # envelope's user_id so the feed splits along the SINK's bucket lines
    uid = F.get_json_object(F.col("data"), "$.user_id").cast("long")
    bkt = F.pmod(F.xxhash64(uid), F.lit(cfg.n_buckets)).cast("int")
    half = cfg.n_buckets // 2

    run_merge(
        spark, cfg, target, WatermarkStore(spark, f"{tmp}/a0"),
        raw=raw, window=(None, split), deterministic_audit=True,
    )
    branch = target.create_branch("backfill")
    run_merge(
        spark, cfg, branch, WatermarkStore(spark, f"{tmp}/a1"),
        raw=raw.filter(bkt < half), window=(split, None),
        deterministic_audit=True,
    )
    run_merge(
        spark, cfg, target, WatermarkStore(spark, f"{tmp}/a2"),
        raw=raw.filter(bkt >= half), window=(split, None),
        deterministic_audit=True,
    )
    target.merge_branch("backfill")
    return target.read().select(
        "user_id",
        "event_type",
        "value",
        "k",
        F.unix_micros("source_ts_ns_order").alias("event_ts_us"),
        "pos",
    )


SQL_CDC_BRANCH_MERGE = SQL_CDC_MERGE_INCREMENTAL


def q_cdc_clone_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-style CLONE lifecycle: window 1 merges into the source
    table; ``clone_to`` (deep) snapshots it as an INDEPENDENT table;
    window 2 merges into the CLONE only. The clone's final state must
    equal the plain two-window lifecycle (incremental oracle), and the
    source staying at its window-1 state — plus the shallow-clone
    zero-copy path and its vacuum hazard — is pinned by
    tests/test_clone.py."""
    from dataplatform_cdc_pipeline_spark.engine import run_merge
    from dataplatform_cdc_pipeline_spark.operators.snapshot_target import (
        SnapshotMergeTarget,
    )
    from dataplatform_cdc_pipeline_spark.operators.watermark import WatermarkStore

    raw = cdc_feed(spark, sf_dir)
    cfg = user_state_config()
    tmp = tempfile.mkdtemp(prefix="cdc_clone_q_")
    source = SnapshotMergeTarget(spark, f"{tmp}/src", cfg, USER_STATE_SCHEMA)
    split = datetime.datetime(2024, 1, 15)
    run_merge(
        spark, cfg, source, WatermarkStore(spark, f"{tmp}/a0"),
        raw=raw, window=(None, split), deterministic_audit=True,
    )
    clone = source.clone_to(f"{tmp}/clone", deep=True)
    run_merge(
        spark, cfg, clone, WatermarkStore(spark, f"{tmp}/a1"),
        raw=raw, window=(split, None), deterministic_audit=True,
    )
    return clone.read().select(
        "user_id",
        "event_type",
        "value",
        "k",
        F.unix_micros("source_ts_ns_order").alias("event_ts_us"),
        "pos",
    )


SQL_CDC_CLONE_READ = SQL_CDC_MERGE_INCREMENTAL


def q_cdc_erasure_txn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDPR right-to-erasure across TWO tables as ONE transaction: the
    Type-1 state table AND the SCD2 history table hard-erase the subject
    keys (user_id % 10 == 3) inside a single MultiTableTxn commit — a
    regulator's deletion must not leave a window where the state table
    forgot the subject but the history still remembers them. erase_rows
    is bucket-pruned and rides each sink's ordinary staged commit; the
    2PC meta-link is the one atomic decision. The oracle is the full
    merge MINUS the erased keys, so an over-/under-erase on the state
    table diverges the hash; the history side and the
    poisoned-thunk-means-neither-table-moved atomicity are pinned by
    tests/test_erasure.py."""
    from dataplatform_cdc_pipeline_spark.engine import run_merge
    from dataplatform_cdc_pipeline_spark.operators.multi_txn import MultiTableTxn
    from dataplatform_cdc_pipeline_spark.operators.scd2 import (
        build_version_events,
        snapshot_scd2_target,
    )
    from dataplatform_cdc_pipeline_spark.operators.snapshot_target import (
        SnapshotMergeTarget,
    )
    from dataplatform_cdc_pipeline_spark.operators.watermark import WatermarkStore
    from dataplatform_cdc_pipeline_spark.plans.merge_plan import window_scan

    raw = cdc_feed(spark, sf_dir)
    cfg = user_state_config()
    tmp = tempfile.mkdtemp(prefix="cdc_erase_q_")
    state_t = SnapshotMergeTarget(spark, f"{tmp}/state", cfg, USER_STATE_SCHEMA)
    hist_t = snapshot_scd2_target(spark, f"{tmp}/history", cfg, USER_STATE_SCHEMA)
    run_merge(
        spark, cfg, state_t, WatermarkStore(spark, f"{tmp}/a"),
        raw=raw, window=(None, None), deterministic_audit=True,
    )
    hist_t.merge(
        build_version_events(
            window_scan(raw, cfg, None, None), USER_STATE_SCHEMA, cfg,
            deterministic_audit=True,
        )
    )
    subject = F.col("user_id") % 10 == 3
    MultiTableTxn(f"{tmp}/txn").commit(
        [
            (state_t, lambda: state_t.erase_rows(subject)),
            (hist_t, lambda: hist_t.erase_rows(subject)),
        ]
    )
    return state_t.read().select(
        "user_id",
        "event_type",
        "value",
        "k",
        F.unix_micros("source_ts_ns_order").alias("event_ts_us"),
        "pos",
    )


def q_cdc_table_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE HISTORY analog: the commit log as a queryable frame —
    one row per version with its METADATA-ONLY row count (summed from
    the per-bucket fingerprints each commit records; zero data files
    touched). The oracle recomputes each phase's state cardinality
    relationally, so a wrong carry-forward, a stale fingerprint, or a
    miscounted commit diverges the hash."""
    from dataplatform_cdc_pipeline_spark.engine import run_merge
    from dataplatform_cdc_pipeline_spark.operators.snapshot_target import (
        SnapshotMergeTarget,
    )
    from dataplatform_cdc_pipeline_spark.operators.watermark import WatermarkStore

    raw = cdc_feed(spark, sf_dir)
    cfg = user_state_config()
    tmp = tempfile.mkdtemp(prefix="cdc_hist_q_")
    target = SnapshotMergeTarget(spark, f"{tmp}/t", cfg, USER_STATE_SCHEMA)
    target.harvest_fingerprints = True
    audit = WatermarkStore(spark, f"{tmp}/a")
    split = datetime.datetime(2024, 1, 15)
    for win in [(None, split), (split, None)]:
        run_merge(
            spark, cfg, target, audit, raw=raw, window=win, deterministic_audit=True
        )
    rows = [
        (v, target.metadata_row_count(version=v)) for v in target._versions()
    ]
    return spark.createDataFrame(rows, "version int, row_count long")


SQL_CDC_TABLE_HISTORY = f"""
WITH r1 AS (
  SELECT user_id, {OP_SQL} AS op,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts::TIMESTAMP) DESC, event_id DESC) AS rn
  FROM events WHERE ts <= TIMESTAMP '2024-01-15 00:00:00'),
r2 AS (
  SELECT user_id, {OP_SQL} AS op,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts::TIMESTAMP) DESC, event_id DESC) AS rn
  FROM events)
SELECT 1 AS version,
       (SELECT count(*) FROM r1 WHERE rn = 1 AND op != 'd') AS row_count
UNION ALL
SELECT 2 AS version,
       (SELECT count(*) FROM r2 WHERE rn = 1 AND op != 'd') AS row_count
"""


SQL_CDC_ERASURE_TXN = f"""
WITH ranked AS (
  SELECT user_id, {OP_SQL} AS op, event_type, value,
         json_extract_string(props, '$.k')::INT AS k,
         epoch_us(ts::TIMESTAMP) AS event_ts_us, event_id AS pos,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts::TIMESTAMP) DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, event_type, value, k, event_ts_us, pos
FROM ranked WHERE rn = 1 AND op != 'd' AND user_id % 10 != 3
"""


def q_cdc_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-version change feed (SnapshotMergeTarget.change_feed —
    Delta's ``table_changes`` shape): a THREE-window merge lifecycle
    commits versions 1..3, then the feed over (0, 3] returns each
    commit's row-level delta tagged ``_commit_version`` — version 1 is
    the all-inserts pre-history segment, versions 2 and 3 are adjacent-
    snapshot diffs. Applying the feed in version order onto an empty
    table reproduces the final state; the oracle rebuilds all three
    states relationally and unions the same three segments, so a wrong
    version tag, a misclassified change, or a row leaking between
    segments diverges the hash."""
    from dataplatform_cdc_pipeline_spark.engine import run_merge
    from dataplatform_cdc_pipeline_spark.operators.snapshot_target import (
        SnapshotMergeTarget,
    )
    from dataplatform_cdc_pipeline_spark.operators.watermark import WatermarkStore

    raw = cdc_feed(spark, sf_dir)
    cfg = user_state_config()
    tmp = tempfile.mkdtemp(prefix="cdc_cf_q_")
    target = SnapshotMergeTarget(spark, f"{tmp}/t", cfg, USER_STATE_SCHEMA)
    audit = WatermarkStore(spark, f"{tmp}/a")
    cut1 = datetime.datetime(2024, 1, 10)
    cut2 = datetime.datetime(2024, 1, 20)
    for win in [(None, cut1), (cut1, cut2), (cut2, None)]:
        run_merge(
            spark, cfg, target, audit, raw=raw, window=win, deterministic_audit=True
        )
    return target.change_feed(0, 3).select(
        "_commit_version",
        "_change_type",
        "user_id",
        "event_type",
        "value",
        "k",
        F.unix_micros("source_ts_ns_order").alias("event_ts_us"),
        "pos",
    )


def q_cdc_txn_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transactional audit (operators/txn_audit.ManifestAuditStore): two
    merges on the snapshot sink with the SUCCESS audit record riding the
    commit manifest — data + audit + watermark in ONE atomic publish,
    the reference's BEGIN…COMMIT semantics (merge.sql:368-457) restored.
    Run 2 is watermark-DRIVEN (window=None): its start comes from run
    1's committed txn payload, so the manifest watermark actually
    steering incrementality is part of what the oracle hash pins — a
    watermark that failed to advance (or advanced past uncommitted
    data) changes run 2's counts. The oracle recomputes both windows'
    change-set stats relationally."""
    from dataplatform_cdc_pipeline_spark.engine import run_merge
    from dataplatform_cdc_pipeline_spark.operators.snapshot_target import (
        SnapshotMergeTarget,
    )
    from dataplatform_cdc_pipeline_spark.operators.txn_audit import ManifestAuditStore

    raw = cdc_feed(spark, sf_dir)
    cfg = user_state_config()
    tmp = tempfile.mkdtemp(prefix="cdc_txn_q_")
    target = SnapshotMergeTarget(spark, f"{tmp}/t", cfg, USER_STATE_SCHEMA)
    audit = ManifestAuditStore(
        spark, target, f"{tmp}/fb", deterministic_run_ids=True
    )
    split = datetime.datetime(2024, 1, 15)
    run_merge(
        spark, cfg, target, audit, raw=raw, window=(None, split),
        deterministic_audit=True,
    )
    run_merge(spark, cfg, target, audit, raw=raw, deterministic_audit=True)
    return audit.history().select(
        "version",
        "id",
        "run_status",
        "records_inserted",
        "records_deleted",
        "cdc_end_ts_us",
    )


_TXN_SPLIT = "2024-01-15 00:00:00"

SQL_CDC_TXN_AUDIT = f"""
WITH w1 AS (
  SELECT user_id, {OP_SQL} AS op, epoch_us(ts::TIMESTAMP) AS ts_us, event_id AS pos
  FROM events WHERE ts <= TIMESTAMP '{_TXN_SPLIT}'),
l1 AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts_us DESC, pos DESC) AS rn
    FROM w1) WHERE rn = 1),
w2 AS (
  SELECT user_id, {OP_SQL} AS op, epoch_us(ts::TIMESTAMP) AS ts_us, event_id AS pos
  FROM events WHERE ts > TIMESTAMP '{_TXN_SPLIT}'),
l2 AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts_us DESC, pos DESC) AS rn
    FROM w2) WHERE rn = 1)
SELECT 1 AS version, 'txn-v1' AS id, 'SUCCESS' AS run_status,
       (SELECT count(*) FROM l1 WHERE op != 'd')::BIGINT AS records_inserted,
       (SELECT count(*) FROM l1 WHERE op = 'd')::BIGINT AS records_deleted,
       (SELECT max(ts_us) FROM w1) AS cdc_end_ts_us
UNION ALL
SELECT 2, 'txn-v2', 'SUCCESS',
       (SELECT count(*) FROM l2 WHERE op != 'd')::BIGINT,
       (SELECT count(*) FROM l2 WHERE op = 'd')::BIGINT,
       (SELECT max(ts_us) FROM w2)
"""


def _change_feed_oracle_sql() -> str:
    """Three dedup-latest states + the per-commit segments, generated so
    the state/diff templates stay single-sourced."""
    cuts = ["2024-01-10 00:00:00", "2024-01-20 00:00:00", None]
    states = []
    for i, cut in enumerate(cuts, start=1):
        where = f"WHERE ts <= TIMESTAMP '{cut}'" if cut else ""
        states.append(
            f"""r{i} AS (
  SELECT user_id, {OP_SQL} AS op, event_type, value,
         json_extract_string(props, '$.k')::INT AS k,
         epoch_us(ts::TIMESTAMP) AS event_ts_us, event_id AS pos,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts::TIMESTAMP) DESC, event_id DESC) AS rn
  FROM events {where}),
s{i} AS (SELECT user_id, event_type, value, k, event_ts_us, pos
       FROM r{i} WHERE rn = 1 AND op != 'd')"""
        )
    data_cols = ["event_type", "value", "k", "event_ts_us", "pos"]
    diffs = []
    for ver, (a, b) in [(2, ("s1", "s2")), (3, ("s2", "s3"))]:
        changed = " OR ".join(
            f"{a}.{c} IS DISTINCT FROM {b}.{c}" for c in data_cols
        )
        picked = ",\n    ".join(
            f"CASE WHEN {b}.user_id IS NULL THEN {a}.{c} ELSE {b}.{c} END AS {c}"
            for c in ["user_id"] + data_cols
        )
        diffs.append(
            f"""SELECT {ver} AS _commit_version, _change_type, user_id, event_type, value, k, event_ts_us, pos
FROM (
  SELECT
    CASE WHEN {a}.user_id IS NULL THEN 'insert'
         WHEN {b}.user_id IS NULL THEN 'delete'
         WHEN {changed} THEN 'update' END AS _change_type,
    {picked}
  FROM {a} FULL JOIN {b} ON {a}.user_id = {b}.user_id)
WHERE _change_type IS NOT NULL"""
        )
    segments = [
        "SELECT 1 AS _commit_version, 'insert' AS _change_type, "
        "user_id, event_type, value, k, event_ts_us, pos FROM s1"
    ] + diffs
    return "WITH " + ",\n".join(states) + "\n" + "\nUNION ALL\n".join(segments)


SQL_CDC_CHANGE_FEED = _change_feed_oracle_sql()


_TT_SPLIT = "2024-01-15 00:00:00"

SQL_CDC_TIME_TRAVEL_READ = f"""
WITH ranked AS (
  SELECT user_id, {OP_SQL} AS op, event_type, value,
         json_extract_string(props, '$.k')::INT AS k,
         epoch_us(ts::TIMESTAMP) AS event_ts_us, event_id AS pos,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts::TIMESTAMP) DESC, event_id DESC) AS rn
  FROM events WHERE ts <= TIMESTAMP '{_TT_SPLIT}'
)
SELECT user_id, event_type, value, k, event_ts_us, pos
FROM ranked WHERE rn = 1 AND op != 'd' ORDER BY user_id
"""


def q_cdc_tagged_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-snapshot reads (SnapshotMergeTarget tags — Iceberg-style
    immutable pointers): phase 1 commits and is tagged ``train-corpus``
    ("the corpus training run X read"); phase 2 then overwrites state
    and vacuum(retain_last=1) reclaims everything the retention window
    allows — but the TAGGED version must survive vacuum and
    ``read(tag=...)`` must still reproduce the phase-1 state exactly.
    The oracle recomputes the pre-split merge, so a tag resolving to the
    wrong version, vacuum reclaiming a tagged tree, or tag mutation
    diverges the hash."""
    from dataplatform_cdc_pipeline_spark.engine import run_merge
    from dataplatform_cdc_pipeline_spark.operators.snapshot_target import (
        SnapshotMergeTarget,
    )
    from dataplatform_cdc_pipeline_spark.operators.watermark import WatermarkStore

    raw = cdc_feed(spark, sf_dir)
    cfg = user_state_config()
    tmp = tempfile.mkdtemp(prefix="cdc_tag_q_")
    target = SnapshotMergeTarget(spark, f"{tmp}/t", cfg, USER_STATE_SCHEMA)
    audit = WatermarkStore(spark, f"{tmp}/a")
    split = datetime.datetime(2024, 1, 15)
    run_merge(
        spark, cfg, target, audit, raw=raw, window=(None, split),
        deterministic_audit=True,
    )
    target.create_tag("train-corpus")
    run_merge(
        spark, cfg, target, audit, raw=raw, window=(split, None),
        deterministic_audit=True,
    )
    target.vacuum(retain_last=1)
    return target.read(tag="train-corpus").select(
        "user_id",
        "event_type",
        "value",
        "k",
        F.unix_micros("source_ts_ns_order").alias("event_ts_us"),
        "pos",
    )


SQL_CDC_TAGGED_READ = SQL_CDC_TIME_TRAVEL_READ


def q_cdc_merge_wap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish (operators/dq.expectations_guard on the
    ParquetMergeTarget.validate_staged seam): the resolved post-merge state is
    validated BEFORE anything commits. Batch 2 carries a poison row
    (value outside the declared range) — the merge is REFUSED, the
    engine records the FAILED audit row, and the target provably stays
    at version 1 (asserted fail-loud); the corrected batch then lands.
    Final state must hash-equal the clean full merge: the poison row can
    never have been visible, even transiently — which a
    validate-after-write design cannot promise."""
    import json as _json

    from dataplatform_cdc_pipeline_spark.engine import run_merge
    from dataplatform_cdc_pipeline_spark.operators.dq import (
        ExpectationViolation,
        InRange,
        expectations_guard,
    )
    from dataplatform_cdc_pipeline_spark.operators.merge_target import (
        ParquetMergeTarget,
    )
    from dataplatform_cdc_pipeline_spark.operators.watermark import WatermarkStore

    raw = cdc_feed(spark, sf_dir)
    cfg = user_state_config()
    tmp = tempfile.mkdtemp(prefix="cdc_wap_q_")
    target = ParquetMergeTarget(spark, f"{tmp}/t", cfg, USER_STATE_SCHEMA)
    target.validate_staged = expectations_guard([InRange("value", 0.0, 1_000_000.0)])
    audit = WatermarkStore(spark, f"{tmp}/a")
    split = datetime.datetime(2024, 1, 15)
    run_merge(
        spark, cfg, target, audit, raw=raw, window=(None, split),
        deterministic_audit=True,
    )
    v1 = target._read_version()
    poison = spark.createDataFrame(
        [
            (
                _json.dumps(
                    {
                        "__op": "u",
                        "__ts_ns": str(1_900_000_000_000_000_000),
                        "__source_pos": "999999999",
                        "user_id": 1,
                        "event_type": "poison",
                        "value": 9.9e9,
                        "k": 1,
                    }
                ),
                datetime.datetime(2024, 1, 16),
            )
        ],
        "data string, load_ts timestamp",
    )
    poisoned = raw.select("data", "load_ts").unionByName(poison)
    try:
        run_merge(
            spark, cfg, target, audit, raw=poisoned, window=(split, None),
            deterministic_audit=True,
        )
        raise RuntimeError("poison batch was not refused — WAP gate broken")
    except ExpectationViolation:
        pass
    if target._read_version() != v1:
        raise RuntimeError("refused batch still advanced the target version")
    run_merge(
        spark, cfg, target, audit, raw=raw, window=(split, None),
        deterministic_audit=True,
    )
    failed = audit.history().filter(F.col("run_status") == "FAILED").count()
    if failed != 1:
        raise RuntimeError(f"expected exactly one FAILED audit row, got {failed}")
    return target.read().select(
        "user_id",
        "event_type",
        "value",
        "k",
        F.unix_micros("source_ts_ns_order").alias("event_ts_us"),
        "pos",
    )


# the refused batch must leave NO trace: final state ≡ the clean merge
SQL_CDC_MERGE_WAP = SQL_CDC_MERGE_FULL


def q_cdc_metadata_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only COUNT(*) (SnapshotMergeTarget.metadata_row_count):
    after a two-window lifecycle with commit-time fingerprints on, the
    row counts of BOTH versions come from the manifests alone — zero
    data files opened (per-bucket counts were folded into each commit,
    carried forward for unaffected buckets). The oracle recomputes both
    states' cardinalities relationally; a stale carried-forward count,
    a dropped-bucket leak, or a partial sum diverges the hash. At 100 TB
    this is the difference between an O(1) metadata probe and a
    full-table scan for the most common query in any warehouse."""
    from dataplatform_cdc_pipeline_spark.engine import run_merge
    from dataplatform_cdc_pipeline_spark.operators.snapshot_target import (
        SnapshotMergeTarget,
    )
    from dataplatform_cdc_pipeline_spark.operators.watermark import WatermarkStore

    raw = cdc_feed(spark, sf_dir)
    cfg = user_state_config()
    tmp = tempfile.mkdtemp(prefix="cdc_meta_q_")
    target = SnapshotMergeTarget(spark, f"{tmp}/t", cfg, USER_STATE_SCHEMA)
    target.harvest_fingerprints = True
    audit = WatermarkStore(spark, f"{tmp}/a")
    split = datetime.datetime(2024, 1, 15)
    for win in [(None, split), (split, None)]:
        run_merge(
            spark, cfg, target, audit, raw=raw, window=win, deterministic_audit=True
        )
    rows = [
        (1, target.metadata_row_count(version=1)),
        (2, target.metadata_row_count(version=2)),
    ]
    return spark.createDataFrame(rows, "version int, n_rows long")


SQL_CDC_METADATA_COUNT = f"""
WITH r1 AS (
  SELECT user_id, {OP_SQL} AS op,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts::TIMESTAMP) DESC, event_id DESC) AS rn
  FROM events WHERE ts <= TIMESTAMP '2024-01-15 00:00:00'),
r2 AS (
  SELECT user_id, {OP_SQL} AS op,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts::TIMESTAMP) DESC, event_id DESC) AS rn
  FROM events)
SELECT 1 AS version,
       (SELECT count(*) FROM r1 WHERE rn = 1 AND op != 'd')::BIGINT AS n_rows
UNION ALL
SELECT 2, (SELECT count(*) FROM r2 WHERE rn = 1 AND op != 'd')::BIGINT
"""


_RETENTION_CUTOFF = "2024-01-20 00:00:00"


def q_cdc_retention_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention enforcement (ParquetMergeTarget.erase_rows): after the
    full merge, every state row whose latest event predates the cutoff
    is HARD-DELETED outside the CDC flow — the GDPR/retention primitive
    the reference lacks (its deletes only arrive as CDC events). The
    erase is bucket-pruned and rides the ordinary staged commit; the
    oracle recomputes the surviving state relationally (latest per key,
    non-delete, ts ≥ cutoff), so an over- or under-erase diverges the
    hash."""
    from dataplatform_cdc_pipeline_spark.engine import run_merge
    from dataplatform_cdc_pipeline_spark.operators.merge_target import (
        ParquetMergeTarget,
    )
    from dataplatform_cdc_pipeline_spark.operators.watermark import WatermarkStore

    raw = cdc_feed(spark, sf_dir)
    cfg = user_state_config()
    tmp = tempfile.mkdtemp(prefix="cdc_ret_q_")
    target = ParquetMergeTarget(spark, f"{tmp}/t", cfg, USER_STATE_SCHEMA)
    audit = WatermarkStore(spark, f"{tmp}/a")
    run_merge(
        spark, cfg, target, audit, raw=raw, window=(None, None),
        deterministic_audit=True,
    )
    target.erase_rows(F.col("source_ts_ns_order") < _RETENTION_CUTOFF)
    return target.read().select(
        "user_id",
        "event_type",
        "value",
        "k",
        F.unix_micros("source_ts_ns_order").alias("event_ts_us"),
        "pos",
    )


SQL_CDC_RETENTION_SWEEP = f"""
WITH ranked AS (
  SELECT user_id, {OP_SQL} AS op, event_type, value,
         json_extract_string(props, '$.k')::INT AS k,
         epoch_us(ts::TIMESTAMP) AS event_ts_us, event_id AS pos,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts::TIMESTAMP) DESC, event_id DESC) AS rn
  FROM events)
SELECT user_id, event_type, value, k, event_ts_us, pos
FROM ranked
WHERE rn = 1 AND op != 'd'
  AND event_ts_us >= epoch_us(TIMESTAMP '{_RETENTION_CUTOFF}')
ORDER BY user_id
"""


def q_cdc_merge_patch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-image (patch) CDC merge (plans/patch.patch_fold): updates
    arrive SPARSE — value absent when event_id%3=0, k absent when
    event_id%5=0 — and an absent column means "unchanged", not "set to
    NULL". The fold takes each column's last non-null in (ts, pos)
    order, a delete RESETS the fold (pre-delete values never resurrect
    into a re-insert), and the folded full-image change set then merges
    through the ordinary engine. The oracle recomputes the per-column
    argmax-with-delete-fence relationally — nulling an untouched column,
    resurrecting a pre-delete value, or folding across the wrong order
    all diverge the hash."""
    from dataplatform_cdc_pipeline_spark.operators.merge_target import (
        ParquetMergeTarget,
    )
    from dataplatform_cdc_pipeline_spark.plans.patch import patch_fold
    from dataplatform_cdc_pipeline_spark.sources.cdc import op_expr

    ev = spread_scan(load_table(spark, sf_dir, "events"))
    op = op_expr()
    is_u = op == "u"
    is_d = op == "d"
    keyed = ev.select(
        "user_id",
        op.alias("__op"),
        F.when(~is_d, F.col("event_type")).alias("event_type"),
        F.when(~is_d & ~(is_u & (F.col("event_id") % 3 == 0)), F.col("value")).alias(
            "value"
        ),
        F.when(
            ~is_d & ~(is_u & (F.col("event_id") % 5 == 0)),
            F.get_json_object("props", "$.k").cast("int"),
        ).alias("k"),
        F.col("ts").alias("source_ts_ns_order"),
        F.col("event_id").alias("pos"),
    )
    changes = patch_fold(
        keyed, ["user_id"], ["event_type", "value", "k"]
    ).withColumn("__load_ts", F.col("source_ts_ns_order"))
    cfg = user_state_config()
    tmp = tempfile.mkdtemp(prefix="cdc_patch_q_")
    target = ParquetMergeTarget(spark, f"{tmp}/t", cfg, USER_STATE_SCHEMA)
    target.merge(changes)
    return target.read().select(
        "user_id",
        "event_type",
        "value",
        "k",
        F.unix_micros("source_ts_ns_order").alias("event_ts_us"),
        "pos",
    )


SQL_CDC_MERGE_PATCH = f"""
WITH base AS (
  SELECT user_id, {OP_SQL} AS op,
         CASE WHEN {OP_SQL} != 'd' THEN event_type END AS event_type,
         CASE WHEN {OP_SQL} != 'd'
               AND NOT ({OP_SQL} = 'u' AND event_id % 3 = 0)
              THEN value END AS value,
         CASE WHEN {OP_SQL} != 'd'
               AND NOT ({OP_SQL} = 'u' AND event_id % 5 = 0)
              THEN json_extract_string(props, '$.k')::INT END AS k,
         epoch_us(ts::TIMESTAMP) AS ts_us, event_id AS pos
  FROM events),
fenced AS (
  SELECT *,
         max(CASE WHEN op = 'd'
                  THEN struct_pack(ts := ts_us, pos := pos) END)
           OVER (PARTITION BY user_id) AS last_d
  FROM base),
folded AS (
  SELECT user_id,
         max(struct_pack(ts := ts_us, pos := pos, op := op)) AS latest,
         max(CASE WHEN op != 'd'
                   AND (last_d IS NULL
                        OR struct_pack(ts := ts_us, pos := pos) > last_d)
                   AND event_type IS NOT NULL
                  THEN struct_pack(ts := ts_us, pos := pos, v := event_type) END)
           AS f_et,
         max(CASE WHEN op != 'd'
                   AND (last_d IS NULL
                        OR struct_pack(ts := ts_us, pos := pos) > last_d)
                   AND value IS NOT NULL
                  THEN struct_pack(ts := ts_us, pos := pos, v := value) END)
           AS f_value,
         max(CASE WHEN op != 'd'
                   AND (last_d IS NULL
                        OR struct_pack(ts := ts_us, pos := pos) > last_d)
                   AND k IS NOT NULL
                  THEN struct_pack(ts := ts_us, pos := pos, v := k) END) AS f_k
  FROM fenced GROUP BY user_id)
SELECT user_id, f_et.v AS event_type, f_value.v AS value, f_k.v AS k,
       latest.ts AS event_ts_us, latest.pos AS pos
FROM folded WHERE latest.op != 'd' ORDER BY user_id
"""


def q_cdc_merge_soft_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft-delete merge mode (cfg.soft_delete): a matched delete KEEPS
    the row as a tombstone — last known values preserved, ``__is_deleted``
    set, ts/pos advanced to the delete event — instead of physically
    removing it. Two-phase lifecycle so matched deletes actually occur
    (phase 1 populates, phase 2's deletes tombstone phase-1 rows);
    unmatched deletes stay no-ops, phase-2 upserts clear nothing they
    shouldn't. The oracle rebuilds the tombstone semantics relationally:
    a key whose phase-2 survivor is 'd' carries its PHASE-1 values with
    the flag and the DELETE's ts/pos — resurrecting the wrong side of
    that split diverges the hash."""
    from dataplatform_cdc_pipeline_spark.engine import run_merge
    from dataplatform_cdc_pipeline_spark.operators.merge_target import (
        ParquetMergeTarget,
    )
    from dataplatform_cdc_pipeline_spark.operators.watermark import WatermarkStore

    raw = cdc_feed(spark, sf_dir)
    cfg = user_state_config(soft_delete=True)
    tmp = tempfile.mkdtemp(prefix="cdc_soft_q_")
    target = ParquetMergeTarget(spark, f"{tmp}/t", cfg, USER_STATE_SCHEMA)
    audit = WatermarkStore(spark, f"{tmp}/a")
    split = datetime.datetime(2024, 1, 15)
    for win in [(None, split), (split, None)]:
        run_merge(
            spark, cfg, target, audit, raw=raw, window=win, deterministic_audit=True
        )
    return target.read().select(
        "user_id",
        "event_type",
        "value",
        "k",
        F.unix_micros("source_ts_ns_order").alias("event_ts_us"),
        "pos",
        "__is_deleted",
    )


SQL_CDC_MERGE_SOFT_DELETE = f"""
WITH r1 AS (
  SELECT user_id, {OP_SQL} AS op, event_type, value,
         json_extract_string(props, '$.k')::INT AS k,
         epoch_us(ts::TIMESTAMP) AS ts_us, event_id AS pos,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts::TIMESTAMP) DESC, event_id DESC) AS rn
  FROM events WHERE ts <= TIMESTAMP '2024-01-15 00:00:00'),
s1 AS (SELECT user_id, event_type, value, k, ts_us, pos
       FROM r1 WHERE rn = 1 AND op != 'd'),
r2 AS (
  SELECT user_id, {OP_SQL} AS op, event_type, value,
         json_extract_string(props, '$.k')::INT AS k,
         epoch_us(ts::TIMESTAMP) AS ts_us, event_id AS pos,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts::TIMESTAMP) DESC, event_id DESC) AS rn
  FROM events WHERE ts > TIMESTAMP '2024-01-15 00:00:00'),
s2 AS (SELECT * FROM r2 WHERE rn = 1)
SELECT coalesce(s2.user_id, s1.user_id) AS user_id,
       CASE WHEN s2.user_id IS NULL THEN s1.event_type
            WHEN s2.op = 'd' THEN s1.event_type
            ELSE s2.event_type END AS event_type,
       CASE WHEN s2.user_id IS NULL THEN s1.value
            WHEN s2.op = 'd' THEN s1.value
            ELSE s2.value END AS value,
       CASE WHEN s2.user_id IS NULL THEN s1.k
            WHEN s2.op = 'd' THEN s1.k
            ELSE s2.k END AS k,
       CASE WHEN s2.user_id IS NULL THEN s1.ts_us ELSE s2.ts_us END AS event_ts_us,
       CASE WHEN s2.user_id IS NULL THEN s1.pos ELSE s2.pos END AS pos,
       coalesce(s2.op = 'd', FALSE) AS __is_deleted
FROM s1 FULL JOIN s2 ON s1.user_id = s2.user_id
WHERE NOT (s2.op = 'd' AND s1.user_id IS NULL)
ORDER BY user_id
"""


def q_cdc_debezium_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debezium NESTED envelope → bronze unwrap → W1 dedup-latest: the
    raw-topic ingestion path (sources/debezium.py). Discriminating bits
    vs cdc_dedup_latest: deletes read their row image from ``before``,
    op 'r' (snapshot) maps to 'c', and event time is ms-granular
    (``ts_ms``·1e6 → __ts_ns), so sub-ms orderings must re-resolve via
    the pos tiebreak — all pinned by the oracle."""
    from dataplatform_cdc_pipeline_spark.sources.debezium import (
        normalize_debezium,
        synthesize_debezium_from_events,
    )

    wire = synthesize_debezium_from_events(
        spread_scan(load_table(spark, sf_dir, "events"))
    )
    raw = normalize_debezium(wire)
    cfg = user_state_config()
    w = window_scan(raw, cfg, None, None)
    keyed = w.select(
        F.col("__op"),
        F.col("__pk_raw_0").cast("long").alias("user_id"),
        F.get_json_object("data", "$.event_type").alias("event_type"),
        F.get_json_object("data", "$.value").cast("double").alias("value"),
        F.col("__event_ts").alias("source_ts_ns_order"),
        F.col("__pos").alias("pos"),
    )
    out = latest_per_key(keyed, ["user_id"])
    return out.select(
        "user_id",
        F.col("__op").alias("op"),
        "event_type",
        "value",
        F.unix_micros("source_ts_ns_order").alias("event_ts_us"),
        "pos",
    )


# event time truncates to Debezium's ms granularity; sub-ms orderings
# re-resolve on the pos (source position) tiebreak
SQL_CDC_DEBEZIUM_INGEST = f"""
WITH ranked AS (
  SELECT user_id, {OP_SQL} AS op, event_type, value,
         (epoch_us(ts::TIMESTAMP) // 1000) * 1000 AS event_ts_us,
         event_id AS pos,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts::TIMESTAMP) // 1000 DESC,
                                     event_id DESC) AS rn
  FROM events
)
SELECT user_id, op, event_type, value, event_ts_us, pos
FROM ranked WHERE rn = 1 ORDER BY user_id
"""


def q_cdc_skipping_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map data skipping (snapshot_target.py): the two-window
    snapshot lifecycle with ``value`` clustering records per-bucket
    min/max stats in each commit's manifest; ``read(where=('value', lo,
    hi))`` prunes buckets at the MANIFEST layer and filters survivors.
    The oracle filters the recomputed merge state — a pruning bug that
    drops a qualifying bucket (or stale carried-forward stats after the
    second window's commits) diverges the hash."""
    from dataplatform_cdc_pipeline_spark.engine import run_merge
    from dataplatform_cdc_pipeline_spark.operators.snapshot_target import (
        SnapshotMergeTarget,
    )
    from dataplatform_cdc_pipeline_spark.operators.watermark import WatermarkStore

    raw = cdc_feed(spark, sf_dir)
    cfg = user_state_config(clustering_fields=("value",))
    tmp = tempfile.mkdtemp(prefix="cdc_skip_q_")
    target = SnapshotMergeTarget(spark, f"{tmp}/t", cfg, USER_STATE_SCHEMA)
    audit = WatermarkStore(spark, f"{tmp}/a")
    split = datetime.datetime(2024, 1, 15)
    for win in [(None, split), (split, None)]:
        run_merge(
            spark, cfg, target, audit, raw=raw, window=win, deterministic_audit=True
        )
    return target.read(where=("value", 100.0, 250.0)).select(
        "user_id",
        "event_type",
        "value",
        "k",
        F.unix_micros("source_ts_ns_order").alias("event_ts_us"),
        "pos",
    )


SQL_CDC_SKIPPING_READ = f"""
WITH ranked AS (
  SELECT user_id, {OP_SQL} AS op, event_type, value,
         json_extract_string(props, '$.k')::INT AS k,
         epoch_us(ts::TIMESTAMP) AS event_ts_us, event_id AS pos,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts::TIMESTAMP) DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, event_type, value, k, event_ts_us, pos
FROM ranked
WHERE rn = 1 AND op != 'd' AND value BETWEEN 100.0 AND 250.0
ORDER BY user_id
"""


def q_cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 2 dimension history (operators/scd2.py): the same
    two-window lifecycle as cdc_merge_incremental, but EVERY event lands
    as a version row — valid_from = event ts, valid_to = the next
    event's ts (a delete closes without opening), __is_current marks the
    open version. The second window must CLOSE versions the first window
    left open (the incremental close-and-append path), so a splice bug
    — wrong close ts, unclosed row, duplicated version — diverges the
    hash. The oracle is one window-function pass over all events."""
    from dataplatform_cdc_pipeline_spark.operators.scd2 import (
        SCD_IS_CURRENT,
        SCD_VALID_TO,
        Scd2Target,
        build_version_events,
    )

    raw = cdc_feed(spark, sf_dir)
    cfg = user_state_config()
    tmp = tempfile.mkdtemp(prefix="cdc_scd2_q_")
    target = Scd2Target(spark, f"{tmp}/t", cfg, USER_STATE_SCHEMA)
    split = datetime.datetime(2024, 1, 15)
    for start, end in [(None, split), (split, None)]:
        w = window_scan(raw, cfg, start, end)
        batch = build_version_events(w, USER_STATE_SCHEMA, cfg, deterministic_audit=True)
        target.merge(batch)
    return target.read().select(
        "user_id",
        "event_type",
        "value",
        "k",
        F.unix_micros("source_ts_ns_order").alias("valid_from_us"),
        F.unix_micros(SCD_VALID_TO).alias("valid_to_us"),
        F.col(SCD_IS_CURRENT).alias("is_current"),
        "pos",
    )


SQL_CDC_SCD2_HISTORY = f"""
WITH v AS (
  SELECT user_id, {OP_SQL} AS op, event_type, value,
         json_extract_string(props, '$.k')::INT AS k,
         epoch_us(ts::TIMESTAMP) AS valid_from_us, event_id AS pos,
         lead(epoch_us(ts::TIMESTAMP)) OVER (
             PARTITION BY user_id
             ORDER BY epoch_us(ts::TIMESTAMP), event_id) AS valid_to_us
  FROM events)
SELECT user_id, event_type, value, k, valid_from_us, valid_to_us,
       valid_to_us IS NULL AS is_current, pos
FROM v WHERE op != 'd' ORDER BY user_id, pos
"""


def q_cdc_maxwell_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maxwell envelope → bronze unwrap → W1 dedup-latest (the second
    real CDC wire format, sources/maxwell.py). Discriminating bits vs
    the Debezium twin: the row image comes from ``data`` for EVERY type
    (deletes included), bootstrap markers drop at the op gate, and event
    time is SECOND-granular (``ts``·1e9 → __ts_ns), so whole change
    bursts tie and survivorship falls to the xid/pos tiebreak — all
    pinned by the second-truncated oracle."""
    from dataplatform_cdc_pipeline_spark.sources.maxwell import (
        normalize_maxwell,
        synthesize_maxwell_from_events,
    )

    wire = synthesize_maxwell_from_events(
        spread_scan(load_table(spark, sf_dir, "events"))
    )
    raw = normalize_maxwell(wire)
    cfg = user_state_config()
    w = window_scan(raw, cfg, None, None)
    keyed = w.select(
        F.col("__op"),
        F.col("__pk_raw_0").cast("long").alias("user_id"),
        F.get_json_object("data", "$.event_type").alias("event_type"),
        F.get_json_object("data", "$.value").cast("double").alias("value"),
        F.col("__event_ts").alias("source_ts_ns_order"),
        F.col("__pos").alias("pos"),
    )
    out = latest_per_key(keyed, ["user_id"])
    return out.select(
        "user_id",
        F.col("__op").alias("op"),
        "event_type",
        "value",
        F.unix_micros("source_ts_ns_order").alias("event_ts_us"),
        "pos",
    )


# event time truncates to Maxwell's SECOND granularity; sub-second
# orderings re-resolve on the xid (source position) tiebreak
SQL_CDC_MAXWELL_INGEST = f"""
WITH ranked AS (
  SELECT user_id, {OP_SQL} AS op, event_type, value,
         (epoch_us(ts::TIMESTAMP) // 1000000) * 1000000 AS event_ts_us,
         event_id AS pos,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts::TIMESTAMP) // 1000000 DESC,
                                     event_id DESC) AS rn
  FROM events
)
SELECT user_id, op, event_type, value, event_ts_us, pos
FROM ranked WHERE rn = 1 ORDER BY user_id
"""


def q_cdc_canal_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canal envelope → bronze unwrap → W1 dedup-latest (the third real
    CDC wire format, sources/canal.py). Discriminating bits vs the
    Debezium/Maxwell twins: the row image arrives as a BATCH ARRAY (one
    envelope per statement — ``posexplode`` fans it out and the array
    index joins the envelope id in the packed long position), event time
    is the ENVELOPE's millisecond ``es`` (rows inherit their statement's
    commit instant, so per-row timestamps quantize to the batch minimum
    and intra-batch order falls entirely to the id·1000+idx tiebreak),
    and DDL/TRUNCATE markers drop at the op gate. The oracle recomputes
    the batch packing relationally — stripe min-ts, stripe min-id, rank
    within stripe — so the envelope semantics themselves are what the
    hash verifies."""
    from dataplatform_cdc_pipeline_spark.sources.canal import (
        normalize_canal,
        synthesize_canal_from_events,
    )

    wire = synthesize_canal_from_events(
        spread_scan(load_table(spark, sf_dir, "events"))
    )
    raw = normalize_canal(wire)
    cfg = user_state_config()
    w = window_scan(raw, cfg, None, None)
    keyed = w.select(
        F.col("__op"),
        F.col("__pk_raw_0").cast("long").alias("user_id"),
        F.get_json_object("data", "$.event_type").alias("event_type"),
        F.get_json_object("data", "$.value").cast("double").alias("value"),
        F.col("__event_ts").alias("source_ts_ns_order"),
        F.col("__pos").alias("pos"),
    )
    out = latest_per_key(keyed, ["user_id"])
    return out.select(
        "user_id",
        F.col("__op").alias("op"),
        "event_type",
        "value",
        F.unix_micros("source_ts_ns_order").alias("event_ts_us"),
        "pos",
    )


# every row inherits its envelope's (stripe-minimum) millisecond commit
# time; survivorship then resolves on the packed (envelope id, array
# index) position
SQL_CDC_CANAL_INGEST = f"""
WITH base AS (
  SELECT event_id, user_id, event_type, value, {OP_SQL} AS op,
         epoch_ms(ts::TIMESTAMP) AS ts_ms,
         event_id // 4 AS stripe
  FROM events),
env AS (
  SELECT *,
         min(ts_ms) OVER (PARTITION BY stripe, op) AS es_ms,
         min(event_id) OVER (PARTITION BY stripe, op) AS env_id,
         row_number() OVER (PARTITION BY stripe, op ORDER BY event_id) - 1 AS idx
  FROM base),
ranked AS (
  SELECT user_id, op, event_type, value,
         es_ms * 1000 AS event_ts_us,
         env_id * 1000 + idx AS pos,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY es_ms DESC, env_id * 1000 + idx DESC) AS rn
  FROM env)
SELECT user_id, op, event_type, value, event_ts_us, pos
FROM ranked WHERE rn = 1 ORDER BY user_id
"""


def q_cdc_scd2_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time snapshot reconstruction from the SCD2 table — the
    consumer pattern Type-2 history exists for (training-data backfill:
    "what did every live key look like on date D?"). Four probe dates
    spanning the feed join the history on
    ``valid_from <= probe < valid_to`` (open rows unbounded): an equi-key-
    free range join against a 4-row broadcast side, resolved per version
    row at scan speed. A wrong valid_to splice, an unclosed version, or a
    boundary-inclusive bug changes which version each probe sees."""
    from dataplatform_cdc_pipeline_spark.operators.scd2 import (
        SCD_VALID_TO,
        Scd2Target,
        build_version_events,
    )

    raw = cdc_feed(spark, sf_dir)
    cfg = user_state_config()
    tmp = tempfile.mkdtemp(prefix="cdc_scd2_asof_q_")
    target = Scd2Target(spark, f"{tmp}/t", cfg, USER_STATE_SCHEMA)
    split = datetime.datetime(2024, 1, 15)
    for start, end in [(None, split), (split, None)]:
        w = window_scan(raw, cfg, start, end)
        target.merge(
            build_version_events(w, USER_STATE_SCHEMA, cfg, deterministic_audit=True)
        )
    probes = spark.createDataFrame(
        [(d,) for d in _SCD2_PROBE_DATES], "probe string"
    ).select(F.col("probe"), F.to_timestamp("probe").alias("p_ts"))
    h = target.read()
    j = h.join(
        F.broadcast(probes),
        (F.col("source_ts_ns_order") <= F.col("p_ts"))
        & (F.col(SCD_VALID_TO).isNull() | (F.col(SCD_VALID_TO) > F.col("p_ts"))),
        "inner",
    )
    return j.select(
        "probe",
        "user_id",
        "event_type",
        "value",
        "k",
        F.unix_micros("source_ts_ns_order").alias("valid_from_us"),
    )


_SCD2_PROBE_DATES = [
    "2024-01-08 00:00:00",
    "2024-01-15 00:00:00",
    "2024-01-22 00:00:00",
    "2024-01-29 00:00:00",
]

_SCD2_PROBES_SQL = ", ".join(f"('{d}')" for d in _SCD2_PROBE_DATES)

SQL_CDC_SCD2_ASOF = f"""
WITH v AS (
  SELECT user_id, {OP_SQL} AS op, event_type, value,
         json_extract_string(props, '$.k')::INT AS k,
         epoch_us(ts::TIMESTAMP) AS valid_from_us,
         lead(epoch_us(ts::TIMESTAMP)) OVER (
             PARTITION BY user_id
             ORDER BY epoch_us(ts::TIMESTAMP), event_id) AS valid_to_us
  FROM events),
h AS (SELECT * FROM v WHERE op != 'd'),
probes(probe) AS (VALUES {_SCD2_PROBES_SQL})
SELECT probe, user_id, event_type, value, k, valid_from_us
FROM h JOIN probes
  ON valid_from_us <= epoch_us(probe::TIMESTAMP)
 AND (valid_to_us IS NULL OR valid_to_us > epoch_us(probe::TIMESTAMP))
ORDER BY probe, user_id
"""


def q_cdc_range_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read-optimized range export (operators/range_export.py): the merge
    table stays PK-hash-bucketed (merges keep pruning), analytics reads
    a copy RANGE-partitioned on ``value`` with exact per-range footer
    stats — the layout where range predicates prune densely-populated
    columns that bucket-level zone maps measurably cannot (SCALE.md).
    The pruned range read must equal the filtered merge state — shares
    cdc_skipping_read's oracle; a wrong quantile bound, range
    assignment, or stats-overlap test diverges the hash."""
    from dataplatform_cdc_pipeline_spark.engine import run_merge
    from dataplatform_cdc_pipeline_spark.operators.merge_target import (
        ParquetMergeTarget,
    )
    from dataplatform_cdc_pipeline_spark.operators.range_export import (
        read_range_pruned,
        write_range_partitioned,
    )
    from dataplatform_cdc_pipeline_spark.operators.watermark import WatermarkStore

    raw = cdc_feed(spark, sf_dir)
    cfg = user_state_config()
    tmp = tempfile.mkdtemp(prefix="cdc_rexp_q_")
    target = ParquetMergeTarget(spark, f"{tmp}/t", cfg, USER_STATE_SCHEMA)
    audit = WatermarkStore(spark, f"{tmp}/a")
    run_merge(
        spark, cfg, target, audit, raw=raw, window=(None, None),
        deterministic_audit=True,
    )
    write_range_partitioned(target.read(), f"{tmp}/export", "value", n_parts=8)
    return read_range_pruned(spark, f"{tmp}/export", 100.0, 250.0).select(
        "user_id",
        "event_type",
        "value",
        "k",
        F.unix_micros("source_ts_ns_order").alias("event_ts_us"),
        "pos",
    )


SQL_CDC_RANGE_EXPORT = SQL_CDC_SKIPPING_READ


def q_events_scd2_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time temporal enrichment (operators/scd2.point_in_time_join):
    every 'click' fact joins the user-dimension VERSION valid at the
    click's own timestamp — the feature-store join that prevents label
    leakage in training-data backfill. Discriminating bits: half-open
    interval semantics (a version opened AT the fact instant matches, one
    closed at it does not), delete gaps (clicks while the user is deleted
    match NO version and drop from the inner join), and same-instant
    version ties (exactly one covering interval survives). The plan keeps
    user_id as a true equi-join key — shuffle on the key, range predicate
    as join filter, no cross product."""
    from dataplatform_cdc_pipeline_spark.operators.scd2 import (
        point_in_time_join,
        scd2_history,
    )

    raw = cdc_feed(spark, sf_dir)
    cfg = user_state_config()
    w = window_scan(raw, cfg, None, None)
    keyed = w.select(
        F.col("__op"),
        F.col("__pk_raw_0").cast("long").alias("user_id"),
        F.get_json_object("data", "$.event_type").alias("event_type"),
        F.get_json_object("data", "$.value").cast("double").alias("value"),
        F.get_json_object("data", "$.k").cast("int").alias("k"),
        F.col("__event_ts").alias("source_ts_ns_order"),
        F.col("__pos").alias("pos"),
    )
    history = scd2_history(keyed, ["user_id"])
    facts = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("fact_pos"),
            F.col("ts").alias("fact_ts"),
        )
    )
    j = point_in_time_join(facts, history, ["user_id"], "fact_ts")
    return j.select(
        "user_id",
        "fact_pos",
        F.unix_micros("fact_ts").alias("fact_ts_us"),
        "dim_event_type",
        "dim_value",
        "dim_k",
        F.unix_micros("dim_valid_from").alias("valid_from_us"),
    )


SQL_EVENTS_SCD2_JOIN = f"""
WITH v AS (
  SELECT user_id, {OP_SQL} AS op, event_type, value,
         json_extract_string(props, '$.k')::INT AS k,
         epoch_us(ts::TIMESTAMP) AS valid_from_us,
         lead(epoch_us(ts::TIMESTAMP)) OVER (
             PARTITION BY user_id
             ORDER BY epoch_us(ts::TIMESTAMP), event_id) AS valid_to_us
  FROM events),
h AS (SELECT * FROM v WHERE op != 'd'),
f AS (SELECT user_id, event_id AS fact_pos, epoch_us(ts::TIMESTAMP) AS fact_ts_us
      FROM events WHERE event_type = 'click')
SELECT f.user_id, f.fact_pos, f.fact_ts_us,
       h.event_type AS dim_event_type, h.value AS dim_value, h.k AS dim_k,
       h.valid_from_us
FROM f JOIN h ON f.user_id = h.user_id
  AND h.valid_from_us <= f.fact_ts_us
  AND (h.valid_to_us IS NULL OR h.valid_to_us > f.fact_ts_us)
ORDER BY f.user_id, f.fact_pos
"""


def q_table_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle anti-entropy diff (operators/reconcile.py): table A holds
    the fully merged state, table B a stale replica that stopped at the
    mid-January watermark. Stage 1 compares per-bucket
    (count, sum-of-row-hashes) fingerprints; stage 2 reads ONLY the
    differing buckets back (bucket-pruned on both sides) and classifies
    drifted keys as added / removed / changed. The oracle recomputes both
    states relationally and full-outer-joins them — so a fingerprint that
    misses a drifted bucket, a wrong bucket descent, or a
    misclassification diverges rows, not just counts."""
    from dataplatform_cdc_pipeline_spark.engine import run_merge
    from dataplatform_cdc_pipeline_spark.operators.merge_target import (
        ParquetMergeTarget,
    )
    from dataplatform_cdc_pipeline_spark.operators.reconcile import (
        reconcile_targets,
    )
    from dataplatform_cdc_pipeline_spark.operators.watermark import WatermarkStore

    raw = cdc_feed(spark, sf_dir)
    cfg = user_state_config()
    split = datetime.datetime(2024, 1, 15)
    tmp = tempfile.mkdtemp(prefix="cdc_reconcile_q_")
    targets = {}
    for name, windows in [("a", [(None, split), (split, None)]), ("b", [(None, split)])]:
        t = ParquetMergeTarget(spark, f"{tmp}/{name}", cfg, USER_STATE_SCHEMA)
        audit = WatermarkStore(spark, f"{tmp}/audit_{name}")
        for win in windows:
            run_merge(
                spark, cfg, t, audit, raw=raw, window=win, deterministic_audit=True
            )
        targets[name] = t
    diff, _stats = reconcile_targets(
        targets["a"],
        targets["b"],
        cols=["event_type", "value", "k", "source_ts_ns_order", "pos"],
    )
    return diff.select(
        "user_id",
        "status",
        "a_event_type",
        "b_event_type",
        "a_value",
        "b_value",
        F.unix_micros("a_source_ts_ns_order").alias("a_ts_us"),
        F.unix_micros("b_source_ts_ns_order").alias("b_ts_us"),
        "a_pos",
        "b_pos",
    )


SQL_TABLE_RECONCILE = f"""
WITH ranked AS (
  SELECT user_id, {OP_SQL} AS op, event_type, value,
         json_extract_string(props, '$.k')::INT AS k,
         epoch_us(ts::TIMESTAMP) AS ts_us, event_id AS pos,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts::TIMESTAMP) DESC, event_id DESC) AS rn
  FROM events),
state_a AS (SELECT * FROM ranked WHERE rn = 1 AND op != 'd'),
ranked_b AS (
  SELECT user_id, {OP_SQL} AS op, event_type, value,
         json_extract_string(props, '$.k')::INT AS k,
         epoch_us(ts::TIMESTAMP) AS ts_us, event_id AS pos,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts::TIMESTAMP) DESC, event_id DESC) AS rn
  FROM events WHERE ts <= TIMESTAMP '2024-01-15 00:00:00'),
state_b AS (SELECT * FROM ranked_b WHERE rn = 1 AND op != 'd')
SELECT coalesce(a.user_id, b.user_id) AS user_id,
       CASE WHEN b.user_id IS NULL THEN 'added'
            WHEN a.user_id IS NULL THEN 'removed'
            ELSE 'changed' END AS status,
       a.event_type AS a_event_type, b.event_type AS b_event_type,
       a.value AS a_value, b.value AS b_value,
       a.ts_us AS a_ts_us, b.ts_us AS b_ts_us,
       a.pos AS a_pos, b.pos AS b_pos
FROM state_a a FULL OUTER JOIN state_b b ON a.user_id = b.user_id
WHERE a.user_id IS NULL OR b.user_id IS NULL
   OR (a.event_type, a.value, a.k, a.ts_us, a.pos)
      IS DISTINCT FROM (b.event_type, b.value, b.k, b.ts_us, b.pos)
ORDER BY user_id
"""


def q_snapshot_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan-free reconciliation (reconcile.reconcile_snapshots): same
    drift scenario as table_reconcile, but on SNAPSHOT sinks with
    ``harvest_fingerprints`` on — every commit records per-bucket
    (count, sum-of-row-hash) next to its zone maps, so the fingerprint
    stage reads only the two MANIFESTS (zero data I/O: the steady-state
    anti-entropy posture at 100 TB) before the bucket-pruned descent.
    Shares table_reconcile's oracle — commit-time fingerprints must find
    exactly the drift a full relational diff finds."""
    from dataplatform_cdc_pipeline_spark.engine import run_merge
    from dataplatform_cdc_pipeline_spark.operators.reconcile import (
        reconcile_snapshots,
    )
    from dataplatform_cdc_pipeline_spark.operators.snapshot_target import (
        SnapshotMergeTarget,
    )
    from dataplatform_cdc_pipeline_spark.operators.watermark import WatermarkStore

    raw = cdc_feed(spark, sf_dir)
    cfg = user_state_config()
    split = datetime.datetime(2024, 1, 15)
    tmp = tempfile.mkdtemp(prefix="cdc_snap_rec_q_")
    targets = {}
    for name, windows in [("a", [(None, split), (split, None)]), ("b", [(None, split)])]:
        t = SnapshotMergeTarget(spark, f"{tmp}/{name}", cfg, USER_STATE_SCHEMA)
        t.harvest_fingerprints = True
        audit = WatermarkStore(spark, f"{tmp}/audit_{name}")
        for win in windows:
            run_merge(
                spark, cfg, t, audit, raw=raw, window=win, deterministic_audit=True
            )
        targets[name] = t
    diff, stats = reconcile_snapshots(targets["a"], targets["b"])
    if stats["n_buckets_missing_fp"]:
        raise RuntimeError(
            f"snapshot reconcile: {stats['n_buckets_missing_fp']} buckets "
            "lost their commit-time fingerprints — harvesting is broken"
        )
    return diff.select(
        "user_id",
        "status",
        "a_event_type",
        "b_event_type",
        "a_value",
        "b_value",
        F.unix_micros("a_source_ts_ns_order").alias("a_ts_us"),
        F.unix_micros("b_source_ts_ns_order").alias("b_ts_us"),
        "a_pos",
        "b_pos",
    )


SQL_SNAPSHOT_RECONCILE = SQL_TABLE_RECONCILE


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------


REGISTRY = {
    q_cdc_window_scan: SQL_CDC_WINDOW_SCAN,
    q_cdc_dedup_latest: SQL_CDC_DEDUP_LATEST,
    q_cdc_dedup_latest_salted: SQL_CDC_DEDUP_LATEST,
    q_cdc_cast_projection: SQL_CDC_CAST_PROJECTION,
    q_cdc_delete_survivorship: SQL_CDC_DELETE_SURVIVORSHIP,
    q_cdc_merge_full: SQL_CDC_MERGE_FULL,
    q_cdc_merge_incremental: SQL_CDC_MERGE_INCREMENTAL,
    q_cdc_merge_multi_pk: SQL_CDC_MERGE_MULTI_PK,
    q_cdc_merge_op_u: SQL_CDC_MERGE_OP_U,
    q_cdc_merge_late_replay: SQL_CDC_MERGE_LATE_REPLAY,
    q_cdc_merge_late_guarded: SQL_CDC_MERGE_LATE_GUARDED,
    q_cdc_merge_multi_pk_guarded: SQL_CDC_MERGE_MULTI_PK_GUARDED,
    q_cdc_rowkey_timestamp: SQL_CDC_ROWKEY_TIMESTAMP,
    q_cdc_watermark_stats: SQL_CDC_WATERMARK_STATS,
    q_cdc_bucket_pruned_read: SQL_CDC_BUCKET_PRUNED_READ,
    q_cdc_date_partitioned_read: SQL_CDC_DATE_PARTITIONED_READ,
    q_cdc_ivm_type_counts: SQL_CDC_IVM_TYPE_COUNTS,
    q_cdc_ivm_sum: SQL_CDC_IVM_SUM,
    q_cdc_ivm_minmax: SQL_CDC_IVM_MINMAX,
    q_cdc_schema_drift: SQL_CDC_SCHEMA_DRIFT,
    q_cdc_job_log: SQL_CDC_JOB_LOG,
    q_cdc_debezium_ingest: SQL_CDC_DEBEZIUM_INGEST,
    q_cdc_maxwell_ingest: SQL_CDC_MAXWELL_INGEST,
    q_cdc_canal_ingest: SQL_CDC_CANAL_INGEST,
    q_cdc_change_feed: SQL_CDC_CHANGE_FEED,
    q_cdc_txn_audit: SQL_CDC_TXN_AUDIT,
    q_cdc_tagged_read: SQL_CDC_TAGGED_READ,
    q_cdc_merge_patch: SQL_CDC_MERGE_PATCH,
    q_cdc_merge_soft_delete: SQL_CDC_MERGE_SOFT_DELETE,
    q_cdc_retention_sweep: SQL_CDC_RETENTION_SWEEP,
    q_cdc_metadata_count: SQL_CDC_METADATA_COUNT,
    q_cdc_merge_wap: SQL_CDC_MERGE_WAP,
    q_cdc_snapshot_merge: SQL_CDC_SNAPSHOT_MERGE,
    q_cdc_merge_dv: SQL_CDC_MERGE_DV,
    q_dv_fold_crossover: SQL_DV_FOLD_CROSSOVER,
    q_cdc_compact_binpack: SQL_CDC_COMPACT_BINPACK,
    q_cdc_time_travel_read: SQL_CDC_TIME_TRAVEL_READ,
    q_cdc_branch_merge: SQL_CDC_BRANCH_MERGE,
    q_cdc_clone_read: SQL_CDC_CLONE_READ,
    q_cdc_erasure_txn: SQL_CDC_ERASURE_TXN,
    q_cdc_table_history: SQL_CDC_TABLE_HISTORY,
    q_cdc_snapshot_diff: SQL_CDC_SNAPSHOT_DIFF,
    q_cdc_zorder_read: SQL_CDC_ZORDER_READ,
    q_cdc_scd2_history: SQL_CDC_SCD2_HISTORY,
    q_cdc_scd2_asof: SQL_CDC_SCD2_ASOF,
    q_cdc_skipping_read: SQL_CDC_SKIPPING_READ,
    q_cdc_range_export: SQL_CDC_RANGE_EXPORT,
    q_events_scd2_join: SQL_EVENTS_SCD2_JOIN,
    q_table_reconcile: SQL_TABLE_RECONCILE,
    q_snapshot_reconcile: SQL_SNAPSHOT_RECONCILE,
    q_pricing_summary: SQL_PRICING_SUMMARY,
    q_revenue_by_nation: SQL_REVENUE_BY_NATION,
    q_top_orders_per_customer: SQL_TOP_ORDERS_PER_CUSTOMER,
}
