"""Maxwell's daemon envelope adapter: the second real CDC wire format
(after Debezium, sources/debezium.py) → the engine's flat bronze shape.

Maxwell (Zendesk's MySQL binlog reader) emits::

    {"database": "db", "table": "t", "type": "insert|update|delete",
     "ts": 1718000000, "xid": 12345, "data": {...full row image...},
     "old": {...changed columns' prior values...}}

Differences from Debezium the adapter must absorb:

- the row image ALWAYS lives in ``data`` — deletes included (no
  before/after split);
- ``type`` is a word, with bootstrap variants: ``bootstrap-insert`` is a
  snapshot row (⇒ 'c', like Debezium's 'r'); ``bootstrap-start`` /
  ``bootstrap-complete`` are markers with no row image — they map to a
  NULL op and fall out at the plan's op-not-null gate (F1), exactly how
  the reference drops non-DML rows;
- ``ts`` is SECONDS — the coarsest event-time of any supported source,
  so whole bursts of changes tie at one timestamp and survivorship
  falls to the ``pos`` tiebreak (``xid``) far more often than with
  Debezium's millis. The synthesized oracle pins this deliberately.

Everything is native Columns (ONE ``from_json`` of the whole envelope,
no ``get_json_object`` probes) — scan-speed, no Python in the path.

Strict-typing contract: the parse is PERMISSIVE and the envelope must
match the schema's types. JSON that does not parse at all yields a NULL
struct, so the row fails the op gate. A parseable envelope with one
mistyped field keeps its other fields and reads that field as NULL
(Spark's ``spark.sql.json.enablePartialResults``, on by default in
Spark 4; with it off the whole struct is NULL and the row fails the op
gate too): a quoted ``ts`` leaves ``__ts_ns`` and the default
``load_ts`` NULL (the window scan's ``load_ts`` range then skips the
row), a non-object ``data`` leaves the bronze payload NULL. None of
these rows is quarantined or counted yet.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _engine_op(t: Column) -> Column:
    return (
        F.when(t == "insert", F.lit("c"))
        .when(t == "bootstrap-insert", F.lit("c"))
        .when(t == "update", F.lit("u"))
        .when(t == "delete", F.lit("d"))
    )  # bootstrap-start/-complete and unknown types → NULL → dropped (F1)


def normalize_maxwell(
    raw: DataFrame,
    value_col: str = "value",
    load_ts_col: str | None = None,
    source_name: str = "maxwell",
) -> DataFrame:
    """Maxwell change events → bronze CDC frame
    ``(data, load_ts, publish_time, message_id, source_db_table,
    subscription_name)`` — directly consumable by
    :func:`plans.merge_plan.window_scan` and the merge engine.

    ``__ts_ns`` = ``ts`` · 1e9 (seconds → the engine's ns encoding; the
    micros event-time order therefore quantizes to whole seconds and
    sub-second orderings resolve on ``xid``). ``load_ts`` defaults to
    the envelope's ``ts``."""
    # ONE from_json parse per envelope (r13, guide §1.2/§2.3): the prior
    # shape probed the document with five scalar get_json_object calls
    # plus a second from_json of the extracted row image — six full JSON
    # parses per row. Field-for-field equivalent: scalar fields return
    # the same literals as get_json_object (absent/JSON-null → NULL in
    # both), and parsing ``data`` as a nested map yields exactly the map
    # the old text-reparse produced (document key order preserved), so
    # the re-serialized bronze payload is byte-identical — pinned by
    # tests/test_opt_r13.py::test_normalize_maxwell_single_parse_identical.
    e = F.from_json(
        F.col(value_col),
        "database string, table string, type string, ts long, xid string, "
        "data map<string,string>",
    )
    op = _engine_op(e["type"])
    ts_s = e["ts"]
    pos = e["xid"]
    envelope = F.create_map(
        F.lit("__op"), op,
        F.lit("__ts_ns"), (ts_s * F.lit(1_000_000_000)).cast("string"),
        F.lit("__source_pos"), pos,
    )
    data = F.to_json(F.map_concat(e["data"], envelope))
    load_ts = (
        F.col(load_ts_col) if load_ts_col is not None else F.timestamp_seconds(ts_s)
    )
    return raw.filter(op.isNotNull()).select(
        data.alias("data"),
        load_ts.alias("load_ts"),
        load_ts.alias("publish_time"),
        F.concat(F.lit("mxw-"), pos).alias("message_id"),
        F.concat(e["database"], F.lit("."), e["table"]).alias("source_db_table"),
        F.lit(source_name).alias("subscription_name"),
    )


def synthesize_maxwell_from_events(events: DataFrame) -> DataFrame:
    """events table → Maxwell-envelope JSON strings (test/bench feed).

    Mirrors the Debezium synthesizer's op mapping ('error'→delete,
    'signup'→bootstrap-insert, else update) in Maxwell's wire shape:
    full row image in ``data`` for every type, ``ts`` truncated to WHOLE
    SECONDS (``unix_seconds``), ``xid`` = event_id. A bootstrap-start /
    bootstrap-complete marker pair (no ``data``) brackets the feed to
    exercise the marker-drop path."""
    from dataplatform_cdc_pipeline_spark.sources.cdc import op_expr
    from dataplatform_cdc_pipeline_spark.sources.tables import normalize_ntz

    events = normalize_ntz(events)
    op = op_expr()
    mxw_type = (
        F.when(op == "c", F.lit("bootstrap-insert"))
        .when(op == "u", F.lit("update"))
        .otherwise(F.lit("delete"))
    )
    image = F.struct(
        F.col("user_id"),
        F.col("event_type"),
        F.col("value"),
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )
    rows = events.select(
        F.to_json(
            F.struct(
                F.lit("demo").alias("database"),
                F.lit("events").alias("table"),
                mxw_type.alias("type"),
                F.unix_seconds(F.col("ts")).alias("ts"),
                F.col("event_id").alias("xid"),
                image.alias("data"),
            )
        ).alias("value")
    )
    markers = events.sparkSession.createDataFrame(
        [
            ('{"database":"demo","table":"events","type":"bootstrap-start","ts":0,"xid":0}',),
            ('{"database":"demo","table":"events","type":"bootstrap-complete","ts":0,"xid":0}',),
        ],
        "value string",
    )
    return rows.unionByName(markers)
