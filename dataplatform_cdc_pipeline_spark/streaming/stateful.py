"""Custom stateful streaming operator: per-key running aggregates via
``applyInPandasWithState`` (beyond-reference: the reference has no
cross-batch state at all, SURVEY.md §2.8).

``running_user_totals`` maintains (count, total) per user across
micro-batches in the state store — the canonical shape for any custom
stateful CDC enrichment (session carts, rate counters, feature snapshots).
State is bounded by key cardinality; a production deployment adds a
timeout (``GroupStateTimeout.ProcessingTimeTimeout``) to expire idle keys.

The running total is accumulated in INTEGER MICRO-UNITS
(``floor(value * 1e6)`` per event, summed as int64): integer addition is
exact and associative, so the cross-batch state is independent of
micro-batch boundaries and exactly replayable by a batch
``GROUP BY user_id`` — which is what lets the driver hash-check this
operator against a DuckDB oracle despite the state store in the middle.
(The previous float-accumulating version was only rows-checkable.)
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from dataplatform_cdc_pipeline_spark.streaming import drain_batches

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value_micros", T.LongType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("total_micros", T.LongType()),
    ]
)


def _update(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    n, total_micros = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        # floor(value * 1e6): the same IEEE-754 multiply-then-floor both in
        # numpy here and in the DuckDB/Spark oracle expressions — bit-equal
        # per row, exact int64 sum thereafter.
        vals = pdf["value"].to_numpy(dtype=np.float64)
        vals = vals[~np.isnan(vals)]  # SQL SUM skips NULLs; COUNT(*) does not
        total_micros += int(np.floor(vals * 1_000_000.0).astype(np.int64).sum())
    state.update((n, total_micros))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "total_value_micros": [total_micros],
        }
    )


def _drain_state(
    spark: SparkSession,
    source_path: str,
    schema: str,
    key: str,
    update,
    output_schema: T.StructType,
    state_schema: T.StructType,
    checkpoint_path: str,
    output_path: str | None,
) -> DataFrame:
    """Drain ``source_path`` through ``applyInPandasWithState(update)``
    grouped by ``key``; every emitted row is appended to ``output_path``
    (default ``<checkpoint_path>_out``; the memory sink cannot recover a
    checkpoint), and all rows emitted so far are returned."""
    output_path = output_path or f"{checkpoint_path}_out"

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(output_path)

    stateful = (
        spark.readStream.schema(schema)
        .parquet(source_path)
        .groupBy(key)
        .applyInPandasWithState(
            update, output_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )
    drain_batches(stateful, sink, checkpoint_path)
    return spark.read.schema(output_schema).parquet(output_path)


def running_user_totals(
    spark: SparkSession,
    source_path: str,
    schema: str = "event_id long, ts timestamp, user_id long, value double",
    *,
    checkpoint_path: str,
    output_path: str | None = None,
) -> DataFrame:
    """Drain the source with availableNow, maintaining per-user running
    totals in the state store; returns the latest emitted row per user.

    Sink = ``foreachBatch`` → parquet appends at ``output_path``;
    re-invoking with the same checkpoint resumes BOTH the source offsets
    and the state store — totals keep accumulating across restarts,
    which is the whole point of the state store.
    """
    out = _drain_state(
        spark, source_path, schema, "user_id", _update, OUTPUT_SCHEMA, STATE_SCHEMA,
        checkpoint_path, output_path,
    )
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).drop("rn")
    )


TOPK_K = 3

TOPK_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("n_seen", T.LongType()),
        T.StructField("rank", T.IntegerType()),
        T.StructField("value_us", T.LongType()),
        T.StructField("event_id", T.LongType()),
    ]
)

TOPK_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("values", T.ArrayType(T.LongType())),
        T.StructField("ids", T.ArrayType(T.LongType())),
    ]
)


def _topk_update(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
    """Maintain the top-K (value, id) pairs per key across batches —
    state is K scalars, never the history. Order: value DESC, id ASC
    (the deterministic tie-break the oracle mirrors)."""
    (event_type,) = key
    if state.exists:
        n, values, ids = state.get
        pairs = list(zip(values, ids))
    else:
        n, pairs = 0, []
    for pdf in pdfs:
        n += len(pdf)
        vals = np.floor(pdf["value"].to_numpy(dtype=np.float64) * 1_000_000.0).astype(
            np.int64
        )
        pairs.extend(zip(vals.tolist(), pdf["event_id"].tolist()))
        pairs.sort(key=lambda p: (-p[0], p[1]))
        del pairs[TOPK_K:]
    state.update((n, [p[0] for p in pairs], [p[1] for p in pairs]))
    yield pd.DataFrame(
        {
            "event_type": [event_type] * len(pairs),
            "n_seen": [n] * len(pairs),
            "rank": list(range(1, len(pairs) + 1)),
            "value_us": [p[0] for p in pairs],
            "event_id": [p[1] for p in pairs],
        }
    )


def running_topk_per_type(
    spark: SparkSession,
    source_path: str,
    checkpoint_path: str,
    output_path: str | None = None,
) -> DataFrame:
    """Cross-batch top-K per key in the state store (the leaderboard /
    alerting-threshold shape) over (event_id, ts, event_type, value)
    files: state is K scalars per key — NOT the
    event history — so memory is O(keys·K) no matter how long the
    stream runs. Same exact-integer discipline as running_user_totals:
    micro-unit values + a deterministic (value DESC, id ASC) tie-break
    make the drained leaderboard independent of micro-batch boundaries
    and hash-checkable against a batch window oracle."""
    out = _drain_state(
        spark, source_path, "event_id long, ts timestamp, event_type string, value double",
        "event_type", _topk_update, TOPK_OUTPUT_SCHEMA, TOPK_STATE_SCHEMA,
        checkpoint_path, output_path,
    )
    w = Window.partitionBy("event_type").orderBy(F.col("n_seen").desc())
    return (
        out.withColumn("mx", F.max("n_seen").over(w))
        .filter(F.col("n_seen") == F.col("mx"))
        .drop("mx")
    )
