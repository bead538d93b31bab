"""Executable merge-sink contract (the K1-K4 list in ParquetMergeTarget's
docstring): the SAME suite runs against every sink — ParquetMergeTarget and
its snapshot and deletion-vector subclasses — under each storage layout.

Covers the reference MERGE semantics each sink must reproduce:
update/insert (merge.sql:403-418), delete + unmatched-delete no-op
(merge.sql:428-436), the update_only_op_u gate (step-6:431-451), the
strict_ts_guard recency guard, stats/window accounting (merge.sql:360-366),
and clean-commit reporting.
"""

from __future__ import annotations

import datetime
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from dataplatform_cdc_pipeline_spark.operators.dv_target import DvMergeTarget
from dataplatform_cdc_pipeline_spark.operators.merge_target import ParquetMergeTarget
from dataplatform_cdc_pipeline_spark.operators.snapshot_target import SnapshotMergeTarget
from dataplatform_cdc_pipeline_spark.sources.cdc import USER_STATE_SCHEMA, user_state_config

BASE = datetime.datetime(2024, 1, 1)

CHANGE_SCHEMA = (
    "user_id long, event_type string, value double, k int, "
    "source_ts_ns_order timestamp, pos long, __op string, __load_ts timestamp"
)


def changes(spark, rows):
    """rows: (op, user_id, value, ts_off_s, pos) → deduped change frame."""
    data = [
        (
            uid,
            "t",
            value,
            1,
            BASE + datetime.timedelta(seconds=ts_off_s),
            pos,
            op,
            BASE + datetime.timedelta(seconds=pos),
        )
        for op, uid, value, ts_off_s, pos in rows
    ]
    return spark.createDataFrame(data, CHANGE_SCHEMA)


IMPLEMENTATIONS = [
    pytest.param((ParquetMergeTarget, {}), id="parquet"),
    # same contract through the bq_partition_field/bq_clustering_field
    # layout options — layout must never change merge semantics
    pytest.param(
        (
            ParquetMergeTarget,
            {"partition_field": "source_ts_ns_order", "clustering_fields": ("value",)},
        ),
        id="parquet-datelayout-clustered",
    ),
    # manifest-versioned snapshot sink: same merge semantics, table-atomic
    # commit (one hard-linked manifest), snapshot-isolated readers
    pytest.param((SnapshotMergeTarget, {}), id="snapshot"),
    # deletion-vector sink: merge-on-read deletes (per-bucket tombstone
    # files), same observable merge semantics — the whole point of the
    # shared suite
    pytest.param((DvMergeTarget, {}), id="deletion-vectors"),
    pytest.param(
        (
            DvMergeTarget,
            {"partition_field": "source_ts_ns_order", "clustering_fields": ("value",)},
        ),
        id="dv-datelayout-clustered",
    ),
    pytest.param(
        (
            SnapshotMergeTarget,
            {"partition_field": "source_ts_ns_order", "clustering_fields": ("value",)},
        ),
        id="snapshot-datelayout-clustered",
    ),
]


@pytest.fixture(params=IMPLEMENTATIONS)
def make_target(request, spark):
    impl, layout_kwargs = request.param

    def factory(**cfg_kwargs):
        cfg = user_state_config(**layout_kwargs, **cfg_kwargs)
        d = f"{tempfile.mkdtemp(prefix='mt_contract_')}/{uuid.uuid4().hex[:6]}"
        return impl(spark, f"{d}/t", cfg, USER_STATE_SCHEMA)

    return factory


def state(target):
    return sorted(
        (r["user_id"], r["value"]) for r in target.read().select("user_id", "value").collect()
    )


def test_insert_into_empty(spark, make_target):
    t = make_target()
    assert not t.exists()
    assert state(t) == []  # readable before first write: empty, typed
    stats = t.merge(changes(spark, [("c", 1, 1.0, 0, 1), ("u", 2, 2.0, 0, 2)]))
    assert t.exists()
    assert state(t) == [(1, 1.0), (2, 2.0)]  # unmatched 'u' still inserts
    assert stats["records_inserted"] == 2 and stats["records_deleted"] == 0


def test_matched_update_overwrites_all_columns(spark, make_target):
    t = make_target()
    t.merge(changes(spark, [("c", 1, 1.0, 0, 1)]))
    t.merge(changes(spark, [("u", 1, 9.0, 10, 2)]))
    row = t.read().collect()[0]
    assert (row["user_id"], row["value"], row["pos"]) == (1, 9.0, 2)
    assert row["source_ts_ns_order"] == BASE + datetime.timedelta(seconds=10)


def test_delete_and_unmatched_delete_noop(spark, make_target):
    t = make_target()
    t.merge(changes(spark, [("c", 1, 1.0, 0, 1), ("c", 2, 2.0, 0, 2)]))
    stats = t.merge(changes(spark, [("d", 1, 1.0, 10, 3), ("d", 99, 0.0, 10, 4)]))
    assert state(t) == [(2, 2.0)]  # user 1 deleted; unmatched 99 a no-op
    assert stats["records_deleted"] == 2  # candidate accounting, like the ref


def test_update_only_op_u_gate(spark, make_target):
    t = make_target(update_only_op_u=True)
    t.merge(changes(spark, [("c", 1, 1.0, 0, 1)]))
    # matched 'c' must NOT update; matched 'u' must; unmatched 'c' inserts
    t.merge(
        changes(spark, [("c", 1, 100.0, 10, 2), ("c", 2, 2.0, 10, 3)])
    )
    assert state(t) == [(1, 1.0), (2, 2.0)]
    t.merge(changes(spark, [("u", 1, 5.0, 20, 4)]))
    assert state(t) == [(1, 5.0), (2, 2.0)]


def test_strict_ts_guard(spark, make_target):
    t = make_target(strict_ts_guard=True)
    t.merge(changes(spark, [("c", 1, 1.0, 100, 1), ("c", 2, 2.0, 100, 2)]))
    # event-time-older update blocked; equal-or-newer applies
    t.merge(changes(spark, [("u", 1, 50.0, 50, 3), ("u", 2, 9.0, 100, 4)]))
    assert state(t) == [(1, 1.0), (2, 9.0)]
    # deletes are unconditional, even event-time-older (step-6 runs DELETE
    # as its own statement with no recency clause)
    t.merge(changes(spark, [("d", 1, 0.0, 10, 5)]))
    assert state(t) == [(2, 9.0)]


def test_stats_window_accounting(spark, make_target):
    t = make_target()
    stats = t.merge(changes(spark, [("c", 1, 1.0, 0, 3), ("d", 9, 0.0, 0, 7)]))
    assert stats["records_inserted"] == 1 and stats["records_deleted"] == 1
    # window = min/max __load_ts of the change set (watermark feed)
    assert stats["cdc_start_ts"] == BASE + datetime.timedelta(seconds=3)
    assert stats["cdc_end_ts"] == BASE + datetime.timedelta(seconds=7)


def test_stats_without_load_ts(spark, make_target):
    t = make_target()
    no_lt = changes(spark, [("c", 1, 1.0, 0, 1)]).drop("__load_ts")
    stats = t.merge(no_lt)
    assert stats["records_inserted"] == 1
    assert "cdc_start_ts" not in stats and "cdc_end_ts" not in stats


def test_null_pk_rows_merge_by_null_safe_equality(spark, make_target):
    """PK equality is null-safe (<=>): a null-PK row upserts its own slot
    instead of matching nothing/everything."""
    t = make_target()
    t.merge(
        changes(spark, [("c", 1, 1.0, 0, 1)]).union(
            changes(spark, [("c", 2, 7.0, 0, 2)]).withColumn("user_id", F.lit(None).cast("long"))
        )
    )
    t.merge(
        changes(spark, [("u", 2, 8.0, 10, 3)]).withColumn("user_id", F.lit(None).cast("long"))
    )
    got = {(r["user_id"], r["value"]) for r in t.read().select("user_id", "value").collect()}
    assert got == {(None, 8.0), (1, 1.0)}


def test_clean_commit_reports_no_pending(spark, make_target):
    t = make_target()
    t.merge(changes(spark, [("c", 1, 1.0, 0, 1)]))
    assert t.pending_commit() is None


def test_merge_is_idempotent_on_replay(spark, make_target):
    """Re-applying the same deduped window reconverges to the same state
    (the watermark-crash replay path)."""
    t = make_target()
    batch = [("c", 1, 1.0, 0, 1), ("u", 2, 2.0, 5, 2), ("d", 3, 0.0, 5, 3)]
    t.merge(changes(spark, batch))
    first = state(t)
    t.merge(changes(spark, batch))
    assert state(t) == first


# -- Delta-parity behaviors (emulated by the parquet sink) --------------------


def test_schema_enforcement_missing_column(spark, make_target):
    """A change set missing a target column is refused up front — the
    merge updates ALL columns, so a missing one would silently null data
    (Delta's merge-time schema enforcement)."""
    from dataplatform_cdc_pipeline_spark.operators.merge_target import (
        SchemaEnforcementError,
    )

    t = make_target()
    bad = changes(spark, [("c", 1, 1.0, 0, 1)]).drop("value")
    with pytest.raises((SchemaEnforcementError, Exception)) as exc:
        t.merge(bad)
    assert "value" in str(exc.value)
    assert state(t) == []  # nothing committed


def test_schema_enforcement_type_mismatch(spark, make_target):
    """A differently-typed existing column is refused — no silent casts."""
    from dataplatform_cdc_pipeline_spark.operators.merge_target import (
        SchemaEnforcementError,
    )

    t = make_target()
    bad = changes(spark, [("c", 1, 1.0, 0, 1)]).withColumn(
        "value", F.col("value").cast("string")
    )
    with pytest.raises((SchemaEnforcementError, Exception)) as exc:
        t.merge(bad)
    assert "value" in str(exc.value)
    assert state(t) == []


def test_merge_schema_evolution(spark, make_target):
    """schema_drift_policy='evolve': an extra typed change-set column
    becomes a nullable target column; rows written before the evolution
    read back NULL (Delta: MERGE withSchemaEvolution)."""
    t = make_target(schema_drift_policy="evolve")
    t.merge(changes(spark, [("c", 1, 1.0, 0, 1), ("c", 2, 2.0, 0, 2)]))
    evolved = changes(spark, [("u", 2, 9.0, 10, 3), ("c", 3, 3.0, 10, 4)]).withColumn(
        "region", F.concat(F.lit("r"), F.col("user_id"))
    )
    t.merge(evolved)
    got = {
        (r["user_id"], r["value"], r["region"])
        for r in t.read().select("user_id", "value", "region").collect()
    }
    # key 1 untouched by the evolving merge: read() must fill NULL even
    # though its bucket file predates the column
    assert got == {(1, 1.0, None), (2, 9.0, "r2"), (3, 3.0, "r3")}
    assert [f.name for f in t.schema.fields if f.name == "region"] == ["region"]


def test_merge_schema_drift_fail_policy(spark, make_target):
    from dataplatform_cdc_pipeline_spark.operators.schema_drift import SchemaDriftError

    t = make_target(schema_drift_policy="fail")
    t.merge(changes(spark, [("c", 1, 1.0, 0, 1)]))
    bad = changes(spark, [("u", 1, 9.0, 10, 2)]).withColumn("surprise", F.lit("x"))
    with pytest.raises((SchemaDriftError, Exception)) as exc:
        t.merge(bad)
    assert "surprise" in str(exc.value)
    assert state(t) == [(1, 1.0)]


def test_merge_schema_drift_ignored_by_default(spark, make_target):
    """Default policy drops unknown change-set columns (the reference's
    column-list projection behavior)."""
    t = make_target()
    t.merge(changes(spark, [("c", 1, 1.0, 0, 1)]).withColumn("surprise", F.lit("x")))
    assert state(t) == [(1, 1.0)]
    assert "surprise" not in [f.name for f in t.schema.fields]


def test_concurrent_writer_conflict_detected(spark, make_target):
    """A writer that committed between this merge's read and its commit
    wins; the losing merge raises ConcurrentWriteError and leaves the
    winner's state intact (Delta: ConcurrentAppendException from the
    transaction log; emulated here with a commit-version check)."""
    t1 = make_target()
    from dataplatform_cdc_pipeline_spark.operators.merge_target import (
        ConcurrentWriteError,
    )

    t1.merge(changes(spark, [("c", 1, 1.0, 0, 1)]))
    # the racing writer uses the SAME sink class — each class has its own
    # commit log, and a conflict is only defined within one protocol
    t2 = type(t1)(spark, t1.path, t1.cfg, USER_STATE_SCHEMA)

    def interleave():
        t1.pre_commit_hook = None  # fire once
        t2.merge(changes(spark, [("u", 1, 50.0, 5, 2)]))

    t1.pre_commit_hook = interleave
    with pytest.raises(ConcurrentWriteError):
        t1.merge(changes(spark, [("u", 1, 9.0, 10, 3)]))
    # the winner's commit stands; the loser's staging tree is cleaned up
    assert state(t1) == [(1, 50.0)]
    assert t1.pending_commit() is None
    assert t1.vacuum() == []
