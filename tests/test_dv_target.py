"""Deletion-vector sink specifics (operators/dv_target.py) — the K1-K4
merge contract is covered by test_merge_target_contract.py, which runs
against every sink and layout, DvMergeTarget included; this file pins what makes DV mode DV mode:
delete-only batches touch no data file, tombstones fold on rewrite,
re-inserts clear their mask, compact survives re-bucketing, and the
crash window reconverges on replay."""

import datetime
import glob
import os
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from dataplatform_cdc_pipeline_spark.operators.dv_target import DvMergeTarget
from dataplatform_cdc_pipeline_spark.sources.cdc import (
    USER_STATE_SCHEMA,
    user_state_config,
)

BASE = datetime.datetime(2024, 1, 1)
SCH = (
    "user_id long, event_type string, value double, k int, "
    "source_ts_ns_order timestamp, pos long, __op string, __load_ts timestamp"
)


def changes(spark, rows):
    return spark.createDataFrame(
        [
            (
                u,
                "t",
                v,
                1,
                BASE + datetime.timedelta(seconds=ts),
                p,
                op,
                BASE + datetime.timedelta(seconds=p),
            )
            for op, u, v, ts, p in rows
        ],
        SCH,
    )


@pytest.fixture()
def target(spark):
    d = f"{tempfile.mkdtemp(prefix='dv_')}/{uuid.uuid4().hex[:6]}"
    return DvMergeTarget(spark, f"{d}/t", user_state_config(), USER_STATE_SCHEMA)


def state(t):
    return sorted(
        (r["user_id"], r["value"])
        for r in t.read().select("user_id", "value").collect()
    )


def _data_files(t):
    return {
        p: os.stat(p).st_mtime_ns
        for p in glob.glob(f"{t.path}/__bucket=*/part-*.parquet")
    }


def test_delete_only_batch_touches_no_data_file(spark, target):
    target.merge(changes(spark, [("c", 1, 1.0, 0, 1), ("c", 2, 2.0, 0, 2)]))
    before = _data_files(target)
    stats = target.merge(changes(spark, [("d", 1, 1.0, 10, 3)]))
    assert stats["records_deleted"] == 1
    assert _data_files(target) == before  # merge-on-read: zero rewrites
    assert state(target) == [(2, 2.0)]
    assert len(target._dv_files()) == 1


def test_upsert_rewrite_folds_tombstones(spark, target):
    target.merge(changes(spark, [("c", 1, 1.0, 0, 1)]))
    target.merge(changes(spark, [("d", 1, 1.0, 10, 2)]))
    assert target._dv_files()
    # an upsert of ANOTHER pk in the same bucket folds the tombstone:
    # user 1's bucket is rewritten from the masked read
    same_bucket_pk = 1  # upsert the same pk's bucket via the pk itself
    target.merge(changes(spark, [("c", same_bucket_pk, 9.0, 20, 3)]))
    assert state(target) == [(1, 9.0)]  # re-insert visible
    assert target._dv_files() == []  # mask cleared with the rewrite


def test_blind_tombstone_then_insert(spark, target):
    target.merge(changes(spark, [("c", 2, 2.0, 0, 1)]))
    # delete a pk that never existed: blind tombstone, no-op observable
    target.merge(changes(spark, [("d", 99, 0.0, 10, 2)]))
    assert state(target) == [(2, 2.0)]
    # inserting that pk later clears the stray mask with the rewrite
    target.merge(changes(spark, [("c", 99, 5.0, 20, 3)]))
    assert state(target) == [(2, 2.0), (99, 5.0)]


def test_compact_folds_and_survives_rebucket(spark, target):
    target.merge(
        changes(spark, [("c", i, float(i), 0, i) for i in range(1, 9)])
    )
    target.merge(changes(spark, [("d", 3, 0.0, 10, 20), ("d", 7, 0.0, 10, 21)]))
    assert target._dv_files()
    # compact re-buckets under a NEW config (cfg is frozen — rebind, the
    # same pattern as the base rebucket lifecycle test)
    target.cfg = user_state_config(n_buckets=4)
    n = target.compact()
    assert n == 6  # masked rows folded out of the rewrite
    assert target._dv_files() == []  # all tombstones cleared
    assert [u for u, _ in state(target)] == [1, 2, 4, 5, 6, 8]
    # a pk deleted pre-compact is insertable post-compact (no orphan mask
    # under an old bucket id)
    target.merge(changes(spark, [("c", 3, 3.5, 30, 22)]))
    assert (3, 3.5) in state(target)


def test_crash_between_swap_and_clear_reconverges_on_replay(spark, target):
    batch = changes(spark, [("c", 1, 7.0, 10, 5)])
    target.merge(changes(spark, [("c", 1, 1.0, 0, 1)]))
    target.merge(batch)
    # simulate the documented crash window: the upsert swap landed but
    # the tombstone clear didn't — a stale mask hides the fresh row
    stale = changes(spark, [("d", 1, 0.0, 0, 0)])
    target._write_dvs(stale.withColumn("__b", F.lit(0)).drop("__b"))
    assert state(target) == []  # the hazard, visible
    target.merge(batch)  # standard recovery: replay the merge window
    assert state(target) == [(1, 7.0)]
    assert target._dv_files() == []


def test_erase_rows_on_masked_state(spark, target):
    target.merge(
        changes(spark, [("c", 1, 1.0, 0, 1), ("c", 2, 2.0, 0, 2), ("c", 3, 3.0, 0, 3)])
    )
    target.merge(changes(spark, [("d", 2, 0.0, 10, 4)]))
    n = target.erase_rows(F.col("value") < 2.5)  # sees masked state: only user 1
    assert n == 1
    assert state(target) == [(3, 3.0)]


def test_soft_delete_refused(spark):
    d = f"{tempfile.mkdtemp(prefix='dv_')}/t"
    with pytest.raises(ValueError, match="contradictory"):
        DvMergeTarget(
            spark, d, user_state_config(soft_delete=True), USER_STATE_SCHEMA
        )


def test_dv_mask_is_broadcast_anti_join(spark, target):
    # the tombstone set is tiny by construction — the mask must land as
    # a broadcast anti-join, never a shuffled one (the read-side cost of
    # DV mode at 100 TB is the broadcast, not an exchange of the table)
    target.merge(changes(spark, [("c", 1, 1.0, 0, 1)]))
    target.merge(changes(spark, [("d", 1, 1.0, 10, 2)]))
    plan = target.read()._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_ivm_composes_with_dv_sink(spark, target):
    # incremental view maintenance reads pre/post state through
    # target.read() — with DV mode that's the MASKED read, so the
    # maintained counts must track merges whose deletes never touch a
    # data file. Same scenario as test_ivm_counts_track_merge_deltas,
    # different delete representation.
    from dataplatform_cdc_pipeline_spark.operators.ivm import (
        maintain_counts_through_merge,
    )

    def fresh():
        return {
            r["event_type"]: r["n"]
            for r in target.read()
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

    counts, _ = maintain_counts_through_merge(
        target,
        changes(spark, [("c", 1, 1.0, 0, 1), ("c", 2, 2.0, 0, 2)]),
        None,
        "event_type",
    )
    assert {r["event_type"]: r["n"] for r in counts.collect()} == fresh() == {"t": 2}
    counts, _ = maintain_counts_through_merge(
        target,
        changes(
            spark,
            [("u", 1, 5.0, 10, 3), ("d", 2, 0.0, 10, 4), ("d", 99, 0.0, 10, 5), ("c", 3, 3.0, 10, 6)],
        ),
        counts,
        "event_type",
    )
    assert {r["event_type"]: r["n"] for r in counts.collect()} == fresh() == {"t": 2}
    assert target._dv_files()  # the delete really went through the DV path
    counts, _ = maintain_counts_through_merge(
        target,
        changes(spark, [("d", 1, 0.0, 20, 7), ("d", 3, 0.0, 20, 8)]),
        counts,
        "event_type",
    )
    assert counts.collect() == [] and fresh() == {}


# ---------------------------------------------------------------------------
# write-audit-publish on the DV sink (ADVICE r6: the delete-only path
# used to commit tombstones without ever running validate_staged)
# ---------------------------------------------------------------------------


def _one_bucket_target(spark):
    # the guard's scope is the AFFECTED buckets (same as the base class),
    # so these tests co-locate all rows in one bucket
    d = f"{tempfile.mkdtemp(prefix='dv_')}/{uuid.uuid4().hex[:6]}"
    return DvMergeTarget(
        spark, f"{d}/t", user_state_config(n_buckets=1), USER_STATE_SCHEMA
    )


def test_delete_only_batch_is_audited_and_refusable(spark):
    """A guard installed on a DV sink must audit DELETE batches too: the
    staged preview is the full post-batch masked state, validated BEFORE
    any tombstone commits — a refused batch leaves data files AND the
    tombstone tree untouched."""
    from dataplatform_cdc_pipeline_spark.operators.dq import (
        ExpectationViolation,
        InRange,
        expectations_guard,
    )

    target = _one_bucket_target(spark)
    target.merge(changes(spark, [("c", 1, 1.0, 0, 1), ("c", 2, 5.0, 0, 2)]))
    # guard: post-batch state may not contain values > 4.0 — deleting
    # user 1 would leave exactly such a state, so the batch is refused
    target.validate_staged = expectations_guard([InRange("value", 0.0, 4.0)])
    before = _data_files(target)
    with pytest.raises(ExpectationViolation):
        target.merge(changes(spark, [("d", 1, 0.0, 10, 3)]))
    assert target._dv_files() == []  # no tombstone committed
    assert _data_files(target) == before  # no data file touched
    assert state(target) == [(1, 1.0), (2, 5.0)]  # target untouched


def test_guard_sees_full_post_batch_state_not_per_leg(spark):
    """The audit frame reflects BOTH legs: a batch that deletes the only
    violating row while inserting a clean one must pass, even though the
    upsert leg's own frame (without this batch's deletes) would fire."""
    from dataplatform_cdc_pipeline_spark.operators.dq import (
        InRange,
        expectations_guard,
    )

    target = _one_bucket_target(spark)
    target.merge(changes(spark, [("c", 1, 9.0, 0, 1)]))  # violates 0..4
    target.validate_staged = expectations_guard([InRange("value", 0.0, 4.0)])
    stats = target.merge(
        changes(spark, [("d", 1, 0.0, 10, 2), ("c", 2, 1.0, 10, 3)])
    )
    assert stats == {
        **stats,
        "records_inserted": 1,
        "records_deleted": 1,
    }
    assert state(target) == [(2, 1.0)]
    assert target.validate_staged is not None  # guard restored after leg


def test_guard_not_mutated_during_upsert_leg(spark, monkeypatch):
    """ADVICE r7: suppressing the per-leg validation must be threaded
    through the super().merge CALL, not by nulling self.validate_staged
    around it — a concurrent merge (or a guard raising in another
    thread) on the same instance would otherwise run unguarded or have
    its guard clobbered by the finally-restore. Asserted at the deepest
    point of the upsert sub-merge: the instance attribute still holds
    the installed guard when the leg commits."""
    from dataplatform_cdc_pipeline_spark.operators.dq import (
        InRange,
        expectations_guard,
    )
    from dataplatform_cdc_pipeline_spark.operators.merge_target import (
        ParquetMergeTarget,
    )

    target = _one_bucket_target(spark)
    guard = expectations_guard([InRange("value", 0.0, 4.0)])
    target.validate_staged = guard

    real_commit = ParquetMergeTarget._commit
    seen = []

    def spying_commit(self, *a, **k):
        seen.append(self.validate_staged)
        return real_commit(self, *a, **k)

    monkeypatch.setattr(ParquetMergeTarget, "_commit", spying_commit)
    target.merge(changes(spark, [("c", 1, 1.0, 0, 1), ("d", 9, 0.0, 0, 2)]))
    assert seen and all(g is guard for g in seen)
    assert target.validate_staged is guard


def test_dv_fold_policy(spark, target):
    """auto_fold_max pins the fold-on-threshold heuristic: delete batches
    below the cap accumulate tombstones (merge-on-read economics hold);
    the batch that pushes the mask over the cap triggers an immediate
    fold — all tombstones clear, the visible state is unchanged, and
    later deletes start a fresh mask."""
    target.merge(
        changes(spark, [("c", i, float(i), 0, i) for i in range(1, 11)])
    )
    target.auto_fold_max = 3
    target.merge(changes(spark, [("d", 1, 0.0, 10, 20), ("d", 2, 0.0, 10, 21)]))
    assert target.mask_size() == 2  # under the cap: tombstones stay
    assert target._dv_files()
    before = state(target)
    target.merge(
        changes(spark, [("d", 3, 0.0, 20, 22), ("d", 4, 0.0, 20, 23)])
    )
    # 4 > 3: the merge folded — mask cleared, state identical to masked
    assert target.mask_size() == 0 and target._dv_files() == []
    assert state(target) == [(u, v) for u, v in before if u not in (3, 4)]
    # the fold is a rewrite: a later delete starts a fresh mask
    target.merge(changes(spark, [("d", 5, 0.0, 30, 24)]))
    assert target.mask_size() == 1
