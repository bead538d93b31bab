"""Deletion-vector merge sink — merge-on-read deletes for the bucketed
parquet target (Delta/Iceberg "deletion vectors", the modern-lakehouse
delete path, emulated on the same storage layout).

The copy-on-write sink (ParquetMergeTarget) pays a full bucket rewrite
for every delete; at 100 TB a trickle of CDC 'd' events against a
4 GB bucket makes deletes the dominant write cost. This sink routes
deletes to per-bucket TOMBSTONE FILES instead:

- **delete** → the pk lands in ``<path>.dv/__bucket=N/dv.parquet``, a
  SIBLING tree of the table (inside the table dir it would need a
  ``_``-prefixed name, and Spark's file index skips hidden files even
  when handed the exact path — measured). No data file is touched; a
  delete-only batch writes kilobytes.
- **read** → the base scan anti-joins the (tiny, broadcastable) union of
  tombstoned pks, null-safely (the merge's own PK equality is ``<=>``).
  Reads stay bucket-pruned; the mask is pk-based so it needs no bucket
  bookkeeping.
- **upsert** → the base copy-on-write merge runs over the MASKED state,
  so every bucket it rewrites drops its tombstoned rows; the sink then
  clears those buckets' tombstone files (fold-on-rewrite, Delta's
  DV + OPTIMIZE contract). The clear is REQUIRED for upserts — a
  change set may re-insert a tombstoned pk, and a surviving mask would
  hide the new row.
- **compact()** → full rewrite from the masked read, then ALL tombstone
  files clear (compact may re-bucket, which would orphan per-bucket
  tombstones under old bucket ids).
- **erase_rows()** → inherited untouched: it rewrites from the masked
  read and never ADDS rows, so tombstones left behind are blind
  (masking pks whose rows are already gone) — harmless by construction,
  reclaimed by the next merge/compact of their bucket.

Tombstoning is BLIND (no existence check): masking a pk that was never
present changes nothing observable, and any later upsert of that pk
rewrites its bucket and clears the stray tombstone. This keeps the
delete path one narrow write with zero joins.

Scope notes (documented limits, tested where they bite):
- delete-only batches are bucket-atomic (per-bucket ``os.replace``) and
  OUTSIDE the optimistic version counter — concurrent delete-only
  writers to the same bucket can lose tombstones (run one writer per
  target, as the base class already prescribes for the swap race);
- the upsert swap rolls forward after a crash like every bucket-sink
  commit; a crash AFTER it but before the tombstone clear can leave a
  fresh upsert masked, and replaying the merge window (the watermark has
  not moved) rewrites the bucket and clears the mask — test-pinned;
- ``cfg.soft_delete`` is refused: tombstone-as-mask and
  tombstone-as-row are contradictory delete representations.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataplatform_cdc_pipeline_spark.operators.merge_target import (
    BUCKET_COL,
    ParquetMergeTarget,
    bucket_expr,
)

DV_FILE = "dv.parquet"


class DvMergeTarget(ParquetMergeTarget):
    """ParquetMergeTarget with merge-on-read deletes."""

    def __init__(self, spark, path, cfg, schema):
        if cfg.soft_delete:
            raise ValueError(
                "deletion vectors and soft_delete are contradictory delete "
                "representations (mask vs tombstone row) — pick one"
            )
        super().__init__(spark, path, cfg, schema)
        self.dv_path = f"{self.path}.dv"
        #: Auto-fold policy: when set, a merge whose delete leg pushes
        #: the total tombstone count ABOVE this value triggers an
        #: immediate fold (compact — full rewrite from the masked read,
        #: all tombstones clear). The read-side tax of an accumulating
        #: mask is linear in mask rows while it stays a broadcast
        #: anti-join, then CLIFFS when the mask outgrows the broadcast
        #: threshold and the scan pays a sort-merge join (measured in
        #: SCALE.md "DV mask read tax"); the default keeps the mask two
        #: orders of magnitude below that cliff. None disables (the
        #: delete-only driver queries pin tombstone files on disk).
        self.auto_fold_max: int | None = None

    # -- deletion-vector storage ------------------------------------------

    def _pk_schema(self) -> T.StructType:
        by_name = {f.name: f for f in self.schema.fields}
        return T.StructType([by_name[c] for c in self.cfg.pk])

    def _dv_files(self) -> list[str]:
        return sorted(glob.glob(f"{self.dv_path}/{BUCKET_COL}=*/{DV_FILE}"))

    def deletion_vectors(self) -> DataFrame:
        """The tombstoned pks (union of every bucket's tombstone file)."""
        files = self._dv_files()
        if not files:
            return self.spark.createDataFrame([], self._pk_schema())
        return self.spark.read.schema(self._pk_schema()).parquet(*files)

    def _clear_dvs(self, buckets=None) -> None:
        """Drop tombstone files — for ``buckets`` (just rewritten from the
        masked read) or all of them (``None``, after a compact)."""
        if buckets is None:
            shutil.rmtree(self.dv_path, ignore_errors=True)
            return
        for b in buckets:
            shutil.rmtree(
                f"{self.dv_path}/{BUCKET_COL}={b}", ignore_errors=True
            )

    def _write_dvs(self, dels: DataFrame) -> None:
        """Rewrite the tombstone file of every bucket the delete set
        touches: (existing tombstones of those buckets) ∪ (new pks), one
        shuffled job, then a per-bucket atomic file replace."""
        pk = list(self.cfg.pk)
        n = self.cfg.n_buckets
        new = dels.select(*pk).withColumn(BUCKET_COL, bucket_expr(pk, n))
        target_buckets = [
            r[BUCKET_COL] for r in new.select(BUCKET_COL).distinct().collect()
        ]
        existing = (
            self.deletion_vectors()
            .withColumn(BUCKET_COL, bucket_expr(pk, n))
            .filter(F.col(BUCKET_COL).isin(target_buckets))
        )
        allv = existing.unionByName(new).dropDuplicates(pk + [BUCKET_COL])
        staging = tempfile.mkdtemp(prefix="dv_staging_")
        try:
            (
                allv.repartition(max(len(target_buckets), 1), F.col(BUCKET_COL))
                .write.partitionBy(BUCKET_COL)
                .parquet(f"{staging}/dv")
            )
            for b in target_buckets:
                parts = glob.glob(
                    f"{staging}/dv/{BUCKET_COL}={b}/part-*.parquet"
                )
                if not parts:
                    continue  # no tombstones materialized for this bucket
                d = f"{self.dv_path}/{BUCKET_COL}={b}"
                os.makedirs(d, exist_ok=True)
                os.replace(parts[0], f"{d}/{DV_FILE}")
        finally:
            shutil.rmtree(staging, ignore_errors=True)

    # -- reads --------------------------------------------------------------

    def read(self, buckets=None, date_range=None) -> DataFrame:
        base = super().read(buckets=buckets, date_range=date_range).alias("t")
        dv = self.deletion_vectors().alias("dv")
        # null-safe mask: a null-valued PK row is deletable like any other
        # (the merge's own PK equality is <=>, the mask must match it)
        cond = None
        for c in self.cfg.pk:
            eq = F.col(f"t.{c}").eqNullSafe(F.col(f"dv.{c}"))
            cond = eq if cond is None else (cond & eq)
        return base.join(dv, cond, "left_anti")

    # -- the merge ------------------------------------------------------------

    def merge(self, changes: DataFrame) -> dict[str, int]:
        """Deletes → tombstone files; upserts → the base copy-on-write
        merge over the MASKED state, then the rewritten buckets'
        tombstones clear. Stats are candidate accounting over the full
        change set, same as the base class.

        Write-audit-publish: ``validate_staged`` runs ONCE, up front, on
        the full post-batch visible state of every affected bucket
        (masked read + this batch's deletes and upserts resolved through
        the same ``resolve_changes`` the sink applies) — BEFORE either
        leg commits, so a refused batch leaves the target untouched.
        The base class's per-leg validation is suppressed during the
        upsert sub-merge: its frame would omit this batch's deletes, so
        a guard could wrongly fire on a row the batch is deleting.

        Leg order is upserts THEN tombstones: the upsert leg's
        optimistic-concurrency check runs before any tombstone commits,
        so a batch refused with :class:`ConcurrentWriteError` applies
        nothing. The two legs still commit separately — a crash BETWEEN
        them leaves the upserts visible without the deletes (documented
        partial-batch window, the mirror of the swap-vs-clear window);
        replaying the merge window reconverges both.
        """
        from dataplatform_cdc_pipeline_spark.operators.merge_target import (
            resolve_changes,
        )

        self._roll_forward()  # the masked read below must see a whole swap
        self._enforce_changes_schema(changes)
        pk = list(self.cfg.pk)
        n = self.cfg.n_buckets
        s = changes.withColumn(BUCKET_COL, bucket_expr(pk, n))
        s.cache()
        guard = self.validate_staged
        try:
            stats, _affected = self._batch_stats(s)
            if not _affected:
                return stats
            if stats["records_deleted"] and self.audit_composer is not None:
                raise NotImplementedError(
                    "transactional audit requires the snapshot sink; "
                    "the DV delete path has no single publish to attach "
                    "the record to"
                )
            if guard is not None:
                data_cols = [f.name for f in self.schema.fields]
                staged = resolve_changes(
                    self.read(buckets=_affected), s, self.cfg, data_cols
                )
                guard(staged)  # raises → nothing has committed
            if stats["records_inserted"]:
                # derive the upsert leg from the CACHED bucketed frame,
                # not the raw `changes` arg — the sub-merge's own cache
                # materialization would otherwise re-evaluate the whole
                # upstream change pipeline a second time
                upserts = s.filter(F.col("__op") != "d").drop(BUCKET_COL)
                # window stats come from the FULL-set _batch_stats above;
                # the sub-merge's are a projection of the same columns.
                # Validation already ran on the full masked view; suppress
                # the base class's per-leg guard THROUGH the call (not by
                # mutating self.validate_staged, which a concurrent merge
                # on this instance could observe or clobber)
                super().merge(upserts, _skip_validation=True)
                up_buckets = [
                    r[BUCKET_COL]
                    for r in s.filter(F.col("__op") != "d")
                    .select(BUCKET_COL)
                    .distinct()
                    .collect()
                ]
                # the rewrite came from the masked read: those buckets
                # hold no tombstoned rows anymore, and a re-inserted pk
                # MUST lose its mask
                self._clear_dvs(up_buckets)
            if stats["records_deleted"]:
                self._write_dvs(s.filter(F.col("__op") == "d"))
                if (
                    self.auto_fold_max is not None
                    and self.mask_size() > self.auto_fold_max
                ):
                    # fold-on-threshold: one rewrite clears every
                    # tombstone; readers between N small delete batches
                    # never pay more than auto_fold_max mask rows
                    self.compact()
            return stats
        finally:
            s.unpersist()

    def mask_size(self) -> int:
        """Total tombstoned pks across all buckets — the read-tax driver
        (each masked read broadcast-builds this many rows). A metadata-
        cheap count over the kilobyte tombstone files."""
        if not self._dv_files():
            return 0
        return self.deletion_vectors().count()

    # -- maintenance -----------------------------------------------------------

    def compact(self, zorder_by=None, zorder_bits=None) -> int:
        """Full rewrite from the masked read folds every tombstone; the
        files then clear wholesale — compact may RE-BUCKET, which would
        orphan per-bucket tombstones under old bucket ids otherwise."""
        nrows = super().compact(zorder_by=zorder_by, zorder_bits=zorder_bits)
        self._clear_dvs(None)
        return nrows
