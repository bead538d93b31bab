"""K1-K4 — the upsert/delete MERGE sink, emulated over bucketed parquet.

The reference merges with engine-native DML: BigQuery ``MERGE … WHEN MATCHED
UPDATE / WHEN NOT MATCHED INSERT`` (merge.sql:403-418) + a delete MERGE
(merge.sql:428-436); MySQL uses UPDATE-join / INSERT-NOT-EXISTS / DELETE-join
(step-6:431-462). The engine emulates that MERGE over plain parquet, with
one sink family: :class:`ParquetMergeTarget` and its snapshot, deletion-vector
and SCD2 subclasses.

- The target is a parquet directory **hash-partitioned into N buckets on the
  PK** (``__bucket = pmod(xxhash64(pk…), N)``).
- A merge computes the distinct buckets touched by the change set, reads
  ONLY those bucket partitions (partition pruning — the Spark analogue of
  the reference's explicit day-of-year ``PARTITION (pNNN)`` list,
  step-8:352-377), resolves changes with one co-partitioned full-outer
  join, and atomically swaps just the affected bucket directories.

100 TB posture: a change batch touching k of N buckets rewrites k/N of the
table; bucket count scales with table size (pick N so a bucket ≈ 1-4 GB).
Both sides of the resolve join are hash-distributed on the same PK, so AQE
plans a shuffle that only moves the (small) change set when the bucket side
is large.
"""

from __future__ import annotations

import json
import logging
import os
import shutil
import uuid

logger = logging.getLogger("dataplatform_cdc_pipeline_spark.merge_target")

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataplatform_cdc_pipeline_spark.config import MergeConfig

class ConcurrentWriteError(RuntimeError):
    """Another writer committed between this merge's read and its commit —
    the parquet emulation of Delta's optimistic-concurrency conflict
    (``ConcurrentAppendException``). The losing merge leaves the target
    exactly as the winner committed it; replay the window to reconverge.
    """


class SchemaEnforcementError(TypeError):
    """The change set's columns don't line up with the target schema —
    missing target columns or a differently-typed existing column. The
    parquet emulation of Delta's merge-time schema enforcement: a silent
    cast/drop here would corrupt the table for every later reader."""


BUCKET_COL = "__bucket"
#: second-level partition directory when cfg.partition_field is set:
#: the DATE of the configured column (bq_partition_field /
#: mysql_partition_field, config-file_5.sql:12 — the reference carries the
#: field for the target's date-partitioned layout; this is that layout).
PDATE_COL = "__pdate"


def augment_schema(schema: T.StructType) -> T.StructType:
    """Target schema = typed columns + injected audit columns (P18):
    ``source_ts_ns_order`` (event-time survivorship order) and ``pos``
    (source position tiebreak)."""
    names = {f.name for f in schema.fields}
    fields = list(schema.fields)
    if "source_ts_ns_order" not in names:
        fields.append(T.StructField("source_ts_ns_order", T.TimestampType()))
    if "pos" not in names:
        fields.append(T.StructField("pos", T.LongType()))
    return T.StructType(fields)


def bucket_expr(pk_cols: list[str], n_buckets: int):
    """Deterministic PK → bucket id. xxhash64 is JVM-native and stable."""
    return F.pmod(F.xxhash64(*[F.col(c) for c in pk_cols]), F.lit(n_buckets)).cast("int")


def resolve_changes(
    target_rows: DataFrame, changes: DataFrame, cfg: MergeConfig, data_cols: list[str]
) -> DataFrame:
    """Post-merge rows: full-outer resolve of current target rows against a
    deduped change set, expressing the K1-K4 clauses as ONE selection.

    This is the single source of truth for the merge predicate — used by
    ``ParquetMergeTarget.merge`` (over the affected buckets) AND by the
    IVM delta computation (over the changed-key rows only), so view
    maintenance can never drift from what the merge actually applies,
    including under ``update_only_op_u`` / ``strict_ts_guard``.

    Semantics (merge.sql:403-436; step-6:431-462):
    - matched delete → row dropped; unmatched delete → no-op;
    - matched non-delete → source row, unless a gate blocks it (then the
      target row is KEPT unchanged);
    - unmatched non-delete → source row inserted;
    - unmatched target rows pass through untouched.
    """
    # Join strategy: hint shuffled-hash with the CHANGE SET as build side —
    # a full-outer SHJ (supported since Spark 3.1) replaces the
    # SortMergeJoin's two per-partition sorts with one hash build over the
    # bounded batch. The change set is one deduped batch (bounded per run)
    # while the target side is the table — at any scale the batch is the
    # side to build. Measured on the sf0.1 resolve (OPTIMIZATION_r12.md):
    # 0.29 s → 0.22 s warm, SortMergeJoin → ShuffledHashJoin with both Sort
    # nodes gone. To re-time the merge layer (time, jobs, stages, tasks):
    # python3 perfbench/run.py --workload cdc_trickle --seed 1 --seconds 8 --trace 1
    t = target_rows.withColumn("__t_present", F.lit(True)).alias("t")
    s_a = changes.hint("shuffle_hash").alias("s")
    cond = None
    for c in cfg.pk:
        # null-safe: a null-valued PK upserts its own slot (contract-tested)
        eq = s_a[c].eqNullSafe(t[c])
        cond = eq if cond is None else (cond & eq)
    j = s_a.join(t, cond, "full_outer")

    s_present = F.col("s.__op").isNotNull()  # __op is non-null on every change row
    t_present = F.col("t.__t_present").isNotNull()
    is_del = s_present & (F.col("s.__op") == "d")

    take_s = s_present & ~is_del
    if cfg.update_only_op_u:
        # matched 'c' rows do not update the target (step-6:431-438);
        # unmatched rows still insert (step-6:441-451).
        take_s = take_s & (~t_present | (F.col("s.__op") == "u"))
    if cfg.strict_ts_guard:
        take_s = take_s & (
            ~t_present
            | F.col("s.source_ts_ns_order").isNull()
            | (F.col("s.source_ts_ns_order") >= F.col("t.source_ts_ns_order"))
        )

    if cfg.soft_delete:
        # matched delete → tombstone: keep the target's last known values,
        # set the flag, advance ts/pos to the DELETE event's (the row's
        # state changed at that instant). Unmatched deletes stay no-ops;
        # any take_s row (including a re-insert over a tombstone) clears
        # the flag; untouched target rows keep theirs.
        tombstone = is_del & t_present
        flag = (
            F.when(tombstone, F.lit(True))
            .when(take_s, F.lit(False))
            .otherwise(F.coalesce(t["__is_deleted"], F.lit(False)))
        )
        take_seq = take_s | tombstone  # ts/pos follow the winning event
        cols = []
        for c in data_cols:
            if c == "__is_deleted":
                cols.append(flag.alias(c))
            elif c in ("source_ts_ns_order", "pos"):
                cols.append(F.when(take_seq, s_a[c]).otherwise(t[c]).alias(c))
            else:
                cols.append(F.when(take_s, s_a[c]).otherwise(t[c]).alias(c))
        return j.filter(~(is_del & ~t_present)).select(*cols)

    return (
        # matched deletes drop the target row; unmatched deletes are
        # no-ops — both vanish with one filter (merge.sql:428-436).
        j.filter(~is_del)
        .select(*[F.when(take_s, s_a[c]).otherwise(t[c]).alias(c) for c in data_cols])
    )


class ParquetMergeTarget:
    """A mutable typed 'silver' table backed by bucketed parquet (K1-K4).

    The engine's one merge sink; the snapshot, deletion-vector and SCD2
    sinks subclass it. ``tests/test_merge_target_contract.py`` runs the
    contract below against this class and the snapshot and deletion-vector
    sinks, under each storage layout:

    - ``merge(changes)`` takes a DEDUPED change set (one row per PK)
      carrying the target data columns plus ``__op`` ('c'/'u'/'d') and
      optionally ``__load_ts``;
    - ``__op != 'd'`` → matched rows update all columns, unmatched rows
      insert (merge.sql:403-418);
    - ``__op = 'd'`` → matched rows are deleted; unmatched deletes are
      no-ops (merge.sql:428-436);
    - ``cfg.update_only_op_u`` → only ``__op='u'`` updates matched rows; a
      matched 'c' leaves the target row untouched; inserts unaffected
      (step-6:431-451);
    - ``cfg.strict_ts_guard`` → updates additionally require
      ``source.source_ts_ns_order >= target.source_ts_ns_order`` (null
      source ts passes); deletes are unconditional;
    - the returned stats dict reports the candidate counts
      ``records_inserted`` / ``records_deleted`` and, when ``__load_ts`` is
      present, the processed window ``cdc_start_ts`` / ``cdc_end_ts``
      (merge.sql:360-366 — counts feed the audit row, the window feeds the
      watermark);
    - ``pending_commit()`` is None on a cleanly-committed target and the
      commit manifest after a crash mid-swap.
    """

    def __init__(self, spark: SparkSession, path: str, cfg: MergeConfig, schema: T.StructType):
        self.spark = spark
        # normalized once: a trailing-slash path would otherwise stage to
        # '<path>/.staging-…' INSIDE the target (a dot-dir readers skip but
        # vacuum()'s sibling '<base>.staging-*' scan never matches)
        self.path = path.rstrip("/") or path
        self.cfg = cfg
        self.schema = augment_schema(schema)
        if cfg.soft_delete and "__is_deleted" not in {
            f.name for f in self.schema.fields
        }:
            self.schema = T.StructType(
                list(self.schema.fields)
                + [T.StructField("__is_deleted", T.BooleanType())]
            )
        names = {f.name for f in self.schema.fields}
        if cfg.partition_field and cfg.partition_field not in names:
            raise ValueError(
                f"partition_field '{cfg.partition_field}' is not a target column"
            )
        bad = [c for c in cfg.clustering_fields if c not in names]
        if bad:
            raise ValueError(f"clustering_fields {bad} are not target columns")
        #: test/ops seam: called after the staged write, before the
        #: version check + swap (e.g. to snapshot, or — in the contract
        #: suite — to interleave a conflicting writer deterministically).
        self.pre_commit_hook = None
        #: transactional-audit seam (operators/txn_audit.py): when set,
        #: merge() calls it with the batch stats and the returned record
        #: must commit ATOMICALLY with the data. Only the snapshot sink
        #: can honor that; this class's _commit fails loudly if asked.
        self.audit_composer = None
        self._txn_payload: dict | None = None
        #: write-audit-publish seam (operators/dq.expectations_guard):
        #: called with the RESOLVED post-merge frame (affected buckets)
        #: before anything commits — raise to refuse the batch. The
        #: engine's FAILED-audit path then records the refusal and the
        #: target is untouched: a bad batch can never become visible.
        self.validate_staged = None

    # -- schema management -----------------------------------------------------

    def evolve_schema(self, new_fields: list[T.StructField]) -> None:
        """Add nullable columns to the target schema (ALTER TABLE ADD
        COLUMN). Existing files are untouched: reads fill the new columns
        with NULL (the scan's requested schema is authoritative), and the
        next merge writes them for the buckets it rewrites."""
        names = {f.name for f in self.schema.fields}
        dup = [f.name for f in new_fields if f.name in names]
        if dup:
            raise ValueError(f"evolve_schema: columns already exist: {dup}")
        self.schema = T.StructType(self.schema.fields + list(new_fields))

    def _enforce_changes_schema(self, changes: DataFrame) -> DataFrame:
        """Delta-style merge-time schema checks (emulated):

        - every target column must be present in the change set (the merge
          updates/inserts ALL columns — a missing one would silently null
          out data);
        - a present column must carry exactly the declared type (no silent
          casts; ANSI would make some casts throw mid-write, after the
          staging job already burned cluster time);
        - EXTRA non-envelope columns follow ``cfg.schema_drift_policy``:
          ignore → dropped (projection does it), fail → SchemaDriftError,
          evolve → added to the target schema with the change set's own
          (already typed) column type.
        """
        change_types = {f.name: f for f in changes.schema.fields}
        missing = [f.name for f in self.schema.fields if f.name not in change_types]
        if missing:
            raise SchemaEnforcementError(
                f"change set is missing target columns {missing} "
                f"(target {self.path})"
            )
        mismatched = [
            (f.name, str(change_types[f.name].dataType), str(f.dataType))
            for f in self.schema.fields
            if change_types[f.name].dataType != f.dataType
        ]
        if mismatched:
            raise SchemaEnforcementError(
                "change-set column types diverge from the target schema "
                f"(col, got, want): {mismatched}"
            )
        target_names = {f.name for f in self.schema.fields}
        extras = [
            c
            for c in changes.columns
            if c not in target_names and not c.startswith("__")
        ]
        if extras:
            if self.cfg.schema_drift_policy == "fail":
                from dataplatform_cdc_pipeline_spark.operators.schema_drift import (
                    SchemaDriftError,
                )

                raise SchemaDriftError(
                    f"change set carries columns with no target column: {extras}"
                )
            if self.cfg.schema_drift_policy == "evolve":
                self.evolve_schema(
                    [T.StructField(c, change_types[c].dataType, True) for c in extras]
                )
        return changes

    # -- reads ---------------------------------------------------------------

    def exists(self) -> bool:
        return os.path.isdir(self.path) and any(
            e.startswith(f"{BUCKET_COL}=") for e in os.listdir(self.path)
        )

    def _live_buckets(self) -> set[int]:
        """Bucket ids currently holding rows under THIS sink's layout.
        compact()'s swap set must cover every one of them (plus the new
        config's full range) or a re-bucketing compact leaves stale
        buckets alive alongside the rewritten tree. Overridden per sink:
        here the layout IS the directory listing."""
        if not os.path.isdir(self.path):
            return set()
        return {
            int(e.split("=", 1)[1])
            for e in os.listdir(self.path)
            if e.startswith(f"{BUCKET_COL}=")
        }

    def _partition_fields(self) -> list[T.StructField]:
        parts = [T.StructField(BUCKET_COL, T.IntegerType())]
        if self.cfg.partition_field:
            parts.append(T.StructField(PDATE_COL, T.DateType()))
        return parts

    def read(
        self,
        buckets: list[int] | None = None,
        date_range: tuple[str, str] | None = None,
    ) -> DataFrame:
        """Current target state; ``buckets`` restricts to pruned hash
        partitions, ``date_range`` (inclusive 'YYYY-MM-DD' bounds) prunes
        the date layer when ``cfg.partition_field`` is set — both land in
        the scan's PartitionFilters (no data files outside the range are
        opened), the Spark analogue of BigQuery's partition elimination on
        ``bq_partition_field``."""
        if date_range and not self.cfg.partition_field:
            raise ValueError("date_range requires cfg.partition_field")
        if not self.exists():
            return self.spark.createDataFrame([], T.StructType(self.schema.fields))
        df = self.spark.read.schema(
            T.StructType(self.schema.fields + self._partition_fields())
        ).parquet(self.path)
        if buckets is not None:
            df = df.filter(F.col(BUCKET_COL).isin(buckets))
        if date_range is not None:
            lo, hi = date_range
            df = df.filter(
                F.col(PDATE_COL).between(
                    F.lit(lo).cast("date"), F.lit(hi).cast("date")
                )
            )
        return df.drop(BUCKET_COL, PDATE_COL)

    # -- the merge -----------------------------------------------------------

    def merge(
        self, changes: DataFrame, *, _skip_validation: bool = False
    ) -> dict[str, int]:
        """Apply a deduped change set (one row per PK + ``__op``) atomically.

        ``_skip_validation`` is a per-call seam for sinks that already ran
        ``validate_staged`` on a MORE complete view of the batch (the DV
        sink validates the full post-batch masked state up front, then
        delegates the upsert leg here) — threaded through the call rather
        than mutated on the instance, so a concurrent merge on the same
        target never sees its guard clobbered.

        Semantics (reference fidelity by default):
        - ``__op != 'd'`` → WHEN MATCHED UPDATE all cols / WHEN NOT MATCHED
          INSERT (merge.sql:403-418). With ``cfg.update_only_op_u`` only
          ``__op = 'u'`` rows update matched targets (step-6:431-438) — a
          matched 'c' leaves the target row as-is; inserts still apply via
          NOT-EXISTS (step-6:441-451).
        - ``__op = 'd'`` → WHEN MATCHED DELETE (merge.sql:428-436);
          unmatched deletes are no-ops (the `i.pk IS NULL` branch).
        - ``cfg.strict_ts_guard`` adds ``source.ts >= target.ts`` to the
          update clause (the reference has no guard — SURVEY.md §2.8).
        """
        if self.cfg.soft_delete and "__is_deleted" not in changes.columns:
            # change-set builders don't know about the tombstone column;
            # resolve_changes computes the real flag from the ops
            changes = changes.withColumn("__is_deleted", F.lit(False))
        self._enforce_changes_schema(changes)
        pk = list(self.cfg.pk)
        n = self.cfg.n_buckets
        data_cols = [f.name for f in self.schema.fields]
        # optimistic concurrency (Delta's transaction-log conflict check,
        # emulated): remember the committed version this merge reads from;
        # _commit refuses the swap if another writer advanced it since
        v0 = self._read_version()

        pending = self.pending_commit()
        if pending:
            logger.warning(
                "target %s has a commit manifest from a crashed mid-swap commit "
                "(staging=%s, buckets=%s); this merge re-applies the window and "
                "reconverges the target",
                self.path,
                pending.get("staging"),
                pending.get("buckets"),
            )

        s = changes.withColumn(BUCKET_COL, bucket_expr(pk, n))
        s.cache()
        try:
            stats, affected = self._batch_stats(s)
            if not affected:
                return stats

            merged = resolve_changes(
                self.read(buckets=affected), s, self.cfg, data_cols
            ).withColumn(BUCKET_COL, bucket_expr(pk, n))
            if self.cfg.partition_field:
                merged = merged.withColumn(
                    PDATE_COL, F.to_date(F.col(self.cfg.partition_field))
                )
            if not _skip_validation and self.validate_staged is not None:
                # write-audit-publish: validate the post-merge state of
                # the affected buckets BEFORE anything commits
                self.validate_staged(merged)
            if self.audit_composer is not None:
                # transactional audit (operators/txn_audit.py): the record
                # commits WITH the data — sinks that can't honor that must
                # fail loudly in _commit, not drop it
                self._txn_payload = self.audit_composer(stats)
            self._commit(merged, affected, expected_version=v0)
            return stats
        finally:
            s.unpersist()

    def _batch_stats(self, s: DataFrame) -> tuple[dict, list[int]]:
        """ONE agg job over the bucketed change set yields counts +
        affected buckets + window stats (merge.sql:360-366 computes all
        stats from the same view). Shared by every sink built on this
        class (K1-K4 merge, SCD2 history)."""
        aggs = [
            F.count(F.when(F.col("__op") != "d", 1)).alias("ins"),
            F.count(F.when(F.col("__op") == "d", 1)).alias("del"),
            F.collect_set(BUCKET_COL).alias("buckets"),
        ]
        has_load_ts = "__load_ts" in s.columns
        if has_load_ts:
            aggs += [
                F.max("__load_ts").alias("max_lt"),
                F.min("__load_ts").alias("min_lt"),
            ]
        counts = s.agg(*aggs).first()
        affected = sorted(counts["buckets"] or [])
        stats = {"records_inserted": counts["ins"], "records_deleted": counts["del"]}
        if has_load_ts:
            stats["cdc_end_ts"] = counts["max_lt"]
            stats["cdc_start_ts"] = counts["min_lt"]
        return stats, affected

    # -- storage commit ------------------------------------------------------

    MANIFEST = "_commit_manifest.json"
    VERSION = "_commit_version"

    def _read_version(self) -> int:
        """Committed version counter (0 before the first commit). Lives in
        an underscore-prefixed file Spark's parquet scans ignore."""
        p = os.path.join(self.path, self.VERSION)
        if os.path.isfile(p):
            with open(p) as f:
                return int(f.read().strip() or 0)
        return 0

    def _write_version(self, v: int) -> None:
        with open(os.path.join(self.path, self.VERSION), "w") as f:
            f.write(str(v))

    def pending_commit(self) -> dict | None:
        """Manifest left by a commit that crashed mid-swap, else None.

        The watermark only advances on success, so re-running the window
        reconverges the target; the manifest makes the torn state
        *detectable* instead of silent.
        """
        p = os.path.join(self.path, self.MANIFEST)
        if os.path.isfile(p):
            with open(p) as f:
                return json.load(f)
        return None

    def _commit(
        self,
        merged: DataFrame,
        affected: list[int],
        expected_version: int | None = None,
        sort_exprs: list | None = None,
    ) -> None:
        """Write affected buckets to staging, then swap directories.

        Emulates the reference's transaction (merge.sql:368-457): readers see
        either the old or the new bucket. A commit manifest (staging id +
        affected buckets) is written before the first swap and removed after
        the last, so a mid-swap crash is detectable (``pending_commit``) and
        replayable (the snapshot sink publishes through one manifest link
        instead).

        A pending transactional-audit payload fails loudly here: the
        per-bucket swap has no single publish to attach it to (use the
        snapshot sink, whose manifest commit carries it atomically).

        ``expected_version``: the version the caller read its inputs at;
        if another writer committed since, the swap is REFUSED with
        :class:`ConcurrentWriteError` and the winner's state stands (the
        single-filesystem emulation of Delta's optimistic concurrency —
        check-then-swap is not itself atomic across processes, so this
        detects lost-update races rather than serializing them; run one
        writer per target in production, as the reference's scheduler does).
        """
        if self._txn_payload is not None:
            self._txn_payload = None
            raise NotImplementedError(
                "transactional audit requires the snapshot sink: the bucket-"
                "swap commit is per-bucket, so the audit record cannot be "
                "made atomic with the data here"
            )
        staging = f"{self.path}.staging-{uuid.uuid4().hex[:8]}"
        # repartition to ~one task per affected bucket: without it every
        # shuffle partition writes a sliver of every bucket (#partitions ×
        # #buckets small files — measured 40% slower merges at local[32])
        merged = merged.repartition(max(len(affected), 1), F.col(BUCKET_COL))
        part_cols = [BUCKET_COL] + ([PDATE_COL] if self.cfg.partition_field else [])
        if sort_exprs is not None:
            # maintenance override (compact(zorder_by=...)): sort by the
            # provided expressions (e.g. a Morton key) instead of the
            # linear clustering order; expressions are ordering artifacts,
            # never written as columns
            merged = merged.sortWithinPartitions(*part_cols, *sort_exprs)
        elif self.cfg.clustering_fields:
            # bq_clustering_field analogue: rows sorted by the clustering
            # columns inside each (bucket[, date]) file → narrow parquet
            # row-group min/max stats → scans filtered on these columns
            # skip row groups. Sort keys lead with the partition dirs so
            # each output file is internally clustering-sorted.
            merged = merged.sortWithinPartitions(
                *part_cols, *[F.col(c) for c in self.cfg.clustering_fields]
            )
        try:
            merged.write.mode("overwrite").partitionBy(*part_cols).parquet(staging)
        except BaseException:
            # a failed staging write leaves a partial, never-referenced
            # tree — reclaim it now instead of waiting for vacuum()
            shutil.rmtree(staging, ignore_errors=True)
            raise
        try:
            if self.pre_commit_hook is not None:
                self.pre_commit_hook()
            if expected_version is not None and self._read_version() != expected_version:
                raise ConcurrentWriteError(
                    f"target {self.path} advanced from version {expected_version} "
                    f"to {self._read_version()} since this merge read it; "
                    "replay the window against the new state"
                )
            os.makedirs(self.path, exist_ok=True)
            manifest = os.path.join(self.path, self.MANIFEST)
            with open(manifest, "w") as f:
                json.dump({"staging": staging, "buckets": affected}, f)
            for b in affected:
                src = os.path.join(staging, f"{BUCKET_COL}={b}")
                dst = os.path.join(self.path, f"{BUCKET_COL}={b}")
                if os.path.isdir(dst):
                    shutil.rmtree(dst)
                if os.path.isdir(src):
                    shutil.move(src, dst)
                # else: bucket emptied by deletes — old dir already removed
            self._write_version(self._read_version() + 1)
            os.remove(manifest)  # swap complete — commit is clean
        finally:
            shutil.rmtree(staging, ignore_errors=True)

    # -- maintenance ---------------------------------------------------------

    def compact(
        self, zorder_by: tuple[str, ...] | None = None, zorder_bits: int | None = None
    ) -> int:
        """OPTIMIZE-style maintenance: rewrite the whole target through the
        normal staged-commit path, which lays out ONE file per
        (bucket[, date]) partition (``_commit`` runs one task per bucket)
        and re-applies the clustering sort (a compact is also a re-cluster,
        as in BigQuery).

        ``zorder_by``: numeric target columns to MULTI-DIMENSIONALLY
        cluster instead of the linear ``clustering_fields`` order —
        ``OPTIMIZE ... ZORDER BY`` (operators/zorder.py): rows sort by a
        Morton interleave of per-column quantile bins, so filtered scans
        on ANY listed column (not just the leading one) skip row groups.

        Its main production job is RE-BUCKETING: bucket count scales with
        table size (pick N so a bucket ≈ 1-4 GB), so a growing table
        periodically reconstructs the target with a larger ``cfg.n_buckets``
        — and an over-bucketed small table (N tiny files) shrinks back.
        ``compact()`` redistributes every row under the CURRENT config's
        bucket function; subsequent bucket-pruned reads/merges use the same
        function and stay consistent. Returns rows rewritten. Readers keep
        bucket-level atomicity: each directory is swapped whole,
        crash-detectable via the same commit manifest.
        """
        if not self.exists():
            return 0
        v0 = self._read_version()
        current = self.read()
        n = current.count()
        # swap set = live old layout ∪ every possible new bucket id: when
        # re-bucketing, a staged bucket with no same-id predecessor must
        # still be moved in (and an emptied old bucket retired) — covering
        # range(n_buckets) costs only no-op loop iterations. Live-bucket
        # discovery is a per-sink hook: the swap sink lists directories,
        # the snapshot sink asks its manifest — deriving it from listdir
        # here would miss a shrinking re-bucket's high manifest entries
        # (old ids ≥ new N would carry forward as duplicates).
        all_buckets = sorted(self._live_buckets() | set(range(self.cfg.n_buckets)))
        merged = current.withColumn(BUCKET_COL, bucket_expr(list(self.cfg.pk), self.cfg.n_buckets))
        if self.cfg.partition_field:
            merged = merged.withColumn(
                PDATE_COL, F.to_date(F.col(self.cfg.partition_field))
            )
        # localCheckpoint BEFORE the swap: the rewrite reads the very
        # directories the commit replaces (eager materialization, not
        # persist — invariant 11)
        merged = merged.localCheckpoint(eager=True)
        sort_exprs = None
        if zorder_by:
            from dataplatform_cdc_pipeline_spark.operators.zorder import (
                DEFAULT_BITS,
                zorder_sort_exprs,
            )

            names = {f.name for f in self.schema.fields}
            bad = [c for c in zorder_by if c not in names]
            if bad:
                raise ValueError(f"zorder_by {bad} are not target columns")
            sort_exprs = zorder_sort_exprs(
                merged, list(zorder_by), zorder_bits or DEFAULT_BITS
            )
        self._commit(merged, all_buckets, expected_version=v0, sort_exprs=sort_exprs)
        return n

    def erase_rows(self, predicate) -> int:
        """Hard-delete rows matching ``predicate`` OUTSIDE the CDC flow —
        the compliance/retention primitive (GDPR erasure, data-retention
        sweeps) the reference has no equivalent for (its deletes only
        arrive as CDC 'd' events; a regulator's deadline doesn't).

        Bucket-pruned like a merge: one aggregate finds the buckets that
        actually hold matches (≤ n_buckets ints to the driver), only
        those rewrite through the ordinary staged commit — unaffected
        buckets are untouched, concurrency and crash semantics are the
        commit path's own. Returns the number of rows erased.

        Snapshot-sink caveat (documented, tested): erasure creates a NEW
        version; prior versions still contain the rows until
        ``vacuum(retain_last=1)`` expires them — compliance erasure there
        is erase_rows + vacuum, and time travel across the erasure is
        deliberately destroyed. Tags pinning old versions must be
        deleted first or vacuum will (correctly) refuse to reclaim them.
        """
        pk = list(self.cfg.pk)
        n = self.cfg.n_buckets
        v0 = self._read_version()
        # NULL-safe predicate handling: under SQL three-valued logic a
        # NULL-valued predicate row would be dropped by BOTH
        # filter(predicate) (not counted) and filter(~predicate) (not
        # kept) — i.e. silently erased without being counted, and only
        # in buckets that also hold a true-predicate row. For a
        # compliance primitive that is silent data loss, so NULL is
        # pinned to False: NULL-predicate rows are deterministically
        # RETAINED and never counted.
        pred = F.coalesce(predicate, F.lit(False))
        cur = self.read().withColumn(BUCKET_COL, bucket_expr(pk, n))
        stats = cur.filter(pred).agg(
            F.count(F.lit(1)).alias("n"), F.collect_set(BUCKET_COL).alias("buckets")
        ).first()
        n_erased, affected = stats["n"], sorted(stats["buckets"] or [])
        if not affected:
            return 0
        kept = (
            self.read(buckets=affected)
            .filter(~pred)
            .withColumn(BUCKET_COL, bucket_expr(pk, n))
        )
        if self.cfg.partition_field:
            kept = kept.withColumn(
                PDATE_COL, F.to_date(F.col(self.cfg.partition_field))
            )
        # the rewrite must not observe its own commit's directory swap
        kept = kept.localCheckpoint(eager=True)
        self._commit(kept, affected, expected_version=v0)
        return n_erased

    def vacuum(self) -> list[str]:
        """Remove orphaned staging directories left by crashed commits.

        A crash AFTER the staged write but BEFORE/DURING the swap leaves
        ``<path>.staging-*`` trees (the finally-cleanup never ran). They
        are invisible to readers (outside the target directory) but hold
        disk; any staging dir named by a live commit manifest is kept (the
        manifest is evidence the swap may still be replayed/diagnosed).
        Returns the removed paths.
        """
        pending = self.pending_commit()
        keep = {pending["staging"]} if pending else set()
        parent, base = os.path.split(self.path.rstrip("/"))
        removed = []
        for e in os.listdir(parent or "."):
            full = os.path.join(parent, e)
            if e.startswith(f"{base}.staging-") and full not in keep and os.path.isdir(full):
                shutil.rmtree(full, ignore_errors=True)
                removed.append(full)
        return removed
