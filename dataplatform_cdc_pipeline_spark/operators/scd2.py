"""SCD Type 2 history sink — every CDC event becomes an immutable
dimension *version* instead of overwriting in place.

The reference pipeline materializes Type-1 state (merge.sql:403-436
keeps only the latest row per PK); the standard warehouse companion is a
Type-2 history table — the thing analysts join facts to "as of" a date
and the lineage a training-data pipeline needs to reconstruct what a
record looked like when a document was snapshotted. Semantics:

- every non-delete event opens a version: ``valid_from`` = its event
  time (the injected ``source_ts_ns_order``), ``pos`` the source
  tiebreak;
- the NEXT event for the key (update or delete) closes it:
  ``__valid_to`` = that event's time; a delete closes the current
  version without opening one;
- ``__is_current`` marks the single open version of a live key (a fully
  deleted key has no current row).

Two layers:

- :func:`scd2_history` — the pure relational derivation over a full
  event batch: one window-function pass (``lead`` over (ts, pos) per
  key), no joins, no state. This is also the DuckDB-oracle shape.
- :class:`Scd2Target` — the incremental sink: bucketed-parquet history
  reusing ParquetMergeTarget's staged-commit machinery (bucket pruning,
  the journaled roll-forward bucket swap, schema drift, compaction). A batch
  touches only the buckets its keys hash to; inside them, open versions
  close and the batch's own mini-history appends.

**In-order contract**: a batch's events must be strictly newer than
everything recorded for their keys — exactly what the engine's
watermark loop guarantees (windows advance monotonically on load_ts,
and this feed's event time rides load_ts). Out-of-order input raises
instead of silently splicing history wrong; a true late-arrival rewrite
is a bucket-pruned rebuild from the bronze log (the same recovery path
as the Type-1 merge: replay the window).

100 TB posture: the derivation is one window function per key — the
same shuffle the dedup already pays, skew-resistant via
WindowGroupLimit-style partial ordering (no per-key state grows beyond
the key's own version count). The incremental path reads/writes only
affected buckets; the ordering guard is one aggregate over frames the
close-join reads anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataplatform_cdc_pipeline_spark.config import MergeConfig
from dataplatform_cdc_pipeline_spark.operators.merge_target import (
    BUCKET_COL,
    PDATE_COL,
    ParquetMergeTarget,
    bucket_expr,
)

SCD_VALID_TO = "__valid_to"
SCD_IS_CURRENT = "__is_current"

TS_COL = "source_ts_ns_order"
POS_COL = "pos"


def build_version_events(
    windowed: DataFrame,
    target_schema: T.StructType,
    cfg: MergeConfig,
    deterministic_audit: bool = False,
) -> DataFrame:
    """Typed change rows for SCD2: the SAME cast projection as
    build_changes (plans/merge_plan.py) but WITHOUT dedup — every event
    in the window is a version candidate, so every row parses its
    payload (inherent to Type 2: history keeps what Type 1 discards)."""
    from dataplatform_cdc_pipeline_spark.functions.envelope import parse_payload
    from dataplatform_cdc_pipeline_spark.plans.cast_rules import typed_projection

    ev = windowed.withColumn("__payload", parse_payload("data"))
    proj = typed_projection(target_schema, cfg, deterministic_audit=deterministic_audit)
    return ev.select(F.col("__op"), F.col(cfg.load_ts_col).alias("__load_ts"), *proj)


def scd2_history(
    events: DataFrame,
    pk: list[str],
    ts_col: str = TS_COL,
    pos_col: str = POS_COL,
    op_col: str = "__op",
) -> DataFrame:
    """Full-batch SCD2 derivation: per key, order events by (ts, pos);
    each non-delete event is a version whose ``__valid_to`` is the next
    event's ts (NULL = still open); deletes emit no row but close their
    predecessor through the same ``lead``. NULL PK values form their own
    key group (Window.partitionBy groups NULLs together — consistent
    with the merge contract's eqNullSafe upserts)."""
    w = Window.partitionBy(*pk).orderBy(F.col(ts_col).asc(), F.col(pos_col).asc())
    out = events.withColumn(SCD_VALID_TO, F.lead(F.col(ts_col)).over(w)).withColumn(
        SCD_IS_CURRENT, F.col(SCD_VALID_TO).isNull()
    )
    return out.filter(F.col(op_col) != "d").drop(op_col)


def _pk_cond(left: DataFrame, right: DataFrame, pk: list[str]):
    cond = None
    for c in pk:
        eq = left[c].eqNullSafe(right[c])
        cond = eq if cond is None else (cond & eq)
    return cond


def apply_scd2_batch(
    history: DataFrame,
    batch: DataFrame,
    pk: list[str],
    hist_cols: list[str],
    ts_col: str = TS_COL,
    pos_col: str = POS_COL,
) -> DataFrame:
    """Incremental SCD2: existing ``history`` rows (this bucket set's
    full history, affected keys or not) + an in-order event ``batch`` →
    the new history for the same rows. Equivalent to rebuilding
    :func:`scd2_history` over the concatenated event stream (pinned by
    tests/test_scd2.py's split-equivalence property) — but touches only
    what the batch touches:

    - per batch key, its FIRST event's ts closes the key's open version
      (update or delete alike);
    - the batch's own events derive their mini-history via
      :func:`scd2_history`;
    - raises on out-of-order input (an event at or before anything
      already recorded for its key) instead of splicing wrong.
    """
    firsts = (
        batch.groupBy(*[F.col(c) for c in pk])
        .agg(
            F.min(
                F.struct(F.col(ts_col).alias("ts"), F.col(pos_col).alias("pos"))
            ).alias("__f")
        )
        .select(*pk, F.col("__f.ts").alias("__close_ts"))
    )

    # ordering guard: the batch's first event must be strictly newer than
    # the key's latest recorded instant (an open row's valid_from or any
    # closed row's valid_to — coalesce covers both).
    h = history.alias("h")
    f_a = firsts.alias("f")
    latest = history.groupBy(*[F.col(c) for c in pk]).agg(
        F.max(F.coalesce(F.col(SCD_VALID_TO), F.col(ts_col))).alias("__latest_ts")
    )
    l_a = latest.alias("l")
    viol = f_a.join(l_a, _pk_cond(f_a, l_a, pk), "inner").filter(
        F.col("__close_ts") <= F.col("__latest_ts")
    )
    bad = viol.select(
        *[f_a[c] for c in pk], "__close_ts", "__latest_ts"
    ).limit(3).collect()
    if bad:
        raise ValueError(
            "scd2: out-of-order batch — events at or before the recorded "
            f"history for their key (first 3): {[tuple(r) for r in bad]}; "
            "replay/rebuild the affected window from bronze instead"
        )

    closed = (
        h.join(f_a, _pk_cond(h, f_a, pk), "left")
        .select(
            *[h[c] for c in hist_cols if c not in (SCD_VALID_TO, SCD_IS_CURRENT)],
            F.when(
                F.col(SCD_IS_CURRENT) & F.col("__close_ts").isNotNull(),
                F.col("__close_ts"),
            )
            .otherwise(h[SCD_VALID_TO])
            .alias(SCD_VALID_TO),
            (F.col(SCD_IS_CURRENT) & F.col("__close_ts").isNull()).alias(
                SCD_IS_CURRENT
            ),
        )
    )
    fresh = scd2_history(batch, pk, ts_col, pos_col).select(*hist_cols)
    return closed.unionByName(fresh)


class Scd2Target(ParquetMergeTarget):
    """Bucketed-parquet SCD2 history table.

    Reuses the whole ParquetMergeTarget storage stack — bucket layout,
    pruned reads, the journaled roll-forward bucket swap, optimistic
    version check, compact()/vacuum(), schema drift policies — and
    replaces the Type-1 resolve with the Type-2 close-and-append. The
    change-set contract differs from :class:`ParquetMergeTarget` in one way:
    batches are NOT deduped (every event is a version) and must be
    in-order per key (see module docstring). The Type-1 gate flags make
    no sense here and are refused at construction."""

    def __init__(self, spark, path, cfg: MergeConfig, schema: T.StructType):
        if cfg.update_only_op_u or cfg.strict_ts_guard:
            raise ValueError(
                "Scd2Target: update_only_op_u/strict_ts_guard are Type-1 "
                "merge gates — SCD2 records every event as a version"
            )
        super().__init__(spark, path, cfg, schema)
        self.schema = T.StructType(
            list(self.schema.fields)
            + [
                T.StructField(SCD_VALID_TO, T.TimestampType()),
                T.StructField(SCD_IS_CURRENT, T.BooleanType()),
            ]
        )

    def _scd_free_schema(self) -> T.StructType:
        return T.StructType(
            [f for f in self.schema.fields if f.name not in (SCD_VALID_TO, SCD_IS_CURRENT)]
        )

    def _enforce_changes_schema(self, changes: DataFrame) -> DataFrame:
        # validate (and drift-evolve) against the BASE columns only — the
        # SCD columns are derived by the sink, never supplied by the feed.
        # The parent mutates self.schema under the evolve policy, so swap
        # the base view in, run it, and re-append the SCD columns.
        scd_fields = [
            f for f in self.schema.fields if f.name in (SCD_VALID_TO, SCD_IS_CURRENT)
        ]
        self.schema = self._scd_free_schema()
        try:
            return super()._enforce_changes_schema(changes)
        finally:
            self.schema = T.StructType(list(self.schema.fields) + scd_fields)

    def merge(self, changes: DataFrame) -> dict[str, int]:
        """Apply one in-order event batch: close affected keys' open
        versions, append the batch's versions — one journaled bucket swap
        touching only the buckets the batch's keys hash to."""
        self._roll_forward()
        self._enforce_changes_schema(changes)
        pk = list(self.cfg.pk)
        n = self.cfg.n_buckets
        hist_cols = [f.name for f in self.schema.fields]
        v0 = self._read_version()
        s = changes.withColumn(BUCKET_COL, bucket_expr(pk, n))
        s.cache()
        try:
            stats, affected = self._batch_stats(s)
            if not affected:
                return stats
            merged = apply_scd2_batch(
                self.read(buckets=affected), s, pk, hist_cols
            ).withColumn(BUCKET_COL, bucket_expr(pk, n))
            if self.cfg.partition_field:
                merged = merged.withColumn(
                    PDATE_COL, F.to_date(F.col(self.cfg.partition_field))
                )
            self._commit(merged, affected, expected_version=v0)
            return stats
        finally:
            s.unpersist()

    def current(self) -> DataFrame:
        """The Type-1 view of the Type-2 table: open versions only."""
        return self.read().filter(F.col(SCD_IS_CURRENT)).drop(
            SCD_VALID_TO, SCD_IS_CURRENT
        )

    def as_of(self, ts) -> DataFrame:
        """Point-in-time view: the version of each key valid AT ``ts``
        (valid_from <= ts < valid_to; open rows have no upper bound) —
        the join target for as-of fact enrichment."""
        t = F.lit(ts).cast("timestamp")
        return self.read().filter(
            (F.col(TS_COL) <= t)
            & (F.col(SCD_VALID_TO).isNull() | (F.col(SCD_VALID_TO) > t))
        )


def point_in_time_join(
    facts: DataFrame,
    history: DataFrame,
    pk: list[str],
    fact_ts_col: str,
    ts_col: str = TS_COL,
    dim_prefix: str = "dim_",
    how: str = "inner",
) -> DataFrame:
    """Temporal enrichment — each fact row joins the dimension VERSION
    valid at the fact's own timestamp (``valid_from <= fact_ts <
    valid_to``; open versions unbounded above). This is the consumer
    operation SCD2 history exists for: training-data backfill joins a
    document to the user/item attributes *as they were* when the event
    happened, not as they are now (point-in-time correctness — the
    feature-store join that prevents label leakage).

    Plan shape (the 100 TB part): the PK equality stays a real join key,
    so Catalyst plans a hash/sort-merge join shuffled on ``pk`` — the
    same partitioning both tables already use — and evaluates the range
    predicate as a join-level filter. NO cross product, NO per-probe
    broadcast (contrast ``Scd2Target.as_of``, which is the single-probe
    special case). Version intervals per key are half-open and
    non-overlapping by construction (scd2_history's lead), so each fact
    matches AT MOST one version; ties at identical timestamps resolve to
    the version whose interval actually covers the instant.

    Dimension value columns come back prefixed with ``dim_`` (pk and
    interval bounds keep their names); fact columns pass through.
    """
    reserved = set(pk) | {ts_col, SCD_VALID_TO, SCD_IS_CURRENT}
    dim = history.select(
        *pk,
        F.col(ts_col),
        F.col(SCD_VALID_TO),
        *[
            F.col(c).alias(f"{dim_prefix}{c}")
            for c in history.columns
            if c not in reserved
        ],
    ).alias("dim")
    f_a = facts.alias("f")
    cond = None
    for c in pk:
        eq = f_a[c].eqNullSafe(dim[c])
        cond = eq if cond is None else (cond & eq)
    cond = (
        cond
        & (F.col(f"dim.{ts_col}") <= f_a[fact_ts_col])
        & (
            F.col(f"dim.{SCD_VALID_TO}").isNull()
            | (F.col(f"dim.{SCD_VALID_TO}") > f_a[fact_ts_col])
        )
    )
    j = f_a.join(dim, cond, how)
    keep = [f_a[c] for c in facts.columns] + [
        F.col(f"dim.{ts_col}").alias(f"{dim_prefix}valid_from"),
        *[
            F.col(f"dim.{dim_prefix}{c}")
            for c in history.columns
            if c not in reserved
        ],
    ]
    return j.select(*keep)


def _snapshot_scd2_class():
    """Build lazily to avoid a module-level import cycle."""
    from dataplatform_cdc_pipeline_spark.operators.snapshot_target import (
        SnapshotMergeTarget,
    )

    class SnapshotScd2Target(Scd2Target, SnapshotMergeTarget):
        """SCD2 history on the TABLE-ATOMIC snapshot sink — pure
        composition, no new code: Scd2Target contributes the
        close-and-append merge, SnapshotMergeTarget the manifest-versioned
        immutable commits. What the mix buys over the swap-sink SCD2:

        - each batch's history lands as ONE atomic manifest link (no
          bucket-level torn states between close and append);
        - ``read(version=N)`` time-travels the HISTORY itself — "what did
          the dimension's version chain look like before batch N+1" (two
          time axes: valid_from/valid_to inside a snapshot, commit
          version across snapshots);
        - zone maps on the clustering columns come along for free.

        MRO check (tests pin behavior): merge ← Scd2Target; read /
        _commit / _read_version / exists / _live_buckets / vacuum ←
        SnapshotMergeTarget; schema enforcement ← Scd2Target's
        base-columns wrapper over ParquetMergeTarget's."""

    return SnapshotScd2Target


def snapshot_scd2_target(spark, path, cfg, schema):
    """Construct a table-atomic, time-travelable SCD2 history sink."""
    return _snapshot_scd2_class()(spark, path, cfg, schema)
