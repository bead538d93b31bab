"""Incremental view maintenance (IVM) over CDC merges.

The reference recomputes downstream aggregates from the silver table after
each merge; at 100 TB a grouped aggregate should instead be MAINTAINED
from the change set — classic delta-based IVM for abelian-group
aggregates (COUNT, SUM, signed counts):

    new_view(g) = old_view(g)
                − contrib(old target rows for changed keys in group g)
                + contrib(post-merge rows for changed keys in group g)

Both correction terms are computed from the (small) change batch and the
(pruned) pre-merge state of the affected keys — never from a full table
scan. The post-merge contribution is derived with the merge's OWN resolve
predicate (:func:`~dataplatform_cdc_pipeline_spark.operators.merge_target.
resolve_changes`), so gated semantics — ``update_only_op_u`` /
``strict_ts_guard``, where a blocked change keeps the OLD row — maintain
exactly as the merge applies them; the view cannot drift from the sink.

SUM columns: pass exact-additive expressions (integer micros à la
``floor(value·1e6)``, or DECIMAL) — float sums are not associative and
would make the maintained total partition-order-dependent. The view always
carries the group count ``n``; a group leaves the view when n reaches 0,
and sums are COALESCE(SUM, 0) by definition (maintenance arithmetic cannot
distinguish 'no non-null contributions' from 'contributions cancel to 0').

Scale shape: one bucket-pruned, semi-joined read of the affected keys,
two tiny group-by-G aggs, one full-outer merge of (≤|G|)-row
frames. The maintained view never rescans the target.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def group_contribs(
    rows: DataFrame,
    group_col: str,
    sum_exprs: dict[str, Column] | None = None,
    count_col: str = "n",
) -> DataFrame:
    """(group, n[, sums…]) of a row frame — also the view bootstrap.

    ``sum_exprs`` maps output column name → the per-row additive
    contribution (evaluated against ``rows``); each group's value is the
    COALESCE'd sum of contributions (0 when all contributions are null).
    """
    sum_exprs = sum_exprs or {}
    aggs = [F.count(F.lit(1)).alias(count_col)] + [
        F.coalesce(F.sum(e), F.lit(0)).alias(name) for name, e in sum_exprs.items()
    ]
    return rows.groupBy(group_col).agg(*aggs)


def _outer_on_group(left: DataFrame, right: DataFrame, group_col: str, la: str, ra: str):
    """Full-outer join keyed NULL-SAFELY on the group column (a NULL
    group is a real GROUP BY group — plain equality would split its view
    row and its delta row into two disconnected rows and corrupt the
    arithmetic), with the key coalesced back to one column."""
    cond = F.col(f"{la}.{group_col}").eqNullSafe(F.col(f"{ra}.{group_col}"))
    joined = left.alias(la).join(right.alias(ra), cond, "full_outer")
    key = F.coalesce(
        F.col(f"{la}.{group_col}"), F.col(f"{ra}.{group_col}")
    ).alias(group_col)
    return joined, key


def apply_view_delta(
    view: DataFrame,
    removed: DataFrame,
    added: DataFrame,
    group_col: str,
    sum_exprs: dict[str, Column] | None = None,
    count_col: str = "n",
) -> DataFrame:
    """view − contrib(removed) + contrib(added), per group; groups whose
    count reaches 0 drop out, so the view matches a fresh GROUP BY exactly
    — including a NULL group (groupBy aggregates NULL keys into a real
    group, so the maintenance joins must match them null-safely).
    """
    sum_exprs = sum_exprs or {}
    val_cols = [count_col] + list(sum_exprs)
    rem = group_contribs(removed, group_col, sum_exprs, count_col)
    add = group_contribs(added, group_col, sum_exprs, count_col)
    j, key = _outer_on_group(rem, add, group_col, "r", "a")
    delta = j.select(
        key,
        *[
            (
                F.coalesce(f"a.{c}", F.lit(0)) - F.coalesce(f"r.{c}", F.lit(0))
            ).alias(c)
            for c in val_cols
        ],
    )
    j2, key2 = _outer_on_group(view, delta, group_col, "v", "d")
    return (
        j2.select(
            key2,
            *[
                (F.coalesce(f"v.{c}", F.lit(0)) + F.coalesce(f"d.{c}", F.lit(0))).alias(c)
                for c in val_cols
            ],
        )
        .filter(F.col(count_col) != 0)
    )


def _changed_key_rows(target, changes: DataFrame) -> DataFrame:
    """Pre-merge target rows for the change set's keys, read bucket-pruned
    (every sink's ``read`` takes a ``buckets`` list). The semi-join matches
    PKs null-safely — the same condition ``merge()`` resolves with, so a
    matched update/delete on a null-PK row is never dropped from the
    subtraction term.
    """
    from dataplatform_cdc_pipeline_spark.operators.merge_target import bucket_expr

    pk = list(target.cfg.pk)
    keys = changes.select(*pk).distinct()
    buckets = [
        r["b"]
        for r in keys.select(bucket_expr(pk, target.cfg.n_buckets).alias("b"))
        .distinct()
        .collect()
    ]
    t, k = target.read(buckets=buckets).alias("t"), keys.alias("k")
    cond = None
    for c in pk:
        eq = t[c].eqNullSafe(k[c])
        cond = eq if cond is None else (cond & eq)
    return t.join(k, cond, "left_semi")


def maintain_view_through_merge(
    target,
    changes: DataFrame,
    view: DataFrame | None,
    group_col: str,
    sum_exprs: dict[str, Column] | None = None,
    count_col: str = "n",
) -> tuple[DataFrame, dict]:
    """Run ``target.merge(changes)`` while maintaining a grouped
    (count [+ abelian sums]) view from the delta; returns (new_view,
    merge_stats).

    ``changes``: deduped change set (build_changes output). The pre-merge
    contribution of the changed keys is read pruned BEFORE the merge; the
    post-merge contribution is computed with the merge's own resolve
    predicate (``resolve_changes``) over exactly those rows, so gated
    merge modes (``update_only_op_u`` / ``strict_ts_guard``) maintain
    correctly: a blocked change contributes its OLD row to both terms and
    nets to zero. Works against every
    :class:`~dataplatform_cdc_pipeline_spark.operators.merge_target.ParquetMergeTarget`
    sink; the bootstrap view is derived from ``target.read()`` (typed empty
    frame when the target does not exist yet), never from a hardcoded
    schema.
    """
    new_view = view_delta_for_merge(
        target, changes, view, group_col, sum_exprs, count_col
    )
    stats = target.merge(changes)
    return new_view, stats


def view_delta_for_merge(
    target,
    changes: DataFrame,
    view: DataFrame | None,
    group_col: str,
    sum_exprs: dict[str, Column] | None = None,
    count_col: str = "n",
) -> DataFrame:
    """The maintenance half of :func:`maintain_view_through_merge`: the
    post-merge view, MATERIALIZED (eager localCheckpoint) without running
    the merge. Callers that need to order the view write BEFORE the merge
    commit (the streaming exactly-once recipe in
    ``streaming/stream_merge.py``) use this directly, then invoke
    ``target.merge(changes)`` themselves.

    Replay safety: recomputing this AFTER the merge has already applied
    ``changes`` yields a zero delta (``old`` and the resolve output
    coincide), so a retried batch cannot double-maintain — the same
    reason the merge itself replays idempotently.
    """
    from dataplatform_cdc_pipeline_spark.operators.merge_target import resolve_changes

    data_cols = [f.name for f in target.schema.fields]
    if group_col not in data_cols:
        raise ValueError(f"group_col '{group_col}' is not a target column")
    if view is None:
        # target.read() returns a correctly-typed empty frame pre-creation,
        # so the bootstrap inherits the real group/sum column types
        view = group_contribs(target.read(), group_col, sum_exprs, count_col)
    old = _changed_key_rows(target, changes)
    new = resolve_changes(old, changes, target.cfg, data_cols)
    # evaluate the view delta BEFORE the merge mutates the storage the
    # pruned read is lazily reading from (eager checkpoint, not persist —
    # invariant 11)
    return apply_view_delta(
        view, old, new, group_col, sum_exprs, count_col
    ).localCheckpoint(eager=True)


def minmax_view_delta_for_merge(
    target,
    changes: DataFrame,
    view: DataFrame | None,
    group_col: str,
    val_col: str,
    count_col: str = "n",
) -> DataFrame:
    """MIN/MAX view maintenance — the NON-invertible aggregates, via
    endangered-group bounded recompute.

    MIN/MAX have no subtraction: removing the row that HOLDS a group's
    extreme forces a look at the group's surviving rows. The standard IVM
    answer (same as SQL Server's indexed-view restriction and Materialize's
    ReduceMinMax plan) splits groups into:

    - **safe**: no removed contribution ties the current extreme — the new
      extreme is ``least(old_min, min(added))`` / ``greatest(old_max,
      max(added))``, pure arithmetic on the (≤|G|)-row frames;
    - **endangered**: some removed row's value equals the group's current
      extreme (or the group is being emptied) — ONLY these groups rescan
      their surviving rows: target filtered to the endangered groups,
      changed keys anti-joined out (null-safe, the merge's own match
      condition), resolved new rows unioned in.

    The rescan is the inherent price of non-invertibility, and it is
    bounded by the touched groups, not the table; at scale it leans on a
    group-clustered layout (``clustering_fields``/``compact(zorder_by=…)``)
    so the group filter skips row groups. All terms are computed pre-merge
    (replay-safe for the same reason as the abelian path: after the merge
    has applied ``changes``, removed and added contributions coincide and
    every group is either untouched or recomputes to its current state).

    View schema: (group, n, min_v, max_v); NULL values ignore into the
    extremes as in plain MIN/MAX (a group of all-NULL values carries NULL
    extremes but a live count).
    """
    from dataplatform_cdc_pipeline_spark.operators.merge_target import resolve_changes

    data_cols = [f.name for f in target.schema.fields]
    for c in (group_col, val_col):
        if c not in data_cols:
            raise ValueError(f"'{c}' is not a target column")
    val = F.col(val_col)
    if view is None:
        view = target.read().groupBy(group_col).agg(
            F.count(F.lit(1)).alias(count_col),
            F.min(val).alias("min_v"),
            F.max(val).alias("max_v"),
        )
    # old/new feed several downstream branches (extremes, endangered
    # analysis, rescan union); eager-checkpoint them once so the change
    # lineage and the pruned read don't re-execute per branch — and, as
    # everywhere in this module, so every term is materialized BEFORE the
    # merge mutates the directories the reads lazily reference
    old = _changed_key_rows(target, changes).localCheckpoint(eager=True)
    new = resolve_changes(old, changes, target.cfg, data_cols).localCheckpoint(eager=True)

    def ext(rows, prefix):
        return rows.groupBy(group_col).agg(
            F.count(F.lit(1)).alias(f"{prefix}_n"),
            F.min(val).alias(f"{prefix}_min"),
            F.max(val).alias(f"{prefix}_max"),
        )

    rem, add = ext(old, "r"), ext(new, "a")
    # null-safe group joins throughout: a NULL group is a real GROUP BY
    # group and must line its view/removed/added rows up (same invariant
    # as apply_view_delta)
    j1, key1 = _outer_on_group(view, rem, group_col, "v", "r")
    vr = j1.select(key1, F.col(count_col), "min_v", "max_v", "r_n", "r_min", "r_max")
    j2, key2 = _outer_on_group(vr, add, group_col, "t", "a")
    merged = (
        j2
        .select(
            key2,
            (
                F.coalesce(F.col(count_col), F.lit(0))
                - F.coalesce("r_n", F.lit(0))
                + F.coalesce("a_n", F.lit(0))
            ).alias(count_col),
            F.col("min_v"),
            F.col("max_v"),
            "r_min",
            "r_max",
            "a_min",
            "a_max",
            # endangered: a removed value ties the current extreme, or the
            # group was not in the view at all while carrying removals
            # (inconsistent bootstrap — recompute is the safe answer)
            (
                F.col("r_n").isNotNull()
                & (
                    F.col("min_v").isNull()
                    | F.col("r_min").eqNullSafe(F.col("min_v"))
                    | F.col("r_max").eqNullSafe(F.col("max_v"))
                )
            ).alias("__endangered"),
        )
    ).localCheckpoint(eager=True)  # ≤ one row per touched group; feeds 3 branches
    safe = merged.filter(~F.coalesce("__endangered", F.lit(False))).select(
        group_col,
        count_col,
        F.least("min_v", "a_min").alias("min_v"),
        F.greatest("max_v", "a_max").alias("max_v"),
    )
    endangered = merged.filter(F.coalesce("__endangered", F.lit(False))).select(
        group_col, count_col
    )
    pk = list(target.cfg.pk)
    keys = changes.select(*pk).distinct()
    t, k = target.read().alias("t"), keys.alias("k")
    cond = None
    for c in pk:
        eq = t[c].eqNullSafe(k[c])
        cond = eq if cond is None else (cond & eq)
    eg = endangered.select(group_col)
    surviving = (
        t.join(F.broadcast(eg), t[group_col].eqNullSafe(eg[group_col]), "left_semi")
        .join(k, cond, "left_anti")
        .select(group_col, val.alias("__v"))
    )
    contrib = surviving.unionByName(
        new.join(
            F.broadcast(eg), new[group_col].eqNullSafe(eg[group_col]), "left_semi"
        ).select(group_col, val.alias("__v"))
    )
    rec = contrib.groupBy(group_col).agg(
        F.min("__v").alias("min_v"), F.max("__v").alias("max_v")
    )
    recomputed = endangered.join(
        rec, endangered[group_col].eqNullSafe(rec[group_col]), "left"
    ).select(endangered[group_col], endangered[count_col], rec["min_v"], rec["max_v"])
    return (
        safe.unionByName(recomputed)
        .filter(F.col(count_col) != 0)
        .localCheckpoint(eager=True)
    )


def maintain_minmax_through_merge(
    target,
    changes: DataFrame,
    view: DataFrame | None,
    group_col: str,
    val_col: str,
    count_col: str = "n",
) -> tuple[DataFrame, dict]:
    """Run ``target.merge(changes)`` while maintaining a per-group
    (count, min, max) view via :func:`minmax_view_delta_for_merge`."""
    new_view = minmax_view_delta_for_merge(
        target, changes, view, group_col, val_col, count_col
    )
    stats = target.merge(changes)
    return new_view, stats


def maintain_counts_through_merge(
    target,
    changes: DataFrame,
    counts: DataFrame | None,
    group_col: str,
) -> tuple[DataFrame, dict]:
    """COUNT-only convenience wrapper around
    :func:`maintain_view_through_merge` (view columns: group, ``n``)."""
    return maintain_view_through_merge(target, changes, counts, group_col)
