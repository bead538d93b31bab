"""M5 — Structured Streaming front-end: ``readStream → foreachBatch(merge)``.

The reference is hand-rolled micro-batching: a persisted watermark table
defines each batch's ``(start, end]`` window (merge.sql:111-115,
step-8:493); the transaction makes a batch atomic. In Spark the natural
mapping (SURVEY.md §2.8, §3.4) is:

- the **streaming checkpoint** supersedes the watermark table — source
  offsets ARE the watermark; each micro-batch is exactly the new window;
- ``foreachBatch`` invokes the SAME batch core (plan build + bucketed
  merge) — one code path for batch and streaming;
- the audit table is still appended per batch for reference parity
  (run ids = UUIDs, counts, status);
- cross-batch event-time dedup (which the reference does NOT do — late
  replays overwrite) is available via ``streaming_dedup_within_watermark``
  as the stricter opt-in.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataplatform_cdc_pipeline_spark.config import MergeConfig
from dataplatform_cdc_pipeline_spark.engine import run_merge
from dataplatform_cdc_pipeline_spark.operators.merge_target import ParquetMergeTarget
from dataplatform_cdc_pipeline_spark.operators.watermark import WatermarkStore
from dataplatform_cdc_pipeline_spark.plans.merge_plan import build_changes, window_scan
from dataplatform_cdc_pipeline_spark.sources.cdc import BRONZE_SCHEMA
from dataplatform_cdc_pipeline_spark.streaming import drain_batches


def run_streaming_merge(
    spark: SparkSession,
    cfg: MergeConfig,
    target: ParquetMergeTarget,
    audit: WatermarkStore,
    source_path: str,
    checkpoint_path: str,
    deterministic_audit: bool = False,
    source_format: str = "parquet",
    transform=None,
):
    """Stream a bronze landing directory into the typed target.

    Each micro-batch runs the full batch core via ``run_merge`` with the
    batch frame as ``raw`` and an unbounded window — the checkpoint already
    scoped the rows. The drain processes all available input, then stops.

    ``source_format``: 'parquet' (a landed bronze table of
    ``BRONZE_SCHEMA`` shape) or 'text' (raw wire payloads, one per line —
    e.g. a Debezium topic dump; the lines arrive as a ``value`` column).
    ``transform``: optional stream→bronze normalizer applied before the
    merge loop (pure-Column transforms compose with streaming frames —
    e.g. ``sources.debezium.normalize_debezium``).
    """

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        run_merge(
            spark,
            cfg,
            target,
            audit,
            raw=batch_df,
            window=(None, None),
            deterministic_audit=deterministic_audit,
        )

    if source_format == "text":
        stream = spark.readStream.text(source_path)
    elif source_format == "parquet":
        stream = spark.readStream.schema(BRONZE_SCHEMA).parquet(source_path)
    else:
        raise ValueError(f"unsupported source_format '{source_format}'")
    if transform is not None:
        stream = transform(stream)
    return drain_batches(stream, process_batch, checkpoint_path)


def streaming_dedup_within_watermark(stream: DataFrame, cfg: MergeConfig) -> DataFrame:
    """Stricter-than-reference cross-batch dedup: drop replayed events for
    the same (pk, ``source_ts_ns_order``) within a 10-minute watermark.

    The reference has no cross-batch state (SURVEY.md §2.8) — this is the
    opt-in upgrade using Spark's built-in state store.
    """
    ts = "source_ts_ns_order"
    return stream.withWatermark(ts, "10 minutes").dropDuplicatesWithinWatermark(
        [*cfg.pk, ts]
    )


# ---------------------------------------------------------------------------
# streaming merge + incrementally-maintained view
# ---------------------------------------------------------------------------

_VIEW_TAG = "__view_batch_id"


def read_tagged_view(spark: SparkSession, view_path: str):
    """(view frame without the tag column, last-maintained batch id) —
    (None, None) ONLY when no view exists yet. Real read errors (corrupt
    or partial state) propagate instead of silently resetting the view
    (fail-loudly, same rule as streaming/sketches._read_state)."""
    if not os.path.exists(view_path):
        return None, None
    df = spark.read.parquet(view_path)
    tag = df.select(F.max(_VIEW_TAG)).collect()[0][0]
    return df.drop(_VIEW_TAG), tag


def run_streaming_merge_with_view(
    spark: SparkSession,
    cfg: MergeConfig,
    target: ParquetMergeTarget,
    audit: WatermarkStore,
    source_path: str,
    checkpoint_path: str,
    view_path: str,
    group_col: str,
    sum_exprs=None,
    deterministic_audit: bool = False,
):
    """Streaming CDC merge that also MAINTAINS a grouped aggregate view
    incrementally — the 100 TB replacement for the reference's
    recompute-downstream-aggregates-per-batch pattern, fused into the
    exactly-once streaming front-end.

    Per micro-batch (via ``run_merge``'s ``pre_merge_hook``, so the view
    sees the exact change set the merge applies, after every engine
    phase): compute the view delta from the pre-merge state
    (``ivm.view_delta_for_merge``), persist the new view TAGGED with the
    batch id, then let the engine run its idempotent merge + audit.

    Crash-window analysis (why the view converges under replay):
    - crash BEFORE the view write: nothing moved; replay recomputes the
      same delta from the untouched pre-merge state.
    - crash AFTER the view write, BEFORE the merge commit: the view
      transiently leads the target; replay sees the batch's tag, skips
      maintenance, and redoes only the (idempotent) merge — consistent at
      batch completion.
    - crash AFTER the merge commit: replay sees the tag and skips
      maintenance; and even WITHOUT the tag the recomputed delta would be
      zero (the changed keys already hold their post-merge rows), so the
      ordering is belt and the idempotence is suspenders.
    """
    from dataplatform_cdc_pipeline_spark.operators.ivm import view_delta_for_merge

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        view, tag = read_tagged_view(spark, view_path)

        def maintain(changes: DataFrame) -> None:
            if tag is not None and tag >= batch_id:
                return  # replayed batch: view already maintained
            new_view = view_delta_for_merge(
                target, changes, view, group_col, sum_exprs
            )  # eagerly checkpointed — safe to overwrite its own input
            new_view.withColumn(_VIEW_TAG, F.lit(batch_id)).write.mode(
                "overwrite"
            ).parquet(view_path)

        run_merge(
            spark,
            cfg,
            target,
            audit,
            raw=batch_df,
            window=(None, None),
            deterministic_audit=deterministic_audit,
            pre_merge_hook=maintain,
        )

    stream = spark.readStream.schema(BRONZE_SCHEMA).parquet(source_path)
    return drain_batches(stream, process_batch, checkpoint_path)


# ---------------------------------------------------------------------------
# streaming SCD Type 2 history
# ---------------------------------------------------------------------------


def run_streaming_scd2(
    spark: SparkSession,
    cfg: MergeConfig,
    target,
    source_path: str,
    checkpoint_path: str,
    schema,
    deterministic_audit: bool = False,
):
    """Stream a bronze landing directory into an SCD2 history sink
    (operators/scd2.Scd2Target): each micro-batch's events append as
    versions, closing what earlier batches left open. Micro-batches are
    naturally in time order (the checkpoint scopes each batch to newly
    landed files), satisfying the sink's in-order contract.

    Exactly-once: the Type-1 streaming merge is replay-IDEMPOTENT, but an
    SCD2 replay would try to re-append versions and trip the in-order
    guard — so the sink keeps a last-applied batch-id tag and SKIPS
    replayed batches. The tag is written after the merge commit; a crash
    in between makes the replay fail LOUDLY on the ordering guard
    (manual repair = rebuild the affected window from bronze) rather
    than silently splicing duplicate versions — the engine's fail-loud
    convention for the one crash window bucket-level commits can't
    cover."""
    from dataplatform_cdc_pipeline_spark.operators.scd2 import build_version_events

    tag_path = os.path.join(target.path, "_stream_batch_id")

    def read_tag() -> int:
        if os.path.isfile(tag_path):
            with open(tag_path) as f:
                return int(f.read().strip() or -1)
        return -1

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= read_tag():
            return  # replayed batch — its versions are already in history
        w = window_scan(batch_df, cfg, None, None)
        target.merge(
            build_version_events(w, schema, cfg, deterministic_audit=deterministic_audit)
        )
        os.makedirs(target.path, exist_ok=True)
        with open(tag_path, "w") as f:
            f.write(str(batch_id))

    stream = spark.readStream.schema(BRONZE_SCHEMA).parquet(source_path)
    return drain_batches(stream, process_batch, checkpoint_path)


def run_streaming_merge_txn(
    spark: SparkSession,
    cfg: MergeConfig,
    target,
    fallback_audit_path: str,
    source_path: str,
    checkpoint_path: str,
    app_id: str,
    deterministic_audit: bool = False,
):
    """Streaming merge with END-TO-END exactly-once: each micro-batch's
    (``app_id``, batch_id) commits INSIDE the snapshot manifest together
    with its data and audit row — Delta's txnAppId/txnVersion protocol
    on this engine's sink.

    The plain ``run_streaming_merge`` is exactly-once only through
    idempotent REPLAY: if the process dies after the merge commit but
    before the checkpoint records the batch, the restart re-merges the
    batch (state converges, but the audit gets a duplicate run row and
    the sink a redundant version). Here the batch id is part of the
    atomic publish, so ``process_batch`` first asks the MANIFEST — not
    the checkpoint — what was committed: a replayed batch whose id is ≤
    the last committed id SKIPS entirely. The crash window disappears;
    no duplicate versions, no duplicate audit rows, bit-identical
    history across any crash/restart point.

    Requires the snapshot sink (the manifest IS the transaction log);
    the ManifestAuditStore constructor enforces that. Batches replay in
    order under availableNow/checkpoint semantics, so a single
    newest-first manifest probe suffices.

    CAVEAT (same as Delta's txnVersion contract): batch ids are only
    meaningful per checkpoint. After TOTAL checkpoint loss, a rebuilt
    batch 0 may bundle already-committed files WITH files that arrived
    after the crash — and the skip would drop the new rows. Recovery
    from checkpoint loss must therefore resume under a NEW ``app_id``
    (re-merging everything; the merge is idempotent) — reusing the old
    id is only safe when no new data landed since the last commit, which
    is what the replay test exercises.
    """
    from dataplatform_cdc_pipeline_spark.operators.txn_audit import (
        ManifestAuditStore,
        last_committed_batch,
    )

    audit = ManifestAuditStore(
        spark, target, fallback_audit_path, deterministic_run_ids=deterministic_audit
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        last = last_committed_batch(target, app_id)
        if last is not None and batch_id <= last:
            return  # replayed batch: its effects are already committed
        audit.stream_txn = {"app_id": app_id, "batch_id": batch_id}
        try:
            run_merge(
                spark,
                cfg,
                target,
                audit,
                raw=batch_df,
                window=(None, None),
                deterministic_audit=deterministic_audit,
            )
        finally:
            audit.stream_txn = None

    stream = spark.readStream.schema(BRONZE_SCHEMA).parquet(source_path)
    return drain_batches(stream, process_batch, checkpoint_path)


# ---------------------------------------------------------------------------
# streaming merge with a dead-letter queue (plans/quarantine.py)
# ---------------------------------------------------------------------------


def run_streaming_merge_dlq(
    spark: SparkSession,
    cfg: MergeConfig,
    target: ParquetMergeTarget,
    dlq_target: ParquetMergeTarget,
    schema,
    source_path: str,
    checkpoint_path: str,
    max_files_per_trigger: int | None = None,
):
    """Streaming front-end of the DLQ merge mode: every micro-batch is
    split by ``quarantine_split`` — clean rows run the normal change
    build + merge, poisoned rows upsert into ``dlq_target`` keyed by
    their source position.

    Unlike the cross-table BATCH transaction (operators/multi_txn.py),
    no 2PC is needed for replay safety here: BOTH legs are idempotent
    upserts (the merge by K1-K4 semantics, the DLQ by ``q_pos``), so a
    crash between the two merges re-runs the batch from the checkpoint
    and converges — the same at-least-once-to-effectively-once argument
    as the plain streaming merge, extended to the quarantine leg.
    ``max_files_per_trigger`` bounds each micro-batch for mtime-ordered
    file-per-batch staging (tests / the gate query)."""
    from dataplatform_cdc_pipeline_spark.plans.quarantine import quarantine_split

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        w = window_scan(batch_df, cfg, None, None)
        clean, quarantined = quarantine_split(w, schema, cfg)
        cq = quarantined.select(
            F.col("__pos").alias("q_pos"),
            F.concat_ws(",", "__qerrors").alias("qerror"),
            "data",
            F.lit(None).cast("timestamp").alias("source_ts_ns_order"),
            F.col("__pos").alias("pos"),
            F.lit("c").alias("__op"),
        )
        target.merge(build_changes(clean, schema, cfg, deterministic_audit=True))
        dlq_target.merge(cq)

    reader = spark.readStream.schema(BRONZE_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_path)
    return drain_batches(stream, process_batch, checkpoint_path)
