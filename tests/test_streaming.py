"""Streaming front-end tests: foreachBatch merge with checkpointed source."""

import datetime
import json
import tempfile

import pytest

from dataplatform_cdc_pipeline_spark.sources.cdc import BRONZE_SCHEMA
from dataplatform_cdc_pipeline_spark.streaming import run_streaming_merge
from tests.helpers import BASE_NS, pipeline, state


def write_bronze(spark, path, rows):
    data = []
    for op, ts_off_us, pos, uid, value in rows:
        payload = json.dumps(
            {"__op": op, "__ts_ns": str(BASE_NS + ts_off_us * 1000), "__source_pos": str(pos),
             "user_id": uid, "event_type": "t", "value": value, "k": 1}
        )
        data.append(
            (payload, datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=pos),
             datetime.datetime(2024, 1, 1), f"m-{pos}", "demo.t", "sub")
        )
    spark.createDataFrame(data, BRONZE_SCHEMA).coalesce(1).write.mode("append").parquet(path)


def test_streaming_merge_incremental(spark):
    tmp = tempfile.mkdtemp(prefix="cdc_stream_")
    src, ckpt = f"{tmp}/bronze", f"{tmp}/ckpt"
    cfg, target, audit = pipeline(spark, tmpdir=tmp)

    # batch 1
    write_bronze(spark, src, [("c", 1, 1, 1, 1.0), ("c", 2, 2, 2, 2.0)])
    run_streaming_merge(spark, cfg, target, audit, src, ckpt, deterministic_audit=True)
    assert state(target) == [(1, 1.0), (2, 2.0)]

    # batch 2: update + delete land later; checkpoint resumes past batch 1
    write_bronze(spark, src, [("u", 3, 3, 1, 9.0), ("d", 4, 4, 2, 0.0)])
    run_streaming_merge(spark, cfg, target, audit, src, ckpt, deterministic_audit=True)
    assert state(target) == [(1, 9.0)]

    # audit rows appended per micro-batch
    assert audit.history().count() >= 2

    # replaying with the same checkpoint is a no-op (exactly-once)
    run_streaming_merge(spark, cfg, target, audit, src, ckpt, deterministic_audit=True)
    assert state(target) == [(1, 9.0)]


def test_streaming_merge_restart_after_failed_batch(spark, tmp_path, monkeypatch):
    """foreachBatch kill point: a micro-batch dies after the merge publish
    and its SUCCESS audit row but before foreachBatch returns. The
    checkpoint never commits that batch, so the restart replays it; the
    idempotent merge converges on the window's state and the watermark."""
    from pyspark.errors import StreamingQueryException

    from dataplatform_cdc_pipeline_spark.operators.watermark import WatermarkStore

    src, ckpt = str(tmp_path / "bronze"), str(tmp_path / "ckpt")
    cfg, target, audit = pipeline(spark, tmpdir=str(tmp_path))
    seed = [("c", 1, 1, 1, 1.0), ("c", 2, 2, 2, 2.0)]
    window = [("u", 3, 3, 1, 9.0), ("d", 4, 4, 2, 0.0), ("c", 5, 5, 3, 5.0)]
    write_bronze(spark, src, seed)
    run_streaming_merge(spark, cfg, target, audit, src, ckpt, deterministic_audit=True)

    # latest event per key by (ts, pos), deletes dropped
    latest = {}
    for op, ts, pos, uid, value in seed + window:
        if uid not in latest or (ts, pos) > latest[uid][:2]:
            latest[uid] = (ts, pos, op, value)
    expected = sorted((uid, v) for uid, (_, _, op, v) in latest.items() if op != "d")

    append_job_log = WatermarkStore.append_job_log
    crashed = []

    def crash_once(self, *args, **kwargs):
        if not crashed:
            crashed.append(True)
            raise RuntimeError("injected crash before foreachBatch returns")
        return append_job_log(self, *args, **kwargs)

    monkeypatch.setattr(WatermarkStore, "append_job_log", crash_once)
    write_bronze(spark, src, window)
    with pytest.raises(StreamingQueryException, match="injected crash"):
        run_streaming_merge(spark, cfg, target, audit, src, ckpt, deterministic_audit=True)
    assert crashed and state(target) == expected  # the publish happened

    run_streaming_merge(spark, cfg, target, audit, src, ckpt, deterministic_audit=True)
    assert state(target) == expected
    assert target.pending_commit() is None
    window_end = datetime.datetime(2024, 1, 1) + datetime.timedelta(
        seconds=max(pos for _, _, pos, _, _ in window)
    )
    assert audit.read_watermark(cfg.cdc_table, cfg.target_table) == window_end
    # the replay re-ran the batch: a second SUCCESS row for the same window
    ends = [
        r["cdc_end_ts"]
        for r in audit.history().filter("run_status = 'SUCCESS'").collect()
    ]
    assert ends.count(window_end) == 2


def test_stream_tumbling_counts_equals_batch(spark, sf_dir):
    import tempfile

    from pyspark.sql import functions as F

    from dataplatform_cdc_pipeline_spark.sources.tables import load_table
    from dataplatform_cdc_pipeline_spark.streaming.windowed import stream_tumbling_counts

    tmp = tempfile.mkdtemp(prefix="wstream_")
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")
    ev.write.parquet(f"{tmp}/src")
    streamed = stream_tumbling_counts(
        spark, f"{tmp}/src", "event_id long, ts timestamp, event_type string, value double"
    )
    batch = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum(F.col("value").cast("decimal(25,6)")), 2).cast("double").alias("total_value"))
        .select(F.unix_micros("w.start").alias("window_start_us"), "event_type", "n", "total_value")
    )
    assert sorted(map(tuple, streamed.collect())) == sorted(map(tuple, batch.collect()))


def test_running_user_totals_stateful(spark, sf_dir):
    import tempfile

    from pyspark.sql import functions as F

    from dataplatform_cdc_pipeline_spark.sources.tables import load_table
    from dataplatform_cdc_pipeline_spark.streaming.stateful import running_user_totals

    tmp = tempfile.mkdtemp(prefix="stateful_")
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id", "value")
    # two landings — state must carry across micro-batches
    ev.filter("event_id % 2 = 0").write.parquet(f"{tmp}/src")
    running_user_totals(spark, f"{tmp}/src", checkpoint_path=f"{tmp}/ckpt")
    ev.filter("event_id % 2 = 1").write.mode("append").parquet(f"{tmp}/src")
    out = running_user_totals(spark, f"{tmp}/src", checkpoint_path=f"{tmp}/ckpt")

    got = {r["user_id"]: (r["n_events"], r["total_value_micros"]) for r in out.collect()}
    # same floor(value*1e6) per-row integerization as the operator — exact,
    # micro-batch-boundary-independent equality (no rounding slack needed)
    exp = {
        r["user_id"]: (r["n"], r["t"])
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 1_000_000.0).cast("long")).alias("t"),
        )
        .collect()
    }
    assert got == exp


def test_dedup_within_watermark_drops_replays(spark):
    import tempfile
    import uuid as _uuid

    from pyspark.sql import functions as F

    from dataplatform_cdc_pipeline_spark.sources.cdc import user_state_config
    from dataplatform_cdc_pipeline_spark.streaming import streaming_dedup_within_watermark

    tmp = tempfile.mkdtemp(prefix="wmdedup_")
    rows = [
        (1, "2024-01-01 10:00:00", 1.0),
        (1, "2024-01-01 10:00:00", 1.0),  # exact replay → dropped
        (1, "2024-01-01 10:05:00", 2.0),  # same key, new event ts → kept
        (2, "2024-01-01 10:00:00", 3.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts_s string, value double").select(
        "user_id", F.col("ts_s").cast("timestamp").alias("source_ts_ns_order"), "value"
    )
    df.write.parquet(f"{tmp}/src")
    stream = spark.readStream.schema(
        "user_id long, source_ts_ns_order timestamp, value double"
    ).parquet(f"{tmp}/src")
    cfg = user_state_config(pk="user_id")
    deduped = streaming_dedup_within_watermark(stream, cfg)
    name = f"wm_{_uuid.uuid4().hex[:6]}"
    q = (
        deduped.writeStream.outputMode("append").format("memory").queryName(name)
        .option("checkpointLocation", f"{tmp}/ckpt").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    out = sorted((r["user_id"], str(r["source_ts_ns_order"]), r["value"])
                 for r in spark.table(name).collect())
    assert out == [
        (1, "2024-01-01 10:00:00", 1.0),
        (1, "2024-01-01 10:05:00", 2.0),
        (2, "2024-01-01 10:00:00", 3.0),
    ]


def test_stream_click_purchase_join_equals_batch(spark, sf_dir):
    import tempfile

    from pyspark.sql import functions as F

    from dataplatform_cdc_pipeline_spark.sources.tables import load_table
    from dataplatform_cdc_pipeline_spark.streaming.joins import stream_click_purchase_join

    tmp = tempfile.mkdtemp(prefix="ssj_t_")
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id", "event_type")
    ev.write.parquet(f"{tmp}/src")
    streamed = stream_click_purchase_join(
        spark, f"{tmp}/src", "event_id long, ts timestamp, user_id long, event_type string"
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("user_id").alias("cu"), F.col("ts").alias("cts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("pts")
    )
    batch = p.join(
        c,
        (p.user_id == c.cu)
        & (c.cts >= p.pts - F.expr("INTERVAL 1 HOUR"))
        & (c.cts <= p.pts),
    ).select(
        "purchase_id", "user_id", F.unix_micros("pts").alias("purchase_ts_us"),
        "click_id", F.unix_micros("cts").alias("click_ts_us"),
    )
    assert sorted(map(tuple, streamed.collect())) == sorted(map(tuple, batch.collect()))
    assert streamed.count() > 0


def test_stream_distinct_events_drops_replay(spark, sf_dir):
    import tempfile

    from dataplatform_cdc_pipeline_spark.sources.tables import load_table
    from dataplatform_cdc_pipeline_spark.streaming.joins import stream_distinct_events

    tmp = tempfile.mkdtemp(prefix="sdd_t_")
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "value")
    ev.write.parquet(f"{tmp}/src")
    ev.write.mode("append").parquet(f"{tmp}/src")
    out = stream_distinct_events(
        spark, f"{tmp}/src", "event_id long, ts timestamp, value double", ["event_id"]
    )
    assert out.count() == ev.count()


def test_streaming_merge_with_maintained_view(spark):
    """The streaming front-end maintains a grouped (count, sum) view
    incrementally across micro-batches; the view always equals a fresh
    GROUP BY of the target, and checkpoint replay double-maintains
    nothing."""
    import pyspark.sql.functions as F

    from dataplatform_cdc_pipeline_spark.streaming.stream_merge import (
        read_tagged_view,
        run_streaming_merge_with_view,
    )

    tmp = tempfile.mkdtemp(prefix="cdc_sview_")
    src, ckpt, vpath = f"{tmp}/bronze", f"{tmp}/ckpt", f"{tmp}/view"
    cfg, target, audit = pipeline(spark, tmpdir=tmp)
    sums = {"value_micros": F.floor(F.col("value") * 1e6)}

    def run():
        run_streaming_merge_with_view(
            spark, cfg, target, audit, src, ckpt, vpath,
            group_col="event_type", sum_exprs=sums, deterministic_audit=True,
        )

    def fresh():
        return sorted(
            tuple(r)
            for r in target.read()
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(F.sum(F.floor(F.col("value") * 1e6)), F.lit(0)).alias(
                    "value_micros"
                ),
            )
            .collect()
        )

    def maintained():
        view, _ = read_tagged_view(spark, vpath)
        return sorted(
            tuple(r) for r in view.select("event_type", "n", "value_micros").collect()
        )

    # batch 1: inserts
    write_bronze(spark, src, [("c", 1, 1, 1, 1.5), ("c", 2, 2, 2, 2.25)])
    run()
    assert maintained() == fresh() != []

    # batch 2: update k1, delete k2 — counts AND sums must move
    write_bronze(spark, src, [("u", 3, 3, 1, 9.0), ("d", 4, 4, 2, 0.0)])
    run()
    assert maintained() == fresh()
    assert state(target) == [(1, 9.0)]

    # replay with the same checkpoint: no new batches -> view untouched
    before = maintained()
    run()
    assert maintained() == before == fresh()


def test_streaming_view_replay_tag_skips_maintenance(spark):
    """Simulate the crash window 'view written, merge not committed':
    re-running the batch with the tag already present must skip
    maintenance (no double-subtract) and still converge the target."""
    import pyspark.sql.functions as F

    from dataplatform_cdc_pipeline_spark.engine import run_merge
    from dataplatform_cdc_pipeline_spark.operators.ivm import view_delta_for_merge
    from dataplatform_cdc_pipeline_spark.plans.merge_plan import (
        build_changes,
        window_scan,
    )
    from dataplatform_cdc_pipeline_spark.streaming.stream_merge import (
        _VIEW_TAG,
        read_tagged_view,
        run_streaming_merge_with_view,
    )

    tmp = tempfile.mkdtemp(prefix="cdc_sview_crash_")
    src, ckpt, vpath = f"{tmp}/bronze", f"{tmp}/ckpt", f"{tmp}/view"
    cfg, target, audit = pipeline(spark, tmpdir=tmp)

    # seed state via batch 0 through the streaming path
    write_bronze(spark, src, [("c", 1, 1, 1, 1.0), ("c", 2, 2, 2, 2.0)])
    run_streaming_merge_with_view(
        spark, cfg, target, audit, src, ckpt, vpath,
        group_col="event_type", deterministic_audit=True,
    )

    # hand-build batch 1's change set; write the view (tag=99) WITHOUT
    # merging — the simulated crash
    write_bronze(spark, src, [("d", 3, 3, 1, 0.0)])
    raw = spark.read.parquet(src).filter("message_id = 'm-3'")
    changes = build_changes(
        window_scan(raw, cfg, None, None), target.schema, cfg,
        deterministic_audit=True,
    )
    view, _ = read_tagged_view(spark, vpath)
    new_view = view_delta_for_merge(target, changes, view, "event_type")
    new_view.withColumn(_VIEW_TAG, F.lit(99)).write.mode("overwrite").parquet(vpath)
    view_after_crash, tag = read_tagged_view(spark, vpath)
    assert tag == 99
    # view leads the target inside the window (documented transient)
    assert sorted(tuple(r) for r in view_after_crash.collect()) != sorted(
        tuple(r)
        for r in target.read().groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    )

    # replay: tag >= batch_id -> maintenance skipped, merge applies
    view2, tag2 = read_tagged_view(spark, vpath)

    def maintain(ch):
        assert False, "maintenance must be skipped on replay"

    run_merge(
        spark, cfg, target, audit, raw=raw, window=(None, None),
        deterministic_audit=True,
        pre_merge_hook=(maintain if tag2 is None or tag2 < 99 else None),
    )
    assert state(target) == [(2, 2.0)]
    final_view, _ = read_tagged_view(spark, vpath)
    assert sorted(tuple(r) for r in final_view.collect()) == sorted(
        tuple(r)
        for r in target.read().groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    )


def test_streaming_kmv_state_equals_batch_sketch(spark, tmp_path, sf_dir):
    """The drained streaming KMV state is bit-equal to the batch sketch
    over all data (exact mergeability), and re-draining the same source
    with the same checkpoint leaves the state unchanged (idempotent)."""
    from pyspark.sql import functions as F

    from dataplatform_cdc_pipeline_spark.operators.sketches import kmv_sketch
    from dataplatform_cdc_pipeline_spark.sources.tables import load_table
    from dataplatform_cdc_pipeline_spark.streaming.sketches import (
        run_streaming_distinct_sketch,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    ev.write.parquet(str(tmp_path / "src"))
    schema = "event_id long, ts timestamp, user_id long, event_type string"
    for _ in range(2):  # second drain: no new files -> state must not move
        run_streaming_distinct_sketch(
            spark,
            str(tmp_path / "src"),
            schema,
            key_col="user_id",
            group_col="event_type",
            state_path=str(tmp_path / "state"),
            checkpoint_path=str(tmp_path / "ckpt"),
            k=16,
        )
        streamed = {
            (r["event_type"], r["hv"], r["rk"])
            for r in spark.read.parquet(str(tmp_path / "state")).collect()
        }
        batch = {
            (r["event_type"], r["hv"], r["rk"])
            for r in kmv_sketch(ev, "user_id", ["event_type"], 16).collect()
        }
        assert streamed == batch


def test_streaming_merge_rejects_unknown_source_format(spark, tmp_path):
    import pytest

    from dataplatform_cdc_pipeline_spark.operators.merge_target import ParquetMergeTarget
    from dataplatform_cdc_pipeline_spark.operators.watermark import WatermarkStore
    from dataplatform_cdc_pipeline_spark.sources.cdc import (
        USER_STATE_SCHEMA,
        user_state_config,
    )
    from dataplatform_cdc_pipeline_spark.streaming.stream_merge import (
        run_streaming_merge,
    )

    cfg = user_state_config()
    target = ParquetMergeTarget(spark, str(tmp_path / "t"), cfg, USER_STATE_SCHEMA)
    audit = WatermarkStore(spark, str(tmp_path / "a"))
    with pytest.raises(ValueError, match="unsupported source_format"):
        run_streaming_merge(
            spark, cfg, target, audit, str(tmp_path / "x"), str(tmp_path / "c"),
            source_format="avro",
        )


def test_streaming_scd2_incremental_and_replay(spark):
    """Streaming SCD2 (run_streaming_scd2): batch 2 closes versions batch
    1 opened; a checkpoint replay is a no-op (batch-id tag), and the
    drained history equals the full-batch derivation."""
    import tempfile as _tf

    from dataplatform_cdc_pipeline_spark.operators.scd2 import (
        SCD_IS_CURRENT,
        SCD_VALID_TO,
        Scd2Target,
        build_version_events,
        scd2_history,
    )
    from dataplatform_cdc_pipeline_spark.plans.merge_plan import window_scan
    from dataplatform_cdc_pipeline_spark.sources.cdc import (
        USER_STATE_SCHEMA,
        user_state_config,
    )
    from dataplatform_cdc_pipeline_spark.streaming.stream_merge import run_streaming_scd2

    tmp = _tf.mkdtemp(prefix="scd2_stream_")
    src, ckpt = f"{tmp}/bronze", f"{tmp}/ckpt"
    cfg = user_state_config()
    target = Scd2Target(spark, f"{tmp}/t", cfg, USER_STATE_SCHEMA)

    def hist(t):
        return sorted(
            (r["user_id"], r["value"], r[SCD_VALID_TO] is None, r[SCD_IS_CURRENT])
            for r in t.read().collect()
        )

    write_bronze(spark, src, [("c", 1, 1, 1, 1.0), ("c", 2, 2, 2, 2.0)])
    run_streaming_scd2(spark, cfg, target, src, ckpt, USER_STATE_SCHEMA,
                       deterministic_audit=True)
    assert hist(target) == [(1, 1.0, True, True), (2, 2.0, True, True)]

    write_bronze(spark, src, [("u", 3, 3, 1, 9.0), ("d", 4, 4, 2, 0.0)])
    run_streaming_scd2(spark, cfg, target, src, ckpt, USER_STATE_SCHEMA,
                       deterministic_audit=True)
    # key 1: v1 closed + v2 open; key 2: v1 closed by delete, no open row
    assert hist(target) == [
        (1, 1.0, False, False),
        (1, 9.0, True, True),
        (2, 2.0, False, False),
    ]

    # replay with the same checkpoint: no new files -> no-op
    run_streaming_scd2(spark, cfg, target, src, ckpt, USER_STATE_SCHEMA,
                       deterministic_audit=True)
    assert len(hist(target)) == 3

    # drained history == full-batch derivation over the same bronze
    raw = spark.read.parquet(src)
    w = window_scan(raw, cfg, None, None)
    full = scd2_history(
        build_version_events(w, USER_STATE_SCHEMA, cfg, deterministic_audit=True),
        list(cfg.pk),
    )
    assert hist(target) == sorted(
        (r["user_id"], r["value"], r[SCD_VALID_TO] is None, r[SCD_IS_CURRENT])
        for r in full.collect()
    )


def test_running_topk_resumes_across_checkpoints(spark, sf_dir):
    """Top-k state carries across separate drains of the same checkpoint:
    the leaderboard after two landings equals the batch ranking over
    everything, even when the second landing's values displace earlier
    leaders."""
    import tempfile

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dataplatform_cdc_pipeline_spark.sources.tables import load_table
    from dataplatform_cdc_pipeline_spark.streaming.stateful import running_topk_per_type

    tmp = tempfile.mkdtemp(prefix="stateful_topk_")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    ev.filter("event_id % 2 = 0").write.parquet(f"{tmp}/src")
    running_topk_per_type(
        spark, f"{tmp}/src", checkpoint_path=f"{tmp}/ckpt", output_path=f"{tmp}/out"
    )
    ev.filter("event_id % 2 = 1").write.mode("append").parquet(f"{tmp}/src")
    out = running_topk_per_type(
        spark, f"{tmp}/src", checkpoint_path=f"{tmp}/ckpt", output_path=f"{tmp}/out"
    )
    got = sorted(
        (r["event_type"], r["rank"], r["value_us"], r["event_id"])
        for r in out.collect()
    )
    w = Window.partitionBy("event_type").orderBy(
        F.floor(F.col("value") * 1_000_000.0).cast("long").desc(), F.col("event_id")
    )
    exp = sorted(
        (r["event_type"], r["rk"], r["vus"], r["event_id"])
        for r in ev.withColumn("rk", F.row_number().over(w))
        .withColumn("vus", F.floor(F.col("value") * 1_000_000.0).cast("long"))
        .filter(F.col("rk") <= 3)
        .collect()
    )
    assert got == exp
