"""Regression tests for the r12 optimization changes.

Pins the three equivalences the optimizations rely on:
- the pyarrow direct audit append writes a table Spark reads back
  value-identical to the Spark-write path it replaced (timestamps
  included), and fails loudly on schema drift;
- the IVF map-side assignment expression routes every vector to the
  same cell as the windowed rank-1 it replaced, including exact-tie
  routing to the lowest cell;
- the merge resolve join plans as a shuffled-hash join (no per-partition
  sorts), with the change set as the build side.
"""

import datetime
import glob
import os
import tempfile

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataplatform_cdc_pipeline_spark.operators.watermark import (
    AUDIT_SCHEMA,
    JOB_LOG_SCHEMA,
    append_row_parquet,
    one_row_df,
)

AUDIT_VALUES = {
    "id": "run-1",
    "cdc_table_name": "cdc_t",
    "target_database": "db",
    "target_table": "t",
    "cdc_start_ts": datetime.datetime(2024, 1, 3, 4, 5, 6, 789000),
    "cdc_end_ts": None,  # null timestamp slot
    "insert_timestamp": datetime.datetime(2024, 2, 3, 23, 59, 59, 123456),
    "run_status": "SUCCESS",
    "error_msg": None,  # null string slot
    "records_inserted": 42,
    "records_deleted": 0,
}

JOB_LOG_VALUES = {
    "run_id": "rid-1",
    "proc_name": "merge",
    "target_database": "db",
    "target_table": "t",
    "start_time": datetime.datetime(2024, 3, 1, 0, 0, 0),
    "end_time": datetime.datetime(2024, 3, 1, 0, 0, 1, 500000),
    "run_status": "SUCCESS",
    "error_msg": None,
    "records_inserted": 7,
    "records_deleted": 3,
}


def _spark_append(spark, path, schema, values):
    """The pre-r12 append path, kept verbatim as the comparison twin."""
    one_row_df(spark, schema, values).coalesce(1).write.mode("append").parquet(path)


@pytest.mark.parametrize(
    "schema,values",
    [(AUDIT_SCHEMA, AUDIT_VALUES), (JOB_LOG_SCHEMA, JOB_LOG_VALUES)],
    ids=["audit", "job_log"],
)
def test_append_row_parquet_roundtrip_matches_spark_write(spark, schema, values):
    tmp = tempfile.mkdtemp(prefix="audit_rt_")
    a, b = f"{tmp}/spark", f"{tmp}/arrow"
    _spark_append(spark, a, schema, values)
    append_row_parquet(b, schema, values)
    ra = spark.read.schema(schema).parquet(a).collect()
    rb = spark.read.schema(schema).parquet(b).collect()
    assert len(ra) == len(rb) == 1
    assert ra == rb
    # no temp file left behind, exactly one visible parquet part
    assert not glob.glob(f"{b}/.*tmp")
    assert len(glob.glob(f"{b}/*.parquet")) == 1


def test_append_row_parquet_appends_not_overwrites(spark):
    tmp = tempfile.mkdtemp(prefix="audit_app_") + "/d"
    append_row_parquet(tmp, AUDIT_SCHEMA, AUDIT_VALUES)
    second = dict(AUDIT_VALUES, id="run-2")
    append_row_parquet(tmp, AUDIT_SCHEMA, second)
    got = sorted(
        r["id"] for r in spark.read.schema(AUDIT_SCHEMA).parquet(tmp).collect()
    )
    assert got == ["run-1", "run-2"]


def test_append_row_parquet_rejects_unsupported_type(spark):
    schema = T.StructType([T.StructField("x", T.DoubleType())])
    with pytest.raises(TypeError, match="unsupported audit column type"):
        append_row_parquet(tempfile.mkdtemp(prefix="audit_bad_"), schema, {"x": 1.0})


def _old_assign(idx, embeddings, id_col="vec_id", vec_col="embedding"):
    """The pre-r12 assignment shape (crossJoin(broadcast) → window
    rank-1), kept verbatim as the equivalence twin for _assign_expr."""
    from dataplatform_cdc_pipeline_spark.operators.similarity import (
        as_double_vec,
        dot_expr,
        norm_expr,
    )

    vecs = embeddings.select(
        F.col(id_col).alias("vec_id"), as_double_vec(vec_col).alias("vec")
    ).withColumn("v_norm", norm_expr(F.col("vec")))
    ranked = (
        vecs.crossJoin(F.broadcast(idx.centroids()))
        .withColumn(
            "c_cos",
            dot_expr(F.col("vec"), F.col("centroid"))
            / (F.col("v_norm") * F.col("c_norm")),
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(
                    F.col("c_cos").desc(), F.col("cell").asc()
                )
            ),
        )
    )
    return ranked.filter(F.col("rk") == 1).select("vec_id", "cell")


def test_assign_expr_matches_windowed_rank1(spark, sf_dir):
    """Every corpus vector routes to the same cell under the map-side
    expression as under the windowed rank-1 it replaced."""
    from dataplatform_cdc_pipeline_spark.operators.ivf_index import (
        IncrementalIvfIndex,
    )
    from dataplatform_cdc_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    idx = IncrementalIvfIndex(spark, tempfile.mkdtemp(prefix="ivfassign_") + "/ix")
    idx.bootstrap("base", emb)
    new = {r["vec_id"]: r["cell"] for r in idx.assign_cells(emb).collect()}
    old = {r["vec_id"]: r["cell"] for r in _old_assign(idx, emb).collect()}
    assert new == old and len(new) == emb.count()


def test_assign_expr_exact_tie_routes_to_lowest_cell(spark, tmp_path):
    """A vector exactly equidistant from two centroids (here: identical
    cosine to both) must land in the LOWER cell id — the tiebreak the
    windowed rank-1 (cell asc) used."""
    import os

    from dataplatform_cdc_pipeline_spark.operators.ivf_index import (
        IncrementalIvfIndex,
    )

    idx = IncrementalIvfIndex(spark, str(tmp_path / "ix"))
    os.makedirs(idx.centroids_path)  # the memo keys on this directory

    # centroids() is only read by _assign_expr via .collect(); fake two
    # cells whose centroids are scalar multiples (same direction → every
    # vector ties on cosine) so the tiebreak alone decides.
    class _FakeCentroids:
        def __init__(self, spark):
            self.spark = spark

        def collect(self):
            return self.spark.createDataFrame(
                [(3, [2.0, 0.0], 2.0), (1, [1.0, 0.0], 1.0)],
                "cell long, centroid array<double>, c_norm double",
            ).collect()

    fake = _FakeCentroids(spark)
    idx.centroids = lambda: fake
    vecs = spark.createDataFrame(
        [(1, [5.0, 0.0]), (2, [0.25, 0.0])], "vec_id long, embedding array<double>"
    )
    got = {r["vec_id"]: r["cell"] for r in idx.assign_cells(vecs).collect()}
    assert got == {1: 1, 2: 1}


def test_read_watermark_pyarrow_matches_spark_aggregate(spark):
    """read_watermark (now a direct pyarrow read) must equal the Spark
    COALESCE(MAX(cdc_end_ts), epoch) it replaced, over a store holding
    BOTH writers' files (legacy Spark appends + pyarrow appends), with
    FAILED rows, other-pipeline rows, and null cdc_end_ts in the mix."""
    from dataplatform_cdc_pipeline_spark.operators.watermark import (
        EPOCH,
        WatermarkStore,
    )

    tmp = tempfile.mkdtemp(prefix="wm_rt_")
    store = WatermarkStore(spark, f"{tmp}/audit")

    def spark_wm(cdc_table, target_table):
        df = spark.read.schema(AUDIT_SCHEMA).parquet(f"{tmp}/audit")
        row = (
            df.filter(
                (F.col("cdc_table_name") == cdc_table)
                & (F.col("target_table") == target_table)
                & (F.col("run_status") == "SUCCESS")
            )
            .agg(F.max("cdc_end_ts").alias("wm"))
            .first()
        )
        return row["wm"] or EPOCH

    # empty store → epoch
    assert store.read_watermark("cdc_t", "t") == EPOCH

    ts = datetime.datetime(2024, 5, 6, 7, 8, 9, 123456)
    # legacy Spark-written row (the pre-r12 writer)
    _spark_append(
        spark,
        f"{tmp}/audit",
        AUDIT_SCHEMA,
        dict(AUDIT_VALUES, cdc_end_ts=ts, run_status="SUCCESS"),
    )
    # pyarrow rows: a newer FAILED (must not advance), an older SUCCESS,
    # a SUCCESS for a different pipeline, and a null-end SUCCESS
    store.append_run("cdc_t", "db", "t", None, ts + datetime.timedelta(1), "FAILED")
    store.append_run("cdc_t", "db", "t", None, ts - datetime.timedelta(1), "SUCCESS")
    store.append_run("other", "db", "t2", None, ts + datetime.timedelta(9), "SUCCESS")
    store.append_run("cdc_t", "db", "t", None, None, "SUCCESS")

    assert store.read_watermark("cdc_t", "t") == ts == spark_wm("cdc_t", "t")
    # a pipeline with only null-end SUCCESS rows → epoch, like Spark
    store.append_run("nullonly", "db", "t3", None, None, "SUCCESS")
    assert store.read_watermark("nullonly", "t3") == EPOCH == spark_wm("nullonly", "t3")


def test_bootstrap_fused_scales_match_sq8_scales(spark, sf_dir):
    """bootstrap() now derives the SQ8 scales from the same grouped pass
    as the centroids (max over per-cell maxes); they must equal the
    dedicated sq8_scales corpus aggregate exactly."""
    from dataplatform_cdc_pipeline_spark.operators.ivf_index import (
        IncrementalIvfIndex,
    )
    from dataplatform_cdc_pipeline_spark.operators.quantization import sq8_scales
    from dataplatform_cdc_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    idx = IncrementalIvfIndex(spark, tempfile.mkdtemp(prefix="ivfsc_") + "/ix")
    idx.bootstrap("base", emb)
    assert idx.scales() == sq8_scales(emb)


def test_dedup_agg_tie_winner_deterministic(spark):
    """On an exact (ts, pos) tie, latest_per_key_agg must pick the SAME
    winner regardless of input partitioning (replay-stable watermarks
    depend on it): the carry row with the largest xxhash64."""
    from dataplatform_cdc_pipeline_spark.operators.dedup import latest_per_key_agg

    ts = datetime.datetime(2024, 1, 1, 12, 0, 0)
    rows = [(1, ts, 7, f"payload-{i}", i) for i in range(6)]  # 6-way tie
    schema = "k long, ts timestamp, pos long, data string, load long"
    expected = None
    for nparts in (1, 3, 8):
        df = spark.createDataFrame(rows, schema).repartition(nparts)
        got = latest_per_key_agg(df, ["k"], "ts", "pos", ["data", "load"]).collect()
        assert len(got) == 1
        win = (got[0]["data"], got[0]["load"])
        expected = expected or win
        assert win == expected
    # and the winner is the max-xxhash64 carry, as documented
    h = (
        spark.createDataFrame(rows, schema)
        .select("data", "load", F.xxhash64("data", "load").alias("h"))
        .orderBy(F.col("h").desc())
        .first()
    )
    assert expected == (h["data"], h["load"])


def test_pq_fit_grouped_matches_per_subspace_loop(spark, sf_dir):
    """pq_fit's grouped Lloyd (one scan per iteration updates all m
    codebooks) must produce books EXACTLY equal to the pre-r12
    per-subspace loop (kmeans_fit over each slice), for 1 and 2
    iterations."""
    from dataplatform_cdc_pipeline_spark.operators.clustering import kmeans_fit
    from dataplatform_cdc_pipeline_spark.operators.pq import pq_fit
    from dataplatform_cdc_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    d = emb.select(F.size("embedding")).first()[0]
    m, k = 4, 4
    sub_len = d // m

    def old_loop(n_iter):
        books = []
        for s in range(m):
            sub = emb.select(
                F.col("vec_id"),
                F.slice("embedding", s * sub_len + 1, sub_len).alias("embedding"),
            )
            _, cents = kmeans_fit(sub, k=k, n_iter=n_iter)
            books.append(cents)
        return books

    for n_iter in (1, 2):
        assert pq_fit(emb, m=m, k=k, n_iter=n_iter) == old_loop(n_iter)


def test_lsh_band_reuse_identical_index_and_pairs(spark, sf_dir):
    """add_batch/dedup_batch fed precomputed band_rows must produce a
    byte-identical index and identical pairs to the compute-twice path
    they optimize (one signature pass per batch instead of two)."""
    from dataplatform_cdc_pipeline_spark.operators.dedup_index import (
        IncrementalLshIndex,
    )
    from dataplatform_cdc_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 10 != 3)
    d1 = docs.filter(F.col("doc_id") % 10 == 3)

    def run(reuse: bool):
        idx = IncrementalLshIndex(
            spark, tempfile.mkdtemp(prefix="lshreuse_") + "/ix"
        )
        idx.add_batch("base", base)
        if reuse:
            bands = idx.band_rows(d1)
            pairs = idx.dedup_batch(d1, docs, threshold=0.5, bands=bands)
            idx.add_batch("b1", d1, bands=bands)
        else:
            pairs = idx.dedup_batch(d1, docs, threshold=0.5)
            idx.add_batch("b1", d1)
        p = sorted(
            (r["new_id"], r["other_id"], r["kind"], r["jaccard"])
            for r in pairs.collect()
        )
        b = sorted(
            (r["batch"], r["doc_id"], r["band_key"])
            for r in idx.index_bands().collect()
        )
        return p, b

    assert run(True) == run(False)


def test_resolve_changes_plans_shuffled_hash_join(spark):
    """The full-outer resolve join must plan as ShuffledHashJoin with the
    change-set (s) side as build — not SortMergeJoin (two per-partition
    sorts of the target table, guide §3.1)."""
    from dataplatform_cdc_pipeline_spark.operators.merge_target import (
        resolve_changes,
    )
    from dataplatform_cdc_pipeline_spark.sources.cdc import user_state_config

    cfg = user_state_config()
    cols = ["user_id", "email", "ts"]
    target = spark.createDataFrame(
        [(1, "a@x", datetime.datetime(2024, 1, 1))], "user_id long, email string, ts timestamp"
    )
    changes = spark.createDataFrame(
        [(1, "b@x", datetime.datetime(2024, 1, 2), "u")],
        "user_id long, email string, ts timestamp, __op string",
    )
    merged = resolve_changes(target, changes, cfg, cols)
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
