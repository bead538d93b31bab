"""Plan-quality regression guards: the physical plans the engine depends on
(pushdown, broadcast, map-side dedup) must not silently regress."""

from pyspark.sql import functions as F


def fmt_plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_filter_pushdown_reaches_parquet(spark, sf_dir):
    from dataplatform_cdc_pipeline_spark.queries import q_pricing_summary

    plan = fmt_plan(q_pricing_summary(spark, sf_dir))
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "l_shipdate" in pushed  # the date predicate reached the scan


def test_column_pruning_reaches_parquet(spark, sf_dir):
    from dataplatform_cdc_pipeline_spark.queries import q_pricing_summary

    plan = fmt_plan(q_pricing_summary(spark, sf_dir))
    read_schema = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    # 6 of lineitem's 11 columns needed; the scan must not read the rest
    assert "l_orderkey" not in read_schema and "l_partkey" not in read_schema


def test_dimension_joins_broadcast(spark, sf_dir):
    from dataplatform_cdc_pipeline_spark.queries import q_revenue_by_nation

    plan = fmt_plan(q_revenue_by_nation(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 4  # all four dims broadcast
    assert "SortMergeJoin" not in plan  # the fact table never shuffle-joins


def test_dedup_has_single_shuffle(spark, sf_dir):
    from dataplatform_cdc_pipeline_spark.plans.merge_plan import build_changes, window_scan
    from dataplatform_cdc_pipeline_spark.sources.cdc import (
        USER_STATE_SCHEMA,
        synthesize_cdc_from_events,
        user_state_config,
    )
    from dataplatform_cdc_pipeline_spark.sources.tables import load_table

    raw = synthesize_cdc_from_events(load_table(spark, sf_dir, "events"))
    cfg = user_state_config()
    ch = build_changes(window_scan(raw, cfg, None, None), USER_STATE_SCHEMA, cfg, True)
    simple = ch._jdf.queryExecution().executedPlan().toString()
    assert simple.count("Exchange") <= 2
    # map-side partial aggregation before the shuffle
    assert "partial_max" in simple or "HashAggregate" in simple


def test_dedup_window_grouplimit_partial(spark):
    """The rn=1 window dedup must carry a map-side `WindowGroupLimit …
    Partial` BEFORE the exchange — the optimizer-provided skew defuser
    that ships ≤1 candidate per key per input partition (measured: a
    50%-hot key crosses the shuffle as ≤32 rows; SCALE.md skew proof).
    If a refactor breaks the rn=1 pushdown shape, hot-key dedup silently
    re-skews at 100 TB — fail here instead."""
    from dataplatform_cdc_pipeline_spark.operators.dedup import latest_per_key

    df = spark.range(0, 1000, 1, 4).select(
        (F.col("id") % 10).alias("user_id"),
        F.timestamp_micros(F.col("id") * 1000).alias("source_ts_ns_order"),
        F.col("id").alias("pos"),
    )
    plan = latest_per_key(df, ["user_id"])._jdf.queryExecution().executedPlan().toString()
    partial = plan.split("Exchange", 1)[1]  # plan text below the shuffle
    assert "WindowGroupLimit" in partial and "Partial" in partial


def test_salted_dedup_two_phase_shape(spark):
    """salt_buckets must plan the documented two-phase shape: TWO window
    phases over TWO exchanges (key+salt, then key) — the escape hatch for
    ranked shapes where the group-limit pushdown doesn't apply."""
    from dataplatform_cdc_pipeline_spark.operators.dedup import latest_per_key

    df = spark.range(0, 1000, 1, 4).select(
        (F.col("id") % 10).alias("user_id"),
        F.timestamp_micros(F.col("id") * 1000).alias("source_ts_ns_order"),
        F.col("id").alias("pos"),
    )
    plan = (
        latest_per_key(df, ["user_id"], salt_buckets=32)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 2
    assert "__salt" in plan.split("Exchange", 1)[1]  # phase 1 partitions on salt


def test_packing_offset_plan_independent_of_partition_count(spark):
    """The partition-offset map must broadcast-join, not expand into a
    per-partition CASE chain whose expression depth grows with
    defaultParallelism (the 100 TB plan-bloat hazard). Above the literal
    threshold the offsets ride a local relation, so plan size is CONSTANT
    in partition count."""
    from dataplatform_cdc_pipeline_spark.operators.packing import global_running_sum

    df = spark.range(2000).select(F.col("id").alias("doc_id"), (F.col("id") % 7).alias("n"))
    sizes = {}
    for p in (64, 320, 640):
        out = global_running_sum(df, "doc_id", F.col("n"), num_partitions=p)
        plan = out._jdf.queryExecution()
        sizes[p] = len(plan.optimizedPlan().toString())
        assert "BroadcastHashJoin" in plan.executedPlan().toString(), p
    # 2× the partitions in the scale regime must not grow the plan
    assert sizes[640] < sizes[320] * 1.1, sizes

    # and the prefix sum stays correct across regimes
    acc, expect = 0, {}
    for i in range(2000):
        expect[i] = acc
        acc += i % 7
    for p in (64, 320):
        rows = global_running_sum(df, "doc_id", F.col("n"), num_partitions=p).collect()
        assert all(r["running_before"] == expect[r["doc_id"]] for r in rows), p


def test_merge_reads_only_affected_bucket_partitions(spark):
    from tests.helpers import bronze, pipeline

    from dataplatform_cdc_pipeline_spark.engine import run_merge

    cfg, target, audit = pipeline(spark)
    run_merge(spark, cfg, target, audit,
              raw=bronze(spark, [("c", i, i, i, float(i)) for i in range(1, 20)]),
              window=(None, None), deterministic_audit=True)
    pruned = target.read(buckets=[0, 1])
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_market_share_all_dims_broadcast_no_cartesian(spark, sf_dir):
    from dataplatform_cdc_pipeline_spark.queries_analytic import q_market_share

    plan = fmt_plan(q_market_share(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 4  # nation ×2, region, supplier
    # the region filter must prune before the fact joins (pushed to a scan)
    assert "PushedFilters" in plan


def test_sales_opportunity_anti_join_and_date_pushdown(spark, sf_dir):
    from dataplatform_cdc_pipeline_spark.queries_analytic import q_sales_opportunity

    plan = fmt_plan(q_sales_opportunity(spark, sf_dir))
    assert "LeftAnti" in plan
    # the recent-orders date filter reaches the orders parquet scan
    assert any(
        "o_orderdate" in seg.split("]", 1)[0]
        for seg in plan.split("PushedFilters: [")[1:]
    )


def test_top_ngrams_uses_partial_agg_and_topk(spark, sf_dir):
    from dataplatform_cdc_pipeline_spark.operators.text_analysis import top_ngrams
    from dataplatform_cdc_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = top_ngrams(docs, n=2, k=10)._jdf.queryExecution().executedPlan().toString()
    # top-k must run as per-partition heaps, not a global sort
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Exchange") == 1  # one count shuffle, nothing else


def test_ivf_uses_broadcast_and_reused_centroids(spark, sf_dir):
    """The IVF probe broadcasts both the centroid routing table and the
    routed queries — the corpus side must never shuffle-join, and a
    precomputed centroid frame must be reused as-is (checkpoint leaf),
    not rebuilt via posexplode+avg inside the probe plan."""
    from dataplatform_cdc_pipeline_spark.operators.similarity import ivf_centroids, ivf_topk
    from dataplatform_cdc_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    cents = ivf_centroids(emb).localCheckpoint(eager=True)
    plan = fmt_plan(ivf_topk(emb, queries, k=5, centroids=cents))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    # the precomputed index enters as a scan of the checkpoint, not a rebuild
    assert "posexplode" not in plan.lower()


def test_repetition_stats_partial_agg_no_cartesian(spark, sf_dir):
    from dataplatform_cdc_pipeline_spark.operators.text_analysis import repetition_stats_frame
    from dataplatform_cdc_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = fmt_plan(repetition_stats_frame(docs))
    assert "CartesianProduct" not in plan
    # every gram/line count aggregates map-side before its shuffle
    assert "partial_count" in plan or plan.count("HashAggregate") >= 6
    # doc_id/text are the only columns the scans need
    read_schema = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert "lang" not in read_schema and "source" not in read_schema


def test_ivf_probe_gets_dynamic_partition_pruning(spark, sf_dir, tmp_path):
    """SCALE.md's IVF claim, proven: with the corpus physically partitioned
    by cell, the probe's cell-equijoin against the (broadcast) routed
    queries triggers dynamic partition pruning — the scan reads nprobe
    cells' partitions, not the corpus."""
    from dataplatform_cdc_pipeline_spark.operators.similarity import ivf_centroids, ivf_topk
    from dataplatform_cdc_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    emb.write.partitionBy("label").parquet(str(tmp_path / "corpus"))
    corpus = spark.read.parquet(str(tmp_path / "corpus"))
    cents = ivf_centroids(corpus).localCheckpoint(eager=True)
    queries = corpus.filter(F.col("vec_id") < 10)
    plan = (
        ivf_topk(corpus, queries, k=5, centroids=cents)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "dynamicpruning" in plan.lower()


def test_kmeans_assignment_map_only_and_distributed_seed(spark, sf_dir):
    """The Lloyd step's scale shape, pinned: assignment computes all k
    distances in one row expression (ZERO exchanges — no join, no window
    shuffle), and seeding is a distributed top-k (TakeOrderedAndProject),
    never a global-window row_number that would single-partition the
    corpus."""
    from dataplatform_cdc_pipeline_spark.operators.clustering import (
        assign,
        quantized_points,
        seed_centroids,
    )
    from dataplatform_cdc_pipeline_spark.sources.tables import load_table

    pts = quantized_points(load_table(spark, sf_dir, "embeddings"))
    cents = seed_centroids(pts, 8)
    plan = assign(pts, cents)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    seed_plan = (
        pts.select(F.md5(F.col("vec_id").cast("string")).alias("h"), "vec_id", "v")
        .orderBy("h", "vec_id")
        .limit(8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in seed_plan


def test_bucketed_tables_join_without_shuffle(spark, sf_dir, tmp_path):
    """The co-located-join recipe for 100 TB fact-fact joins: both sides
    written `bucketBy(N, key)` join with ZERO Exchange — bucketing IS the
    shuffle, paid once at write time and amortized over every later join.
    (This is the layout the engine's hash-bucketed targets approximate;
    Spark's native bucketing adds the catalog metadata that lets the
    planner PROVE co-partitioning and elide the exchange.)"""
    from dataplatform_cdc_pipeline_spark.sources.tables import load_table

    spark.sql(f"CREATE DATABASE IF NOT EXISTS b LOCATION '{tmp_path}/wh'")
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # test data is broadcast-sized; force the shuffle-join path the
    # technique exists for (at real scale both sides exceed any threshold)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        orders = load_table(spark, sf_dir, "orders")
        li = load_table(spark, sf_dir, "lineitem")
        orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(
            "b.orders_b", mode="overwrite"
        )
        li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(
            "b.lineitem_b", mode="overwrite"
        )
        j = (
            spark.table("b.orders_b")
            .join(
                spark.table("b.lineitem_b"),
                F.col("o_orderkey") == F.col("l_orderkey"),
            )
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = fmt_plan(j)
        join_section = plan.split("HashAggregate", 1)[0]
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        # the join itself is exchange-free; only the final small
        # aggregation may shuffle
        assert "Exchange" not in join_section, join_section
        # sanity: the join actually produces rows
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql("DROP DATABASE IF EXISTS b CASCADE")


def test_closing_wave_single_shuffle_plans(spark, sf_dir):
    """The closing-wave pure-plan queries keep their intended shapes:
    the window suites and time-weighted aggregate share ONE user-key
    exchange; feature hashing is one explode + one map-side-combining
    aggregate with the doc-subset filter PUSHED to the parquet scan."""
    from dataplatform_cdc_pipeline_spark.queries_extra import (
        q_events_time_weighted,
        q_feature_hashing,
        q_window_nav_suite,
    )

    import re

    def n_exchanges(plan: str) -> int:  # tree nodes, not detail-header echoes
        return len(re.findall(r"\(\d+\) Exchange", plan))

    for q in (q_events_time_weighted, q_window_nav_suite):
        plan = fmt_plan(q(spark, sf_dir))
        assert n_exchanges(plan) == 1, q.__name__
        assert "SortMergeJoin" not in plan

    plan = fmt_plan(q_feature_hashing(spark, sf_dir))
    assert n_exchanges(plan) == 1
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "doc_id" in pushed  # the 1-in-17 subset reaches the scan
    assert "HashAggregate" in plan  # map-side partial before the exchange


def test_basket_pair_join_co_partitioned(spark, sf_dir):
    """basket_pair_lift's self-join keys on the order id (co-partitioned
    pair generation) and every dimension leg broadcasts — a
    SortMergeJoin on the part key would mean the |parts|² formulation
    snuck back in."""
    from dataplatform_cdc_pipeline_spark.queries_extra import q_basket_pair_lift

    import re

    plan = fmt_plan(q_basket_pair_lift(spark, sf_dir))
    # dims + (at this sf) the broadcast pair join; node ids, not echoes
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) >= 3
    # exactly one nested-loop node: the INTENTIONAL 1-row grand-total
    # cross join; an unkeyed pair join would add a CartesianProduct
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) == 1
    assert "CartesianProduct" not in plan


def test_prep_wave_plan_shapes(spark, sf_dir):
    """The fourth-session pure-plan queries keep their intended shapes:
    the weighted sample plans as TakeOrderedAndProject (per-partition
    heads, not a global sort); k-anonymity is one map-side-combining
    aggregate with zero joins; phrase search has no Python stage and no
    cartesian product; media phash dedup's candidate join keys on the
    slice (banded, not all-pairs); hard negatives broadcasts the query
    side; PSI is aggregates + one broadcast-back, no SMJ."""
    import re

    from dataplatform_cdc_pipeline_spark.queries_prep import (
        q_corpus_weighted_sample,
        q_events_psi_drift,
        q_hard_negatives,
        q_media_phash_dedup,
        q_phrase_search,
        q_pii_k_anonymity,
    )

    def n(pattern: str, plan: str) -> int:
        return len(re.findall(r"\(\d+\) " + pattern, plan))

    plan = fmt_plan(q_corpus_weighted_sample(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert n("Sort", plan) == 0  # no global sort node

    plan = fmt_plan(q_pii_k_anonymity(spark, sf_dir))
    assert n("Exchange", plan) == 1
    assert "Join" not in plan
    assert "HashAggregate" in plan  # partial agg before the exchange

    plan = fmt_plan(q_phrase_search(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan

    plan = fmt_plan(q_media_phash_dedup(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "slice_key" in plan  # candidates join on the band key

    plan = fmt_plan(q_hard_negatives(spark, sf_dir))
    assert n("BroadcastNestedLoopJoin", plan) == 1  # tiny query side only
    assert "SortMergeJoin" not in plan

    plan = fmt_plan(q_events_psi_drift(spark, sf_dir))
    assert "SortMergeJoin" not in plan
    # exactly one 1-row broadcast-back (the min/max stats frame); the
    # totals leg is a window over the bin-domain counts, NOT a second
    # events scan
    assert n("BroadcastNestedLoopJoin", plan) == 1
    # two events scans (stats + binning), each echoed in tree + details
    assert plan.count("Scan parquet") <= 4
