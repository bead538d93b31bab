"""Round-6 closing-wave surface: bounded graph traversal (the recursive-
CTE family), LOCF time-weighted aggregation, market-basket association
rules, deterministic KMV set-operation estimates, and hashing-trick
feature extraction — each with a DuckDB oracle twin.

Every operator keeps the repo's portability rule: arithmetic that must
hash-match across engines is exact integer (micro-units, ppm ratios,
truncated MD5 prefixes), never cross-engine floats.
"""

from __future__ import annotations

import datetime
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dataplatform_cdc_pipeline_spark import bench_phases
from dataplatform_cdc_pipeline_spark.sources.tables import load_table, spread_scan

# ---------------------------------------------------------------------------
# bounded multi-source BFS (operators/graph.py bfs_hops)
# ---------------------------------------------------------------------------

BFS_MAX_HOPS = 4
BFS_EDGE_MOD = 7  # keep 1-in-7 co-occurrence edges so hop depths vary
BFS_SEED_MOD = 50  # seeds: node ids divisible by 50


def q_events_bfs_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum hop distance from a seed set over a sparsified user
    co-occurrence graph — the engine's answer to a bounded recursive CTE
    (``WITH RECURSIVE``), which Spark SQL lacks as a construct but whose
    SEMANTICS the frontier-expansion operator reproduces exactly.

    Edges reuse the pagerank derivation (consecutive users per ``k``
    stream) but keep only source events with ``event_id % 7 == 0`` —
    the full graph is so dense (sf0.01: 150 nodes, mean out-degree 54)
    that every node sits one hop from anywhere; the sparsified graph
    spreads nodes across hops 0..4 (sf0.01: 3/21/89/36/1), so the oracle
    discriminates real traversal order, not just reachability.

    The oracle is a genuine DuckDB ``WITH RECURSIVE … UNION`` — the
    UNION (distinct) form, whose working-table dedup is exactly the
    operator's visited-set anti-join. The UNION ALL form would enumerate
    paths, not nodes (263k rows for these 150 nodes), which is the
    scaling argument for the frontier shape on Spark.
    """
    from dataplatform_cdc_pipeline_spark.operators.graph import bfs_hops

    ev = load_table(spark, sf_dir, "events").select(
        F.get_json_object("props", "$.k").cast("int").alias("k"),
        "user_id",
        "event_id",
    )
    w = Window.partitionBy("k").orderBy("event_id")
    seq = ev.withColumn("nxt", F.lead("user_id").over(w))
    edges = seq.filter(
        (F.col("event_id") % BFS_EDGE_MOD == 0)
        & F.col("nxt").isNotNull()
        & (F.col("nxt") != F.col("user_id"))
    ).select(F.col("user_id").alias("src"), F.col("nxt").alias("dst"))
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    seeds = nodes.filter(F.col("node") % BFS_SEED_MOD == 0)
    return bfs_hops(edges, seeds, max_hops=BFS_MAX_HOPS).select(
        F.col("node").alias("user_id"), "hops"
    )


SQL_EVENTS_BFS_REACH = f"""
WITH RECURSIVE seq AS (
  SELECT user_id, event_id,
         lead(user_id) OVER (
             PARTITION BY json_extract_string(props, '$.k')::INT
             ORDER BY event_id) AS nxt
  FROM events),
edges AS (
  SELECT DISTINCT user_id AS src, nxt AS dst
  FROM seq
  WHERE event_id % {BFS_EDGE_MOD} = 0 AND nxt IS NOT NULL AND nxt != user_id),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
walk(node, hops) AS (
  SELECT node, 0 FROM nodes WHERE node % {BFS_SEED_MOD} = 0
  UNION
  SELECT e.dst, w.hops + 1
  FROM walk w JOIN edges e ON e.src = w.node
  WHERE w.hops < {BFS_MAX_HOPS})
SELECT node AS user_id, min(hops)::INT AS hops
FROM walk GROUP BY node ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# LOCF time-weighted average (TimescaleDB time_weight('LOCF') analog)
# ---------------------------------------------------------------------------


def q_events_time_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average value over irregular samples: each
    event's value holds until the user's next event (last-observation-
    carried-forward), so the average is the integral of the step
    function divided by the observed span — the irregular-sampling
    primitive a plain AVG gets wrong whenever sampling density
    correlates with value (TimescaleDB's ``time_weight('LOCF')``).

    Exact integer end-to-end: per-segment weight = value·1e6 micro-units
    × duration in µs, summed in DECIMAL(38,0) (peak ≈ vus 1e9 × span
    1e12 ≈ 1e21 per user at sf0.1 — BIGINT would overflow, which is why
    the sum is decimal like events_outliers), then ONE integer division
    by the span. Ties in ts contribute zero-length segments, so the
    event_id tie order cannot change the answer. One shuffle on user_id
    (window + groupBy share it)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        F.floor(F.col("value") * F.lit(1_000_000.0)).cast("long").alias("vus"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    seg = ev.withColumn("nxt_ts", F.lead("ts_us").over(w)).filter(
        F.col("nxt_ts").isNotNull()
    )
    dur = F.col("nxt_ts") - F.col("ts_us")
    agg = seg.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(dur).alias("span_us"),
        F.sum(F.col("vus").cast("decimal(38,0)") * dur.cast("decimal(38,0)")).alias(
            "__wsum"
        ),
    )
    return agg.filter(F.col("span_us") > 0).select(
        "user_id",
        "n_segments",
        "span_us",
        F.expr("cast(__wsum div span_us as bigint)").alias("twa_us"),
    )


SQL_EVENTS_TIME_WEIGHTED = """
WITH ev AS (
  SELECT user_id, event_id, epoch_us(ts::TIMESTAMP) AS ts_us,
         floor(value * 1000000.0)::BIGINT AS vus
  FROM events),
seg AS (
  SELECT user_id, vus, ts_us,
         lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS nxt_ts
  FROM ev)
SELECT user_id, count(*) AS n_segments,
       sum(nxt_ts - ts_us)::BIGINT AS span_us,
       (sum(vus::HUGEINT * (nxt_ts - ts_us)::HUGEINT)
        // sum(nxt_ts - ts_us)::HUGEINT)::BIGINT AS twa_us
FROM seg WHERE nxt_ts IS NOT NULL
GROUP BY user_id HAVING sum(nxt_ts - ts_us) > 0
ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# market-basket association rules (support / confidence / lift)
# ---------------------------------------------------------------------------

BASKET_MIN_SUPPORT = 3  # pair must co-occur in >= 3 orders


def q_basket_pair_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over order baskets: for every part pair
    co-occurring in ≥ 3 orders, exact-integer support, directional
    confidence, and lift in parts-per-million — the frequent-itemset /
    recommender primitive (Apriori's k=2 stage) no TPC-H query covers.

    Ratios are ppm via integer division (``n·1e6 div d``) so they
    hash-match across engines; lift's numerator ``n_ab·n_orders·1e6``
    peaks ≈ 5e13 at sf0.1 — safely BIGINT.

    100 TB posture: pair generation is the per-order self-join of the
    DISTINCT (order, part) basket — co-partitioned on orderkey, so the
    fan-out is Σ C(k,2) per basket (k ≤ 13 here), never |parts|²; the
    per-part totals are a tiny dim broadcast to the pair frame, and the
    grand total rides the same broadcast (1-row cross join). Two
    shuffles total (orderkey, pair key). A hub PART cannot blow this
    up — only a hub ORDER could, and basket size is naturally bounded
    (cap k per basket before pairing if a domain ever violates that).
    """
    li = load_table(spark, sf_dir, "lineitem")
    baskets = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    part_n = baskets.groupBy("p").agg(F.count(F.lit(1)).alias("n_p"))
    total = baskets.select(
        F.count_distinct(F.col("o")).alias("n_orders")
    )
    a, b = baskets.alias("a"), baskets.alias("b")
    pairs = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .groupBy(
            F.col("a.p").alias("part_a"), F.col("b.p").alias("part_b")
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= BASKET_MIN_SUPPORT)
    )
    out = (
        pairs.join(
            F.broadcast(part_n.select(F.col("p").alias("part_a"), F.col("n_p").alias("n_a"))),
            "part_a",
        )
        .join(
            F.broadcast(part_n.select(F.col("p").alias("part_b"), F.col("n_p").alias("n_b"))),
            "part_b",
        )
        .crossJoin(F.broadcast(total))
    )
    return out.select(
        "part_a",
        "part_b",
        "n_ab",
        "n_a",
        "n_b",
        "n_orders",
        F.expr("n_ab * 1000000 div n_orders").alias("support_ppm"),
        F.expr("n_ab * 1000000 div n_a").alias("conf_a_b_ppm"),
        F.expr("n_ab * 1000000 div n_b").alias("conf_b_a_ppm"),
        F.expr("n_ab * n_orders * 1000000 div (n_a * n_b)").alias("lift_ppm"),
    )


SQL_BASKET_PAIR_LIFT = f"""
WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
part_n AS (SELECT p, count(*) AS n_p FROM b GROUP BY p),
total AS (SELECT count(DISTINCT o) AS n_orders FROM b),
pairs AS (
  SELECT a.p AS part_a, c.p AS part_b, count(*) AS n_ab
  FROM b a JOIN b c ON a.o = c.o AND a.p < c.p
  GROUP BY 1, 2
  HAVING count(*) >= {BASKET_MIN_SUPPORT})
SELECT part_a, part_b, n_ab,
       pa.n_p AS n_a, pb.n_p AS n_b, n_orders,
       n_ab * 1000000 // n_orders AS support_ppm,
       n_ab * 1000000 // pa.n_p AS conf_a_b_ppm,
       n_ab * 1000000 // pb.n_p AS conf_b_a_ppm,
       n_ab * n_orders * 1000000 // (pa.n_p * pb.n_p) AS lift_ppm
FROM pairs
JOIN part_n pa ON pa.p = part_a
JOIN part_n pb ON pb.p = part_b
CROSS JOIN total
ORDER BY part_a, part_b
"""


# ---------------------------------------------------------------------------
# KMV set operations (union / intersection / Jaccard across segments)
# ---------------------------------------------------------------------------

KMV_SET_K = 64
KMV_SEG_A = "click"
KMV_SEG_B = "error"
_DAY_US = 86_400_000_000


def q_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-set OVERLAP between two event segments estimated from
    two k=64 KMV sketches — the theta-sketch set-operation workflow
    (segment overlap / audience intersection) where exact COUNT(DISTINCT
    … INTERSECT …) over 100 TB would be its own shuffle-heavy job.

    The key is a user-day (user_id·1e5 + epoch-day), whose 'click' and
    'error' segments genuinely partially overlap (sf0.01: 1601 vs 1612
    with 595 common — Jaccard ≈ 0.23), so the intersection estimator is
    exercised away from both degenerate ends. Hashes are the shared
    60-bit MD5 primitive, so sketch contents, estimates, and the ppm
    Jaccard are all BIT-equal across engines; the exact union and
    intersection twins ride along to make the ~12.7% (1/√62) error
    visible rather than asserted."""
    from dataplatform_cdc_pipeline_spark.operators.sketches import (
        kmv_set_estimate,
        kmv_sketch,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr(f"cast(user_id * 100000 + (unix_micros(ts) div {_DAY_US}) as string)").alias(
            "ud"
        ),
    )
    sk_a = kmv_sketch(ev.filter(F.col("event_type") == KMV_SEG_A), "ud", [], KMV_SET_K)
    sk_b = kmv_sketch(ev.filter(F.col("event_type") == KMV_SEG_B), "ud", [], KMV_SET_K)
    est = kmv_set_estimate(sk_a, sk_b, KMV_SET_K)
    both = ev.filter(F.col("event_type").isin(KMV_SEG_A, KMV_SEG_B))
    ex_union = both.agg(F.count_distinct("ud").alias("exact_union"))
    ex_int = (
        both.filter(F.col("event_type") == KMV_SEG_A)
        .select("ud")
        .intersect(both.filter(F.col("event_type") == KMV_SEG_B).select("ud"))
        .agg(F.count(F.lit(1)).alias("exact_intersection"))
    )
    return est.crossJoin(F.broadcast(ex_union)).crossJoin(F.broadcast(ex_int))


_KMV_SET_EST = (
    f"CASE WHEN {{n}} < {KMV_SET_K} THEN {{n}} "
    f"ELSE CAST(floor({KMV_SET_K - 1}.0 * 1152921504606846976.0 "
    f"/ CAST({{kth}} AS DOUBLE)) AS BIGINT) END"
)

SQL_KMV_SET_OPS = f"""
WITH ud AS (
  SELECT event_type,
         (user_id * 100000 + epoch_us(ts::TIMESTAMP) // {_DAY_US})::VARCHAR AS ud
  FROM events),
ha AS (SELECT DISTINCT ('0x' || substring(md5(ud), 1, 15))::BIGINT AS hv
       FROM ud WHERE event_type = '{KMV_SEG_A}'),
hb AS (SELECT DISTINCT ('0x' || substring(md5(ud), 1, 15))::BIGINT AS hv
       FROM ud WHERE event_type = '{KMV_SEG_B}'),
ska AS (SELECT hv FROM (SELECT hv, row_number() OVER (ORDER BY hv) AS rk FROM ha)
        WHERE rk <= {KMV_SET_K}),
skb AS (SELECT hv FROM (SELECT hv, row_number() OVER (ORDER BY hv) AS rk FROM hb)
        WHERE rk <= {KMV_SET_K}),
l AS (SELECT hv FROM (
        SELECT hv, row_number() OVER (ORDER BY hv) AS rk
        FROM (SELECT DISTINCT hv FROM (SELECT hv FROM ska UNION ALL SELECT hv FROM skb)))
      WHERE rk <= {KMV_SET_K}),
stats AS (
  SELECT count(*) AS n_union_sketch, max(hv) AS kth_union,
         sum(CASE WHEN hv IN (SELECT hv FROM ska)
                   AND hv IN (SELECT hv FROM skb) THEN 1 ELSE 0 END)::BIGINT AS n_both
  FROM l),
exacts AS (
  SELECT (SELECT count(DISTINCT ud) FROM ud
          WHERE event_type IN ('{KMV_SEG_A}', '{KMV_SEG_B}')) AS exact_union,
         (SELECT count(*) FROM
            (SELECT DISTINCT ud FROM ud WHERE event_type = '{KMV_SEG_A}'
             INTERSECT
             SELECT DISTINCT ud FROM ud WHERE event_type = '{KMV_SEG_B}')) AS exact_intersection)
SELECT n_union_sketch, kth_union, n_both,
       {_KMV_SET_EST.format(n='n_union_sketch', kth='kth_union')} AS est_union,
       n_both * 1000000 // n_union_sketch AS jaccard_ppm,
       n_both * {_KMV_SET_EST.format(n='n_union_sketch', kth='kth_union')}
              // n_union_sketch AS est_intersection,
       exact_union, exact_intersection
FROM stats CROSS JOIN exacts
"""


# ---------------------------------------------------------------------------
# hashing-trick feature extraction (signed feature hashing)
# ---------------------------------------------------------------------------

FH_BUCKETS = 64
FH_DOC_MOD = 17  # deterministic doc subset keeps the verified output compact


def q_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed feature hashing (Weinberger et al. 2009 — the 'hashing
    trick'): every token maps to ``md5 % 64`` and contributes ±1 by an
    INDEPENDENT salted digest, so each document becomes a fixed-width
    sparse vector with unbiased collisions (E[feature] preserves the
    inner product) — the vectorizer for linear classifiers / quality
    models over corpora whose vocabulary (unbounded at 100 TB) could
    never be indexed for one-hot encoding.

    Stateless per token — NO vocabulary build, no global pass, which is
    the whole point at scale: one explode + one (doc, bucket) groupBy
    with map-side combine; the output is bounded at 64 rows per doc
    regardless of corpus size. Both the bucket and the sign come from
    the shared 60-bit MD5 primitive, so every feature value hash-matches
    DuckDB. The verified slice is a 1-in-17 deterministic doc subset;
    the operator itself has no such restriction."""
    from dataplatform_cdc_pipeline_spark.functions.hashing import md5_long

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % FH_DOC_MOD == 0
    )
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    h = toks.select(
        "doc_id",
        F.pmod(md5_long(F.col("tok")), F.lit(FH_BUCKETS)).alias("bucket"),
        F.when(F.pmod(md5_long(F.col("tok"), salt="sign"), F.lit(2)) == 0, F.lit(1))
        .otherwise(F.lit(-1))
        .alias("sign"),
    )
    return h.groupBy("doc_id", "bucket").agg(
        F.sum("sign").cast("long").alias("feat"),
        F.count(F.lit(1)).alias("n_tok"),
    )


def _sql_feature_hashing() -> str:
    from dataplatform_cdc_pipeline_spark.functions.hashing import md5_long_sql

    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
  FROM documents WHERE doc_id % {FH_DOC_MOD} = 0),
h AS (
  SELECT doc_id,
         {md5_long_sql('tok')} % {FH_BUCKETS} AS bucket,
         CASE WHEN {md5_long_sql('tok', salt='sign')} % 2 = 0
              THEN 1 ELSE -1 END AS sign
  FROM toks WHERE tok != '')
SELECT doc_id, bucket, sum(sign)::BIGINT AS feat, count(*) AS n_tok
FROM h GROUP BY doc_id, bucket ORDER BY doc_id, bucket
"""


SQL_FEATURE_HASHING = _sql_feature_hashing()


# ---------------------------------------------------------------------------
# cross-table atomic transactions (operators/multi_txn.py)
# ---------------------------------------------------------------------------


def q_cdc_multi_txn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-table atomic lifecycle through the 2PC coordinator
    (operators/multi_txn.MultiTableTxn): each of the two watermark
    windows lands in ONE cross-table transaction — table A is the
    user_state merge, table B is a per-event-type running total of CDC
    records ACCUMULATED across the transactions (its thunk reads B's
    previous committed state, so a lost or doubled window-1 commit —
    exactly what a broken two-phase protocol produces — shifts every
    total). The output unions both tables' final states under a table
    tag; the oracle recomputes each side relationally, so the hash gate
    covers the atomic-commit machinery end to end, not just one table.
    """
    import datetime
    import tempfile

    from dataplatform_cdc_pipeline_spark.operators.multi_txn import MultiTableTxn
    from dataplatform_cdc_pipeline_spark.operators.snapshot_target import (
        SnapshotMergeTarget,
    )
    from dataplatform_cdc_pipeline_spark.plans.merge_plan import (
        build_changes,
        window_scan,
    )
    from dataplatform_cdc_pipeline_spark.queries import cdc_feed
    from dataplatform_cdc_pipeline_spark.sources.cdc import (
        USER_STATE_SCHEMA,
        user_state_config,
    )
    from pyspark.sql import types as T

    raw = cdc_feed(spark, sf_dir)
    cfg_a = user_state_config()
    cfg_b = user_state_config(target_table="type_totals", pk="event_type")
    b_schema = T.StructType(
        [
            T.StructField("event_type", T.StringType()),
            T.StructField("n_rows", T.LongType()),
        ]
    )
    tmp = tempfile.mkdtemp(prefix="cdc_mtxn_q_")
    ta = SnapshotMergeTarget(spark, f"{tmp}/a", cfg_a, USER_STATE_SCHEMA)
    tb = SnapshotMergeTarget(spark, f"{tmp}/b", cfg_b, b_schema)
    txn = MultiTableTxn(f"{tmp}/txn")
    split = datetime.datetime(2024, 1, 15)
    for lo, hi in [(None, split), (split, None)]:
        # NOTE: unlike cdc_merge_dlq (two heavy legs), caching `w` here
        # measured neutral-at-best — leg B's second evaluation is a cheap
        # column-pruned scan + agg, about the cost of the cache write
        w = window_scan(raw, cfg_a, lo, hi)
        changes_a = build_changes(w, USER_STATE_SCHEMA, cfg_a, deterministic_audit=True)
        delta = (
            w.select(F.get_json_object("data", "$.event_type").alias("event_type"))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("__d"))
        )
        prev = tb.read().select("event_type", F.col("n_rows").alias("__prev"))
        changes_b = delta.join(prev, "event_type", "left").select(
            "event_type",
            (F.col("__d") + F.coalesce(F.col("__prev"), F.lit(0)))
            .cast("long")
            .alias("n_rows"),
            F.lit(None).cast("timestamp").alias("source_ts_ns_order"),
            F.lit(0).cast("long").alias("pos"),
            F.lit("c").alias("__op"),
        )
        txn.commit(
            [
                (ta, lambda ca=changes_a: ta.merge(ca)),
                (tb, lambda cb=changes_b: tb.merge(cb)),
            ]
        )
    a_rows = ta.read().select(
        F.lit("state").alias("tbl"),
        F.col("user_id").cast("string").alias("key"),
        F.floor(F.col("value") * F.lit(1_000_000.0)).cast("long").alias("val"),
    )
    b_rows = tb.read().select(
        F.lit("type_totals").alias("tbl"),
        F.col("event_type").alias("key"),
        F.col("n_rows").alias("val"),
    )
    return a_rows.unionByName(b_rows)


SQL_CDC_MULTI_TXN = """
WITH ranked AS (
  SELECT user_id,
         CASE WHEN event_type = 'error' THEN 'd'
              WHEN event_type = 'signup' THEN 'c' ELSE 'u' END AS op,
         value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts::TIMESTAMP) DESC,
                                     event_id DESC) AS rn
  FROM events)
SELECT 'state' AS tbl, user_id::VARCHAR AS key,
       floor(value * 1000000.0)::BIGINT AS val
FROM ranked WHERE rn = 1 AND op != 'd'
UNION ALL
SELECT 'type_totals' AS tbl, event_type AS key, count(*)::BIGINT AS val
FROM events GROUP BY event_type
ORDER BY tbl, key
"""


_SPLIT = "2024-01-15 00:00:00"


def q_txn_recover_torn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Presumed-commit recovery made oracle-visible (multi_txn.py:244):
    window 1 commits normally through the two-table coordinator; window
    2's transaction is DECIDED (the meta-manifest CAS landed) but the
    coordinator 'crashes' before finalize — simulated by suppressing
    ``_finalize`` for exactly that commit, which leaves both staged
    manifests unlinked. Direct table reads in the in-doubt window still
    see the window-1 versions (the ``*_pre`` rows — 2PC's documented
    stale-read window). ``recover()`` then re-finalizes every decided
    transaction: it must link exactly the 2 staged manifests
    (``recover_links`` row) and bring both tables to the full
    transactional state. A recovery that lost a table, double-applied a
    window, or re-ran thunks diverges the hash (table B accumulates
    across windows, so any replay shifts its totals)."""
    from pyspark.sql import types as T

    from dataplatform_cdc_pipeline_spark.operators.multi_txn import MultiTableTxn
    from dataplatform_cdc_pipeline_spark.operators.snapshot_target import (
        SnapshotMergeTarget,
    )
    from dataplatform_cdc_pipeline_spark.plans.merge_plan import (
        build_changes,
        window_scan,
    )
    from dataplatform_cdc_pipeline_spark.queries import _ROW_SCHEMA, cdc_feed
    from dataplatform_cdc_pipeline_spark.sources.cdc import (
        USER_STATE_SCHEMA,
        user_state_config,
    )

    raw = cdc_feed(spark, sf_dir)
    cfg_a = user_state_config()
    cfg_b = user_state_config(target_table="type_totals", pk="event_type")
    b_schema = T.StructType(
        [
            T.StructField("event_type", T.StringType()),
            T.StructField("n_rows", T.LongType()),
        ]
    )
    tmp = tempfile.mkdtemp(prefix="txn_recover_q_")
    ta = SnapshotMergeTarget(spark, f"{tmp}/a", cfg_a, USER_STATE_SCHEMA)
    tb = SnapshotMergeTarget(spark, f"{tmp}/b", cfg_b, b_schema)
    txn = MultiTableTxn(f"{tmp}/txn")
    split = datetime.datetime(2024, 1, 15)

    def commit_window(lo, hi) -> None:
        w = window_scan(raw, cfg_a, lo, hi)
        changes_a = build_changes(w, USER_STATE_SCHEMA, cfg_a, deterministic_audit=True)
        delta = (
            w.select(F.get_json_object("data", "$.event_type").alias("event_type"))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("__d"))
        )
        prev = tb.read().select("event_type", F.col("n_rows").alias("__prev"))
        changes_b = delta.join(prev, "event_type", "left").select(
            "event_type",
            (F.col("__d") + F.coalesce(F.col("__prev"), F.lit(0)))
            .cast("long")
            .alias("n_rows"),
            F.lit(None).cast("timestamp").alias("source_ts_ns_order"),
            F.lit(0).cast("long").alias("pos"),
            F.lit("c").alias("__op"),
        )
        txn.commit(
            [
                (ta, lambda ca=changes_a: ta.merge(ca)),
                (tb, lambda cb=changes_b: tb.merge(cb)),
            ]
        )

    commit_window(None, split)
    bench_phases.mark("txn_w1")
    # window 2: crash immediately AFTER the decide CAS, BEFORE finalize —
    # the staged manifests stay unlinked, exactly the in-doubt state
    # recover() exists for (presumed commit: decided => will finalize)
    orig_finalize = txn._finalize
    txn._finalize = lambda meta: None
    try:
        commit_window(split, None)
    finally:
        txn._finalize = orig_finalize
    bench_phases.mark("txn_w2_decided_not_finalized")

    def rows(tag_a: str, tag_b: str) -> DataFrame:
        a = ta.read().select(
            F.lit(tag_a).alias("tbl"),
            F.col("user_id").cast("string").alias("key"),
            F.floor(F.col("value") * F.lit(1_000_000.0)).cast("long").alias("val"),
        )
        b = tb.read().select(
            F.lit(tag_b).alias("tbl"),
            F.col("event_type").alias("key"),
            F.col("n_rows").alias("val"),
        )
        return a.unionByName(b)

    # the in-doubt window IS observable through direct reads: pin it
    # eagerly before recovery flips the manifests underneath the plan
    pre = rows("state_pre", "totals_pre").localCheckpoint(eager=True)
    n_links = txn.recover()
    bench_phases.mark("recover")
    post = rows("state", "totals")
    links = spark.createDataFrame(
        [("recover_links", "n", n_links)], _ROW_SCHEMA
    )
    return pre.unionByName(post).unionByName(links)


SQL_TXN_RECOVER_TORN = f"""
WITH r1 AS (
  SELECT user_id,
         CASE WHEN event_type = 'error' THEN 'd'
              WHEN event_type = 'signup' THEN 'c' ELSE 'u' END AS op,
         value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts::TIMESTAMP) DESC,
                                     event_id DESC) AS rn
  FROM events WHERE ts <= TIMESTAMP '{_SPLIT}'),
r2 AS (
  SELECT user_id,
         CASE WHEN event_type = 'error' THEN 'd'
              WHEN event_type = 'signup' THEN 'c' ELSE 'u' END AS op,
         value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts::TIMESTAMP) DESC,
                                     event_id DESC) AS rn
  FROM events)
SELECT 'state_pre' AS tbl, user_id::VARCHAR AS key,
       floor(value * 1000000.0)::BIGINT AS val
FROM r1 WHERE rn = 1 AND op != 'd'
UNION ALL
SELECT 'totals_pre', event_type, count(*)::BIGINT
FROM events WHERE ts <= TIMESTAMP '{_SPLIT}' GROUP BY event_type
UNION ALL
SELECT 'state', user_id::VARCHAR, floor(value * 1000000.0)::BIGINT
FROM r2 WHERE rn = 1 AND op != 'd'
UNION ALL
SELECT 'totals', event_type, count(*)::BIGINT FROM events GROUP BY event_type
UNION ALL
SELECT 'recover_links', 'n', 2::BIGINT
ORDER BY tbl, key
"""


# ---------------------------------------------------------------------------
# window navigation-function contract (frames + IGNORE NULLS)
# ---------------------------------------------------------------------------

WNAV_USER_MOD = 20  # verified slice: user_id % 20 == 3


def q_window_nav_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Executable contract for the navigation window functions the
    ranking suite (order_window_suite) doesn't cover — the two places
    engines classically diverge, pinned cross-engine per row:

    - FRAME EXTENTS: ``last_value`` over the DEFAULT frame (… CURRENT
      ROW) is the current row, not the partition max — the classic
      "last_value doesn't do what you think" footgun — while the
      explicit UNBOUNDED FOLLOWING frame gives the partition-final
      value; ``nth_value(…, 3)`` needs the full frame to be stable.
    - IGNORE NULLS: first non-null over the partition, the
      last-non-null RUNNING frame (exactly the LOCF gap-fill
      primitive), and 2nd-non-null — over a deterministically
      sparsified column (value present only when event_id % 5 == 0).

    Order is (ts_us, event_id) — unique, so RANGE-vs-ROWS peer
    semantics cannot blur the default-frame comparison. Pure window
    pass, one shuffle on user_id."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id") % WNAV_USER_MOD == 3
    ).select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        F.floor(F.col("value") * F.lit(1_000_000.0)).cast("long").alias("vus"),
    ).withColumn(
        "v_nn", F.when(F.col("event_id") % 5 == 0, F.col("vus"))
    )
    base = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    w_ord = base  # default frame: RANGE UNBOUNDED PRECEDING .. CURRENT ROW
    w_run = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_full = base.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return ev.select(
        "user_id",
        "event_id",
        F.first("vus").over(w_full).alias("fv"),
        F.last("vus").over(w_ord).alias("lv_dflt"),
        F.last("vus").over(w_full).alias("lv_full"),
        F.nth_value("vus", 3).over(w_full).alias("nth3"),
        F.first("v_nn", ignorenulls=True).over(w_full).alias("first_nn"),
        F.last("v_nn", ignorenulls=True).over(w_run).alias("locf_nn"),
        F.nth_value("v_nn", 2, ignoreNulls=True).over(w_full).alias("nth2_nn"),
    )


SQL_WINDOW_NAV_SUITE = f"""
WITH ev AS (
  SELECT user_id, event_id, epoch_us(ts::TIMESTAMP) AS ts_us,
         floor(value * 1000000.0)::BIGINT AS vus,
         CASE WHEN event_id % 5 = 0
              THEN floor(value * 1000000.0)::BIGINT END AS v_nn
  FROM events WHERE user_id % {WNAV_USER_MOD} = 3)
SELECT user_id, event_id,
       first_value(vus) OVER w_full AS fv,
       last_value(vus) OVER w_ord AS lv_dflt,
       last_value(vus) OVER w_full AS lv_full,
       nth_value(vus, 3) OVER w_full AS nth3,
       first_value(v_nn IGNORE NULLS) OVER w_full AS first_nn,
       last_value(v_nn IGNORE NULLS) OVER w_run AS locf_nn,
       nth_value(v_nn, 2 IGNORE NULLS) OVER w_full AS nth2_nn
FROM ev
WINDOW
  w_ord AS (PARTITION BY user_id ORDER BY ts_us, event_id),
  w_run AS (PARTITION BY user_id ORDER BY ts_us, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
  w_full AS (PARTITION BY user_id ORDER BY ts_us, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
ORDER BY user_id, event_id
"""


# ---------------------------------------------------------------------------
# ratio-to-parent / ratio-to-report rollup (revenue share)
# ---------------------------------------------------------------------------


def q_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation revenue with its share of the REGION and of the GRAND
    total in ppm — the ratio_to_report / share-of-parent pattern every
    BI rollup needs and plain GROUP BY can't express without a second
    pass. Shares are decimal-exact integer divisions over the same
    DECIMAL(25,6) revenue sums the Q5 analog uses (a float ratio would
    hash-diverge); the two window sums run over the ALREADY-aggregated
    (region, nation) frame — 25 rows, so the empty-partition global
    window is coordinator-scale state, not a data shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    base = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(25,6)"
                )
            ).alias("rev")
        )
    )
    # exact-integer shares: lift the DECIMAL(25,6) revenue into integer
    # micro-currency FIRST — DuckDB's // on raw decimals routes through
    # DOUBLE and its last ppm digit diverges (measured), integers don't
    base = base.withColumn("rev_us", F.expr("cast(rev * 1000000 as decimal(38,0))"))
    return base.selectExpr(
        "r_name",
        "n_name",
        "cast(round(rev, 2) as double) as revenue",
        "cast((rev_us * 1000000) div (sum(rev_us) over (partition by r_name))"
        " as bigint) as share_region_ppm",
        "cast((rev_us * 1000000) div (sum(rev_us) over ()) as bigint)"
        " as share_total_ppm",
    )


SQL_REVENUE_SHARE = """
WITH base AS (
  SELECT r_name, n_name,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS rev
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY r_name, n_name)
SELECT r_name, n_name, round(rev, 2)::DOUBLE AS revenue,
       (rev_us * 1000000 // sum(rev_us) OVER (PARTITION BY r_name))::BIGINT
         AS share_region_ppm,
       (rev_us * 1000000 // sum(rev_us) OVER ())::BIGINT AS share_total_ppm
FROM (SELECT *, (rev * 1000000)::HUGEINT AS rev_us FROM base)
ORDER BY r_name, n_name
"""


# ---------------------------------------------------------------------------
# single-pass column profiler (Deequ/dbt-style table profiling)
# ---------------------------------------------------------------------------

PROFILE_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


def q_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profile of the documents table — row count,
    filled (non-null) count, exact distinct count, and min/max per
    column (native-type ordering, then cast to string for the uniform
    output shape) — the Deequ/Glue-profiler primitive that feeds DQ
    rule suggestion and drift monitoring.

    ONE aggregate over the scan computes every column's stats
    (stack() unpivots the single row afterwards — metadata-scale).
    The exact multi-column COUNT(DISTINCT) expands the input ×|cols|
    (Spark's Expand operator); at 100 TB swap the distinct legs for the
    KMV sketch (operators/sketches.py) — same output shape, one
    map-side pass, documented trade."""
    docs = load_table(spark, sf_dir, "documents")
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in PROFILE_COLS:
        aggs += [
            F.count(c).alias(f"{c}__f"),
            F.count_distinct(F.col(c)).alias(f"{c}__d"),
            F.min(c).cast("string").alias(f"{c}__mn"),
            F.max(c).cast("string").alias(f"{c}__mx"),
        ]
    one = docs.agg(*aggs)
    stack = ", ".join(
        f"'{c}', {c}__f, {c}__d, {c}__mn, {c}__mx" for c in PROFILE_COLS
    )
    return one.selectExpr(
        "__n as n_rows",
        f"stack({len(PROFILE_COLS)}, {stack})"
        " as (col, n_filled, n_distinct, min_v, max_v)",
    ).select("col", "n_rows", "n_filled", "n_distinct", "min_v", "max_v")


SQL_CORPUS_PROFILE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS col, count(*) AS n_rows, count({c}) AS n_filled,
       count(DISTINCT {c}) AS n_distinct,
       min({c})::VARCHAR AS min_v, max({c})::VARCHAR AS max_v
FROM documents"""
    for c in PROFILE_COLS
)


# ---------------------------------------------------------------------------
# version-keyed result cache (operators/result_cache.py)
# ---------------------------------------------------------------------------


def q_cdc_cached_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Result-cache lifecycle over the snapshot sink: the per-type
    aggregate is computed ONCE per table version — the second ask at the
    same version is served from the cache with the compute function
    POISONED (a recompute would raise, so a silent cache miss cannot
    pass), and the window-2 commit bumps the manifest version, which
    structurally invalidates the entry and forces the fresh numbers the
    oracle checks. Hit/miss counters ride the output, so the hash gate
    pins the caching BEHAVIOR (1 hit, 2 misses), not just the final
    values."""
    import datetime
    import tempfile

    from dataplatform_cdc_pipeline_spark.operators.result_cache import ResultCache
    from dataplatform_cdc_pipeline_spark.operators.snapshot_target import (
        SnapshotMergeTarget,
    )
    from dataplatform_cdc_pipeline_spark.plans.merge_plan import (
        build_changes,
        window_scan,
    )
    from dataplatform_cdc_pipeline_spark.queries import cdc_feed
    from dataplatform_cdc_pipeline_spark.sources.cdc import (
        USER_STATE_SCHEMA,
        user_state_config,
    )

    raw = cdc_feed(spark, sf_dir)
    cfg = user_state_config()
    tmp = tempfile.mkdtemp(prefix="cdc_cache_q_")
    target = SnapshotMergeTarget(spark, f"{tmp}/t", cfg, USER_STATE_SCHEMA)
    cache = ResultCache(spark, f"{tmp}/cache")

    def compute() -> DataFrame:
        return (
            target.read()
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_users"))
        )

    def poisoned() -> DataFrame:
        raise AssertionError("result cache recomputed at an unchanged version")

    split = datetime.datetime(2024, 1, 15)
    for i, (lo, hi) in enumerate([(None, split), (split, None)]):
        w = window_scan(raw, cfg, lo, hi)
        target.merge(build_changes(w, USER_STATE_SCHEMA, cfg, deterministic_audit=True))
        v = {"user_state": target._read_version()}
        out = cache.get_or_compute("type_counts", v, compute)
        if i == 0:  # same version again: must serve, must not recompute
            out = cache.get_or_compute("type_counts", v, poisoned)
    return out.select(
        "event_type",
        "n_users",
        F.lit(cache.hits).cast("long").alias("n_hits"),
        F.lit(cache.misses).cast("long").alias("n_misses"),
    )


SQL_CDC_CACHED_READ = """
WITH ranked AS (
  SELECT user_id, event_type,
         CASE WHEN event_type = 'error' THEN 'd'
              WHEN event_type = 'signup' THEN 'c' ELSE 'u' END AS op,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts::TIMESTAMP) DESC,
                                     event_id DESC) AS rn
  FROM events)
SELECT event_type, count(*) AS n_users,
       1::BIGINT AS n_hits, 2::BIGINT AS n_misses
FROM ranked WHERE rn = 1 AND op != 'd'
GROUP BY event_type ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# dead-letter-queue merge (plans/quarantine.py + multi_txn)
# ---------------------------------------------------------------------------

DLQ_POISON_MOD = 97  # events with event_id % 97 == 0 get an uncastable value


def q_cdc_merge_dlq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarantine-mode merge: a feed where 1-in-97 payloads carry an
    uncastable ``value`` ("oops") runs the two-window lifecycle with
    ``quarantine_split`` — clean rows merge, poisoned rows land in a DLQ
    table tagged with the failing column, and each window commits BOTH
    tables in one MultiTableTxn (a crash can't drop or double either
    side). Under the default posture this exact feed would
    CAST_INVALID_INPUT-abort every batch (verify_probe P9); the DLQ mode
    trades that for managed-pipeline continuity WITHOUT weakening the
    merge itself — quarantining a row changes survivorship (the user's
    state falls back to their latest CLEAN event), which is exactly what
    the oracle recomputes."""
    import datetime
    import tempfile

    from pyspark.sql import types as T

    from dataplatform_cdc_pipeline_spark.operators.multi_txn import MultiTableTxn
    from dataplatform_cdc_pipeline_spark.operators.snapshot_target import (
        SnapshotMergeTarget,
    )
    from dataplatform_cdc_pipeline_spark.plans.merge_plan import (
        build_changes,
        window_scan,
    )
    from dataplatform_cdc_pipeline_spark.plans.quarantine import quarantine_split
    from dataplatform_cdc_pipeline_spark.sources.cdc import (
        USER_STATE_SCHEMA,
        synthesize_cdc_from_events,
        user_state_config,
    )

    ev = spread_scan(load_table(spark, sf_dir, "events"))
    poisoned = ev.withColumn(
        "value",
        F.when(F.col("event_id") % DLQ_POISON_MOD == 0, F.lit("oops")).otherwise(
            F.col("value").cast("string")
        ),
    )
    raw = synthesize_cdc_from_events(poisoned)
    cfg = user_state_config()
    cfg_q = user_state_config(target_table="cdc_quarantine", pk="q_pos")
    q_schema = T.StructType(
        [
            T.StructField("q_pos", T.LongType()),
            T.StructField("qerror", T.StringType()),
            T.StructField("data", T.StringType()),
        ]
    )
    tmp = tempfile.mkdtemp(prefix="cdc_dlq_q_")
    ta = SnapshotMergeTarget(spark, f"{tmp}/t", cfg, USER_STATE_SCHEMA)
    tq = SnapshotMergeTarget(spark, f"{tmp}/q", cfg_q, q_schema)
    txn = MultiTableTxn(f"{tmp}/txn")
    split = datetime.datetime(2024, 1, 15)
    for lo, hi in [(None, split), (split, None)]:
        # both tables' merges cache their own change sets, and each cache
        # materialization re-evaluates the upstream envelope (events scan
        # + poison + synthesize + window filter). Cache the window ONCE so
        # the state leg and the DLQ leg share a single upstream pass.
        w = window_scan(raw, cfg, lo, hi)
        w.cache()
        try:
            clean, quarantined = quarantine_split(w, USER_STATE_SCHEMA, cfg)
            ca = build_changes(clean, USER_STATE_SCHEMA, cfg, deterministic_audit=True)
            cq = quarantined.select(
                F.col("__pos").alias("q_pos"),
                F.concat_ws(",", "__qerrors").alias("qerror"),
                "data",
                F.lit(None).cast("timestamp").alias("source_ts_ns_order"),
                F.col("__pos").alias("pos"),
                F.lit("c").alias("__op"),
            )
            # sub-phase split (r7 verdict task 3): is the 2-window lifecycle
            # cost the MERGES or the txn machinery? Each thunk closes its own
            # span, so "txn_decide_finalize" is left holding only the
            # coordinator's manifest staging + decide CAS + finalize links.
            def _merge_state(c=ca):
                ta.merge(c)
                bench_phases.mark("merge_state")  # accumulates per window

            def _merge_dlq(c=cq):
                tq.merge(c)
                bench_phases.mark("merge_dlq")  # accumulates per window

            txn.commit([(ta, _merge_state), (tq, _merge_dlq)])
        finally:
            # a failed merge/commit must not leak the cached frame for
            # the rest of the bench/driver process (ADVICE r8)
            w.unpersist()
        bench_phases.mark("txn_decide_finalize")  # accumulates per window
    state_rows = ta.read().select(
        F.lit("state").alias("tbl"),
        F.col("user_id").cast("string").alias("key"),
        F.floor(F.col("value") * F.lit(1_000_000.0)).cast("long").alias("val"),
    )
    dlq_rows = tq.read().select(
        F.lit("dlq").alias("tbl"),
        F.concat_ws(":", F.col("q_pos").cast("string"), "qerror").alias("key"),
        F.lit(1).cast("long").alias("val"),
    )
    return state_rows.unionByName(dlq_rows)


SQL_CDC_MERGE_DLQ = f"""
WITH clean AS (
  SELECT user_id,
         CASE WHEN event_type = 'error' THEN 'd'
              WHEN event_type = 'signup' THEN 'c' ELSE 'u' END AS op,
         value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts::TIMESTAMP) DESC,
                                     event_id DESC) AS rn
  FROM events WHERE event_id % {DLQ_POISON_MOD} != 0)
SELECT 'state' AS tbl, user_id::VARCHAR AS key,
       floor(value * 1000000.0)::BIGINT AS val
FROM clean WHERE rn = 1 AND op != 'd'
UNION ALL
SELECT 'dlq' AS tbl, event_id::VARCHAR || ':value' AS key, 1::BIGINT AS val
FROM events WHERE event_id % {DLQ_POISON_MOD} = 0
ORDER BY tbl, key
"""


# ---------------------------------------------------------------------------
# exact aggregate-function matrix + explicit NULL-ordering contract
# ---------------------------------------------------------------------------


def q_agg_function_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Executable contract for the EXACT aggregate surface the scalar
    matrix doesn't touch: filtered counts (count_if / FILTER), the
    bitwise fold family (bit_and/or/xor — order-independent by algebra,
    so hash-stable under any partitioning), boolean quantifiers
    (bool_and/bool_or), argmin/argmax with a UNIQUE ordering key
    (min_by/max_by are nondeterministic under ties — event_id is unique,
    which is the contract being documented), and GROUP_CONCAT done
    right: sort-then-join over the distinct set, deterministic where a
    bare string_agg's order is engine-private. That last one upgrades
    the reference's A4 (GROUP_CONCAT codegen) from control-plane-only
    coverage to a data-plane oracle. One map-side-combining shuffle."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("count_if(value > 50.0)").alias("n_high"),
        F.expr("bit_and(user_id)").alias("band"),
        F.expr("bit_or(user_id)").alias("bor"),
        F.expr("bit_xor(user_id)").alias("bxor"),
        F.expr("bool_and(user_id % 2 = 0)").alias("all_even"),
        F.expr("bool_or(user_id % 2 = 0)").alias("any_even"),
        F.expr("max_by(user_id, event_id)").alias("last_user"),
        F.expr("min_by(user_id, event_id)").alias("first_user"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_set("user_id")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("users"),
    )


SQL_AGG_FUNCTION_MATRIX = """
SELECT event_type,
       count(*) AS n,
       count(*) FILTER (WHERE value > 50.0) AS n_high,
       bit_and(user_id) AS band,
       bit_or(user_id) AS bor,
       bit_xor(user_id) AS bxor,
       bool_and(user_id % 2 = 0) AS all_even,
       bool_or(user_id % 2 = 0) AS any_even,
       max_by(user_id, event_id) AS last_user,
       min_by(user_id, event_id) AS first_user,
       array_to_string(list_sort(list(DISTINCT user_id)), ',') AS users
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_null_order_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit NULL-ordering contract: the engines DISAGREE by default
    (Spark sorts NULLs first ascending, DuckDB last), so any ranking
    over a nullable key is silently non-portable unless the query pins
    NULLS FIRST/LAST — this suite pins both directions over a
    deterministically sparsified key (value NULLed when event_id % 4 ==
    0) and proves the pinned forms hash-match. Ties broken by event_id;
    one shuffle on event_type."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id") % 25 == 3
    ).select(
        "event_type",
        "event_id",
        F.when(
            F.col("event_id") % 4 != 0,
            F.floor(F.col("value") * F.lit(1_000_000.0)).cast("long"),
        ).alias("v_nn"),
    )
    w_last = Window.partitionBy("event_type").orderBy(
        F.col("v_nn").asc_nulls_last(), F.col("event_id").asc()
    )
    w_first = Window.partitionBy("event_type").orderBy(
        F.col("v_nn").desc_nulls_first(), F.col("event_id").asc()
    )
    return ev.select(
        "event_type",
        "event_id",
        "v_nn",
        F.row_number().over(w_last).alias("rn_asc_nulls_last"),
        F.row_number().over(w_first).alias("rn_desc_nulls_first"),
    )


SQL_NULL_ORDER_SUITE = """
WITH ev AS (
  SELECT event_type, event_id,
         CASE WHEN event_id % 4 != 0
              THEN floor(value * 1000000.0)::BIGINT END AS v_nn
  FROM events WHERE user_id % 25 = 3)
SELECT event_type, event_id, v_nn,
       row_number() OVER (PARTITION BY event_type
                          ORDER BY v_nn ASC NULLS LAST, event_id ASC)
         AS rn_asc_nulls_last,
       row_number() OVER (PARTITION BY event_type
                          ORDER BY v_nn DESC NULLS FIRST, event_id ASC)
         AS rn_desc_nulls_first
FROM ev ORDER BY event_type, event_id
"""


def q_stream_dlq_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of cdc_merge_dlq: the poisoned feed arrives as two
    mtime-ordered bronze files (one per watermark window) processed as
    separate micro-batches (maxFilesPerTrigger=1), each split clean/DLQ
    inside foreachBatch. Batch boundaries cannot change either table's
    final state, so the query shares the batch oracle — and replay
    safety here comes from BOTH legs being idempotent upserts rather
    than a cross-table transaction (the documented trade against
    cdc_multi_txn)."""
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import tempfile

    from pyspark.sql import types as T

    from dataplatform_cdc_pipeline_spark.operators.merge_target import (
        ParquetMergeTarget,
    )
    from dataplatform_cdc_pipeline_spark.sources.cdc import (
        USER_STATE_SCHEMA,
        synthesize_cdc_from_events,
        user_state_config,
    )
    from dataplatform_cdc_pipeline_spark.streaming.stream_merge import (
        run_streaming_merge_dlq,
    )

    ev = spread_scan(load_table(spark, sf_dir, "events"))
    poisoned = ev.withColumn(
        "value",
        F.when(F.col("event_id") % DLQ_POISON_MOD == 0, F.lit("oops")).otherwise(
            F.col("value").cast("string")
        ),
    )
    raw = synthesize_cdc_from_events(poisoned)
    tmp = tempfile.mkdtemp(prefix="stream_dlq_q_")
    src = f"{tmp}/bronze"
    _os.makedirs(src)

    def stage(df, name: str, mtime: float) -> None:
        d = f"{tmp}/stage_{name}"
        df.coalesce(1).write.parquet(d)
        part = _glob.glob(f"{d}/part-*.parquet")[0]
        dest = f"{src}/{name}.parquet"
        _shutil.move(part, dest)
        _os.utime(dest, (mtime, mtime))

    import datetime

    split = datetime.datetime(2024, 1, 15)
    t0 = 1_000_000_000
    stage(raw.filter(F.col("load_ts") <= F.lit(split)), "a_w1", t0)
    stage(raw.filter(F.col("load_ts") > F.lit(split)), "b_w2", t0 + 100)
    bench_phases.mark("setup")  # staged bronze feed ends here

    cfg = user_state_config()
    cfg_q = user_state_config(target_table="cdc_quarantine", pk="q_pos")
    q_schema = T.StructType(
        [
            T.StructField("q_pos", T.LongType()),
            T.StructField("qerror", T.StringType()),
            T.StructField("data", T.StringType()),
        ]
    )
    target = ParquetMergeTarget(spark, f"{tmp}/t", cfg, USER_STATE_SCHEMA)
    dlq = ParquetMergeTarget(spark, f"{tmp}/q", cfg_q, q_schema)
    run_streaming_merge_dlq(
        spark, cfg, target, dlq, USER_STATE_SCHEMA, src, f"{tmp}/ckpt",
        max_files_per_trigger=1,
    )
    bench_phases.mark("drain")  # the foreachBatch merge drain
    state_rows = target.read().select(
        F.lit("state").alias("tbl"),
        F.col("user_id").cast("string").alias("key"),
        F.floor(F.col("value") * F.lit(1_000_000.0)).cast("long").alias("val"),
    )
    dlq_rows = dlq.read().select(
        F.lit("dlq").alias("tbl"),
        F.concat_ws(":", F.col("q_pos").cast("string"), "qerror").alias("key"),
        F.lit(1).cast("long").alias("val"),
    )
    return state_rows.unionByName(dlq_rows)


# ---------------------------------------------------------------------------
# approx_percentile error-envelope pin (the events_hll_check pattern)
# ---------------------------------------------------------------------------

PCTL_ACCURACY = 100  # approx_percentile rank-error guarantee: <= n/accuracy
PCTL_QS = (0.5, 0.95)


def q_events_percentile_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pins Spark's approx_percentile (Greenwald-Khanna, accuracy=100)
    inside its DOCUMENTED rank-error envelope — for each quantile q the
    number of values ≤/< the returned answer must sit within n/accuracy
    of rank q·n — per event type over integer micro-values. Like
    events_hll_check, the approximate answer itself is engine-internal
    (DuckDB's approx_quantile is a different sketch) so the ENVELOPE is
    the contract, enforced fail-loud Spark-side; the hash covers the
    exact lower medians (rank selection, no interpolation floats) that
    ride along. Complements events_value_histogram, the engine's own
    deterministic quantile sketch."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.floor(F.col("value") * F.lit(1_000_000.0)).cast("long").alias("vus"),
    )
    qs = ", ".join(str(q) for q in PCTL_QS)
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"approx_percentile(vus, array({qs}), {PCTL_ACCURACY})").alias("ap"),
    )
    probes = stats.select(
        "event_type",
        "n",
        F.posexplode(F.col("ap")).alias("qi", "approx_vus"),
    )
    ranks = (
        ev.join(F.broadcast(probes), "event_type")
        .groupBy("event_type", "qi", "n", "approx_vus")
        .agg(
            F.sum(F.when(F.col("vus") <= F.col("approx_vus"), 1).otherwise(0)).alias(
                "n_le"
            ),
            F.sum(F.when(F.col("vus") < F.col("approx_vus"), 1).otherwise(0)).alias(
                "n_lt"
            ),
        )
    )
    bad = []
    for r in ranks.collect():  # |types|×|qs| rows — envelope gate, not data plane
        q = PCTL_QS[r["qi"]]
        slack = r["n"] / PCTL_ACCURACY + 1
        if not (r["n_le"] >= q * r["n"] - slack and r["n_lt"] <= q * r["n"] + slack):
            bad.append(dict(r.asDict()))
    if bad:
        raise RuntimeError(
            f"approx_percentile outside the n/{PCTL_ACCURACY} rank envelope: {bad}"
        )
    from dataplatform_cdc_pipeline_spark.queries_ext import _lower_median

    med = _lower_median(ev, "event_type", "vus", "event_id")
    return med.select(
        "event_type", "n", F.col("med_vus").alias("exact_p50_us"),
        F.lit(True).alias("within_envelope"),
    )


SQL_EVENTS_PERCENTILE_CHECK = """
WITH v AS (
  SELECT event_type, event_id, floor(value * 1000000.0)::BIGINT AS vus
  FROM events),
r AS (
  SELECT event_type, vus,
         row_number() OVER (PARTITION BY event_type ORDER BY vus, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM v)
SELECT event_type, n, vus AS exact_p50_us, TRUE AS within_envelope
FROM r WHERE rn = (n + 1) // 2 ORDER BY event_type
"""


REGISTRY = {
    q_events_bfs_reach: SQL_EVENTS_BFS_REACH,
    q_events_time_weighted: SQL_EVENTS_TIME_WEIGHTED,
    q_basket_pair_lift: SQL_BASKET_PAIR_LIFT,
    q_kmv_set_ops: SQL_KMV_SET_OPS,
    q_feature_hashing: SQL_FEATURE_HASHING,
    q_cdc_multi_txn: SQL_CDC_MULTI_TXN,
    q_txn_recover_torn: SQL_TXN_RECOVER_TORN,
    q_window_nav_suite: SQL_WINDOW_NAV_SUITE,
    q_revenue_share: SQL_REVENUE_SHARE,
    q_corpus_profile: SQL_CORPUS_PROFILE,
    q_cdc_cached_read: SQL_CDC_CACHED_READ,
    q_cdc_merge_dlq: SQL_CDC_MERGE_DLQ,
    q_agg_function_matrix: SQL_AGG_FUNCTION_MATRIX,
    q_null_order_suite: SQL_NULL_ORDER_SUITE,
    q_stream_dlq_merge: SQL_CDC_MERGE_DLQ,
    q_events_percentile_check: SQL_EVENTS_PERCENTILE_CHECK,
}
