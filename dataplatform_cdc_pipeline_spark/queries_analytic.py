"""Analytic query shapes over the TPC-H-ish tables: the classic decision-
support patterns (case-aggregation, scalar/correlated subqueries, group-
having join-back, disjunctive-predicate joins, anti-join cohorts, argmax
per group, market-share ratios, window deciles) — each with a DuckDB
oracle.

Numeric conventions follow queries.py: per-row arithmetic in double (bit-
identical across engines), SUMs in DECIMAL(25,6) (exact, partition-order-
independent), displayed via round-in-decimal or floor-scaling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dataplatform_cdc_pipeline_spark.sources.tables import load_table

DEC = "decimal(25,6)"


def _dec_sum(col: F.Column) -> F.Column:
    return F.sum(col.cast(DEC))


def _rev() -> F.Column:
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


# ---------------------------------------------------------------------------
# Q12 shape: join + CASE aggregation (shipping priority mix)
# ---------------------------------------------------------------------------


def q_shipping_priority_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per line status, how many lineitems belong to high- vs low-priority
    orders. One shuffle join on the order key (both sides large at scale —
    no broadcast), then a map-side-combined CASE aggregation."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_linestatus")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(high.cast("long")).alias("high_line_count"),
            F.sum((~high).cast("long")).alias("low_line_count"),
        )
    )


SQL_SHIPPING_PRIORITY_MIX = """
SELECT l_linestatus,
       sum((o_orderpriority IN ('1-URGENT', '2-HIGH'))::INT)::BIGINT AS high_line_count,
       sum((o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))::INT)::BIGINT AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY l_linestatus
"""

# ---------------------------------------------------------------------------
# Q14 shape: broadcast dim join + conditional ratio (promo revenue share)
# ---------------------------------------------------------------------------


def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROMO-part revenue share of 1996 shipments. The part table is ~30×
    smaller than lineitem → broadcast join; the ratio is one 1-row agg."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.year("l_shipdate") == 1996)
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    promo = F.when(F.col("p_type") == "PROMO", _rev().cast(DEC)).otherwise(
        F.lit(0).cast(DEC)
    )
    return j.agg(
        (
            F.floor(
                F.lit(100.0) * F.sum(promo).cast("double")
                / _dec_sum(_rev()).cast("double") * 10000.0
            )
            / 10000.0
        ).alias("promo_revenue_pct")
    )


SQL_PROMO_REVENUE = """
SELECT floor(100.0 *
         sum(CASE WHEN p_type = 'PROMO'
                  THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))
                  ELSE CAST(0 AS DECIMAL(25,6)) END)::DOUBLE /
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6)))::DOUBLE
       * 10000.0) / 10000.0 AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE year(l_shipdate) = 1996
"""

# ---------------------------------------------------------------------------
# Q18 shape: group-HAVING then join back (large-volume customers)
# ---------------------------------------------------------------------------

LARGE_QTY_THRESHOLD = 150


def q_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders whose total quantity exceeds the threshold, joined back to
    order + customer detail. The HAVING aggregate runs FIRST (one shuffle
    on the fact's own key, map-side combine), so only qualifying keys —
    a tiny fraction — reach the joins."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(_dec_sum(F.col("l_quantity")), 2).cast("double").alias("sum_qty"))
        .filter(F.col("sum_qty") > LARGE_QTY_THRESHOLD)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice", "sum_qty")
    )


SQL_LARGE_VOLUME_CUSTOMER = f"""
WITH big AS (
  SELECT l_orderkey, round(sum(CAST(l_quantity AS DECIMAL(25,6))), 2)::DOUBLE AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING round(sum(CAST(l_quantity AS DECIMAL(25,6))), 2)::DOUBLE > {LARGE_QTY_THRESHOLD})
SELECT c_custkey, c_name, o_orderkey, o_totalprice, sum_qty
FROM big JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
"""

# ---------------------------------------------------------------------------
# Q19 shape: disjunctive-predicate join (discounted revenue)
# ---------------------------------------------------------------------------

BRAND_BANDS = (("Brand#11", 1, 11), ("Brand#12", 10, 20), ("Brand#13", 20, 30))


def q_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-of-ANDs predicate across the part join — the classic case where
    the common join key still lets the engine hash-join first and apply
    the disjunction as a post-join filter (vs a cartesian per disjunct)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    pred = None
    for brand, lo, hi in BRAND_BANDS:
        c = (F.col("p_brand") == brand) & F.col("l_quantity").between(lo, hi)
        pred = c if pred is None else pred | c
    return j.filter(pred).agg(
        F.round(_dec_sum(_rev()), 2).cast("double").alias("revenue")
    )


SQL_DISCOUNTED_REVENUE = f"""
SELECT round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))), 2)::DOUBLE AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE {" OR ".join(f"(p_brand = '{b}' AND l_quantity BETWEEN {lo} AND {hi})" for b, lo, hi in BRAND_BANDS)}
"""

# ---------------------------------------------------------------------------
# Q22 shape: scalar-avg subquery + anti join (idle high-balance customers)
# ---------------------------------------------------------------------------


RECENT_CUTOFF = "2000-01-01"


def q_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with above-average (positive) balance and no RECENT
    orders (lapsed high-value accounts): broadcast the 1-row average,
    anti-join the recent-orders keys, aggregate by segment. The date
    filter pushes to the orders scan; the anti join shuffles only the
    filtered custkey projection."""
    cust = load_table(spark, sf_dir, "customer")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= RECENT_CUTOFF)
        .select("o_custkey")
    )
    avg_bal = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg((_dec_sum(F.col("c_acctbal")).cast("double") / F.count(F.lit(1))).alias("avg_bal"))
    )
    rich = cust.crossJoin(F.broadcast(avg_bal)).filter(F.col("c_acctbal") > F.col("avg_bal"))
    idle = rich.join(orders, rich.c_custkey == orders.o_custkey, "left_anti")
    return idle.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(_dec_sum(F.col("c_acctbal")), 2).cast("double").alias("total_acctbal"),
    )


SQL_SALES_OPPORTUNITY = f"""
WITH avg_bal AS (
  SELECT sum(CAST(c_acctbal AS DECIMAL(25,6)))::DOUBLE / count(*) AS avg_bal
  FROM customer WHERE c_acctbal > 0)
SELECT c_mktsegment, count(*) AS n_customers,
       round(sum(CAST(c_acctbal AS DECIMAL(25,6))), 2)::DOUBLE AS total_acctbal
FROM customer, avg_bal
WHERE c_acctbal > avg_bal
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderdate >= '{RECENT_CUTOFF}')
GROUP BY c_mktsegment
"""

# ---------------------------------------------------------------------------
# Q15 shape: argmax via scalar subquery (top supplier by revenue)
# ---------------------------------------------------------------------------


def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier(s) with the maximum lineitem revenue: per-supplier agg →
    broadcast 1-row MAX → equality filter (ties all surface; the decimal-
    rounded revenue makes the equality engine-portable)."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    per = li.groupBy("l_suppkey").agg(
        F.round(_dec_sum(_rev()), 2).cast("double").alias("total_revenue")
    )
    mx = per.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        per.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(supp), per.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


SQL_TOP_SUPPLIER = """
WITH per AS (
  SELECT l_suppkey,
         round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))), 2)::DOUBLE AS total_revenue
  FROM lineitem GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM per JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM per)
"""

# ---------------------------------------------------------------------------
# Q2 shape: min-cost supplier per part (argmin per group w/ tie-break)
# ---------------------------------------------------------------------------


def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every part, the supplier observed offering the lowest lineitem
    price (suppkey breaks ties): per-(part, supp) MIN → per-part
    row_number — two map-side-combinable aggs, dims broadcast in last."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    offer = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min("l_extendedprice").alias("best_price")
    )
    w = Window.partitionBy("l_partkey").orderBy(F.col("best_price").asc(), F.col("l_suppkey").asc())
    best = offer.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
    return (
        best.join(F.broadcast(supp), best.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("s_suppkey"),
            "s_name",
            F.col("n_name").alias("supplier_nation"),
            "best_price",
        )
    )


SQL_MIN_COST_SUPPLIER = """
WITH offer AS (
  SELECT l_partkey, l_suppkey, min(l_extendedprice) AS best_price
  FROM lineitem GROUP BY l_partkey, l_suppkey),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY l_partkey
                               ORDER BY best_price ASC, l_suppkey ASC) AS rk
  FROM offer)
SELECT l_partkey AS p_partkey, s_suppkey, s_name, n_name AS supplier_nation, best_price
FROM ranked JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
WHERE rk = 1
"""

# ---------------------------------------------------------------------------
# Q8 shape: market share (conditional ratio per year within a region)
# ---------------------------------------------------------------------------

SHARE_REGION = "ASIA"
SHARE_NATION = "NATION_2"


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATION_2 suppliers' share of revenue from ASIA customers, per order
    year. Fact-to-fact joins shuffle on their keys; all four dims
    broadcast. The share is a conditional decimal sum over total."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")

    cust_nat = nation.alias("cn")
    supp_nat = nation.alias("sn")
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(cust_nat), cust.c_nationkey == F.col("cn.n_nationkey"))
        .join(F.broadcast(region), F.col("cn.n_regionkey") == region.r_regionkey)
        .filter(region.r_name == SHARE_REGION)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(supp_nat), supp.s_nationkey == F.col("sn.n_nationkey"))
    )
    nat_rev = F.when(
        F.col("sn.n_name") == SHARE_NATION, _rev().cast(DEC)
    ).otherwise(F.lit(0).cast(DEC))
    return (
        j.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                F.floor(
                    F.sum(nat_rev).cast("double") / _dec_sum(_rev()).cast("double") * 1000000.0
                )
                / 1000000.0
            ).alias("mkt_share")
        )
    )


SQL_MARKET_SHARE = f"""
SELECT year(o_orderdate) AS o_year,
       floor(sum(CASE WHEN sn.n_name = '{SHARE_NATION}'
                      THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))
                      ELSE CAST(0 AS DECIMAL(25,6)) END)::DOUBLE /
             sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6)))::DOUBLE
             * 1000000.0) / 1000000.0 AS mkt_share
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN region ON cn.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE r_name = '{SHARE_REGION}'
GROUP BY year(o_orderdate)
"""

# ---------------------------------------------------------------------------
# window deciles: customer lifetime-value distribution
# ---------------------------------------------------------------------------


def q_customer_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers bucketed into LTV deciles (ntile over a total order), then
    per-decile count + average. ntile needs a global sort — correct here
    because it runs on the CUSTOMER aggregate (orders of magnitude smaller
    than the fact table); never decile a fact table this way."""
    orders = load_table(spark, sf_dir, "orders")
    ltv = orders.groupBy("o_custkey").agg(
        F.round(_dec_sum(F.col("o_totalprice")), 2).cast("double").alias("ltv")
    )
    w = Window.orderBy(F.col("ltv").desc(), F.col("o_custkey").asc())
    return (
        ltv.withColumn("decile", F.ntile(10).over(w))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            (
                F.floor(_dec_sum(F.col("ltv")).cast("double") / F.count(F.lit(1)) * 100.0) / 100.0
            ).alias("avg_ltv"),
        )
    )


SQL_CUSTOMER_VALUE_DECILES = """
WITH ltv AS (
  SELECT o_custkey, round(sum(CAST(o_totalprice AS DECIMAL(25,6))), 2)::DOUBLE AS ltv
  FROM orders GROUP BY o_custkey),
d AS (
  SELECT o_custkey, ltv, ntile(10) OVER (ORDER BY ltv DESC, o_custkey ASC) AS decile
  FROM ltv)
SELECT decile, count(*) AS n_customers,
       floor(sum(CAST(ltv AS DECIMAL(25,6)))::DOUBLE / count(*) * 100.0) / 100.0 AS avg_ltv
FROM d GROUP BY decile
"""

def q_customer_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration (the 80/20 question): for thresholds 50/80/90%
    of total revenue, how many top customers — and what fraction of the
    customer base — capture it. A running-window cumulative share over the
    CUSTOMER aggregate (small; the global-order window is fine here for
    the same reason as the deciles query), thresholds broadcast as a
    3-row frame. A customer counts toward threshold t while the share
    accumulated BEFORE it is still < t, so the crossing customer is
    included — the standard 'minimum prefix covering t' definition."""
    orders = load_table(spark, sf_dir, "orders")
    ltv = orders.groupBy("o_custkey").agg(_dec_sum(F.col("o_totalprice")).alias("ltv"))
    w = (
        Window.orderBy(F.col("ltv").desc(), F.col("o_custkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = ltv.withColumn("cum", F.sum("ltv").over(w))
    totals = ltv.agg(
        F.sum("ltv").alias("total"), F.count(F.lit(1)).alias("n_total")
    )
    th = spark.range(1).select(
        F.explode(F.array(F.lit(0.5), F.lit(0.8), F.lit(0.9))).alias("threshold")
    )
    return (
        cum.crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(th))
        .filter(
            (F.col("cum") - F.col("ltv")).cast("double")
            < F.col("threshold") * F.col("total").cast("double")
        )
        .groupBy("threshold")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            (
                F.floor(
                    F.count(F.lit(1)).cast("double")
                    / F.first("n_total").cast("double")
                    * F.lit(1_000_000.0)
                )
                / F.lit(1_000_000.0)
            ).alias("pct_customers"),
        )
    )


SQL_CUSTOMER_PARETO = """
WITH ltv AS (
  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(25,6))) AS ltv
  FROM orders GROUP BY o_custkey),
cum AS (
  SELECT o_custkey, ltv,
         sum(ltv) OVER (ORDER BY ltv DESC, o_custkey ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM ltv),
tot AS (SELECT sum(ltv) AS total, count(*) AS n_total FROM ltv),
th AS (SELECT unnest([0.5, 0.8, 0.9]) AS threshold)
SELECT threshold, count(*) AS n_customers,
       floor(count(*) * 1.0 / any_value(n_total) * 1000000.0) / 1000000.0
         AS pct_customers
FROM cum, tot, th
WHERE (cum - ltv)::DOUBLE < threshold * total::DOUBLE
GROUP BY threshold ORDER BY threshold
"""


# ---------------------------------------------------------------------------
# Q7 shape: nation-pair volume shipping (disjunctive pair predicate)
# ---------------------------------------------------------------------------

VS_NATION_A = "NATION_1"
VS_NATION_B = "NATION_2"


def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue shipped between two nations, per direction per year (TPC-H
    Q7 shape). Both fact joins shuffle on their own keys; the two nation
    dims broadcast, and the pair disjunction
    (cust=A ∧ supp=B) ∨ (cust=B ∧ supp=A) filters AFTER the dim joins —
    the broadcast-filtered nation pair prunes most rows before the
    fact-fact shuffle because each dim join keeps only the two nations."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin(VS_NATION_A, VS_NATION_B)
    )
    cn = nat.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    sn = nat.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    j = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .filter(
            ((F.col("cust_nation") == VS_NATION_A) & (F.col("supp_nation") == VS_NATION_B))
            | ((F.col("cust_nation") == VS_NATION_B) & (F.col("supp_nation") == VS_NATION_A))
        )
    )
    return j.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
    ).agg(F.round(_dec_sum(_rev()), 2).cast("double").alias("revenue"))


SQL_VOLUME_SHIPPING = f"""
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       year(l_shipdate) AS l_year,
       round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))), 2)::DOUBLE AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE (cn.n_name = '{VS_NATION_A}' AND sn.n_name = '{VS_NATION_B}')
   OR (cn.n_name = '{VS_NATION_B}' AND sn.n_name = '{VS_NATION_A}')
GROUP BY sn.n_name, cn.n_name, year(l_shipdate)
"""

# ---------------------------------------------------------------------------
# Q9 shape: product-type profit by supplier nation and year
# ---------------------------------------------------------------------------

PROFIT_PART_TYPE = "PROMO"
PROFIT_COST_FACTOR = 0.5  # stand-in supply cost: factor × retail price (no partsupp table)


def q_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profit on one part type by supplier nation and order year (TPC-H
    Q9 shape, adapted: the schema has no partsupp, so supply cost is a
    fixed factor of ``p_retailprice``). The part filter broadcasts and
    prunes the fact FIRST; orders joins shuffle-side for the year. Per-row
    arithmetic stays double (bit-identical cross-engine), the sum is
    DECIMAL."""
    li = load_table(spark, sf_dir, "lineitem")
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == PROFIT_PART_TYPE)
        .select("p_partkey", "p_retailprice")
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    amount = _rev() - F.lit(PROFIT_COST_FACTOR) * F.col("p_retailprice") * F.col(
        "l_quantity"
    )
    j = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), F.col("s_nationkey") == nat.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
    )
    return (
        j.groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(F.round(_dec_sum(amount), 2).cast("double").alias("sum_profit"))
    )


SQL_PRODUCT_TYPE_PROFIT = f"""
SELECT n_name AS nation, year(o_orderdate) AS o_year,
       round(sum(CAST(l_extendedprice * (1 - l_discount)
                      - {PROFIT_COST_FACTOR} * p_retailprice * l_quantity
                      AS DECIMAL(25,6))), 2)::DOUBLE AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_type = '{PROFIT_PART_TYPE}'
GROUP BY n_name, year(o_orderdate)
"""

# ---------------------------------------------------------------------------
# Q10 shape: returned-item report (top-k revenue loss customers)
# ---------------------------------------------------------------------------

RETURN_Q_START, RETURN_Q_END = "1996-01-01", "1996-04-01"
RETURN_TOP_K = 20


def q_returned_item_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers who returned the most revenue in one quarter (TPC-H Q10
    shape). The quarter filter pushes to the orders scan and the
    returnflag filter to the lineitem scan BEFORE their shuffle join; the
    top-k runs on the per-customer aggregate (tiny) with a deterministic
    (revenue DESC, custkey ASC) tie-break so k is stable cross-engine."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= RETURN_Q_START) & (F.col("o_orderdate") < RETURN_Q_END)
    )
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    per = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.round(_dec_sum(_rev()), 2).cast("double").alias("revenue"))
    )
    w = Window.orderBy(F.col("revenue").desc(), F.col("o_custkey").asc())
    topk = per.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= RETURN_TOP_K)
    return (
        topk.join(F.broadcast(cust), topk.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .select("c_custkey", "c_name", F.col("n_name").alias("nation"), "revenue")
    )


SQL_RETURNED_ITEM_REPORT = f"""
WITH per AS (
  SELECT o_custkey,
         round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))), 2)::DOUBLE AS revenue
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag = 'R'
    AND o_orderdate >= '{RETURN_Q_START}' AND o_orderdate < '{RETURN_Q_END}'
  GROUP BY o_custkey),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY revenue DESC, o_custkey ASC) AS rk FROM per)
SELECT c_custkey, c_name, n_name AS nation, revenue
FROM ranked JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
WHERE rk <= {RETURN_TOP_K}
"""

# ---------------------------------------------------------------------------
# Q13 shape: customer order-count distribution (left outer + histogram)
# ---------------------------------------------------------------------------

HIST_EXCLUDED_PRIORITY = "1-URGENT"


def q_customer_order_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of customers by number of (non-urgent) orders — TPC-H
    Q13's double aggregation with the LEFT OUTER join that keeps
    zero-order customers (count(o_orderkey) over a null row = 0; an inner
    join silently drops that bucket, which is the classic bug this shape
    exists to catch). First agg shuffles on custkey, second on the tiny
    count domain."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != HIST_EXCLUDED_PRIORITY)
        .select("o_custkey", "o_orderkey")
    )
    per = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


SQL_CUSTOMER_ORDER_HISTOGRAM = f"""
WITH per AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority != '{HIST_EXCLUDED_PRIORITY}'
  GROUP BY c_custkey)
SELECT c_count, count(*) AS custdist FROM per GROUP BY c_count
"""

# ---------------------------------------------------------------------------
# Q16 shape: supplier variety per part group (distinct-agg + anti join)
# ---------------------------------------------------------------------------

VARIETY_EXCLUDED_BRAND = "Brand#11"
VARIETY_SIZES = (1, 4, 7, 10, 13, 16, 19, 22)


def q_supplier_part_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many distinct suppliers serve each (brand, type, size) group —
    TPC-H Q16 shape, adapted: the observed (partkey, suppkey) pairs in
    lineitem stand in for partsupp, and suppliers with negative balance
    stand in for the complaints NOT-IN subquery (an anti-join on a
    broadcast-small exclusion set). The pair-distinct runs FIRST so the
    count-distinct agg sees one row per relationship, not per lineitem."""
    pairs = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != VARIETY_EXCLUDED_BRAND)
        & F.col("p_size").isin(*VARIETY_SIZES)
    )
    bad_supp = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        pairs.join(bad_supp, pairs.l_suppkey == bad_supp.s_suppkey, "left_anti")
        .join(F.broadcast(part), pairs.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


SQL_SUPPLIER_PART_VARIETY = f"""
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs
JOIN part ON l_partkey = p_partkey
WHERE p_brand != '{VARIETY_EXCLUDED_BRAND}'
  AND p_size IN ({", ".join(str(s) for s in VARIETY_SIZES)})
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""

# ---------------------------------------------------------------------------
# Q21 shape: sole-open-supplier per multi-supplier order (EXISTS/NOT EXISTS)
# ---------------------------------------------------------------------------

SOLE_OPEN_NATION = "NATION_3"


def q_exclusive_open_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per supplier in one nation: in how many multi-supplier orders is it
    the ONLY supplier with an open ('O') line — TPC-H Q21's
    EXISTS ∧ NOT-EXISTS shape (adapted: line status stands in for the
    missing commit/receipt dates). Instead of two correlated probes per
    row, ONE per-order aggregate computes (distinct suppliers, distinct
    open suppliers); a candidate qualifies iff total ≥ 2 and it is the
    lone open supplier — same semantics, a single extra shuffle on the
    order key, no repeated fact scans. The oracle keeps the literal
    EXISTS/NOT-EXISTS formulation, so the rewrite itself is what the hash
    verifies."""
    li = load_table(spark, sf_dir, "lineitem")
    pairs = li.select(
        "l_orderkey", "l_suppkey", (F.col("l_linestatus") == "O").alias("is_open")
    )
    per_order = pairs.groupBy("l_orderkey").agg(
        F.count_distinct("l_suppkey").alias("n_supp"),
        F.count_distinct(F.when(F.col("is_open"), F.col("l_suppkey"))).alias("n_open_supp"),
    )
    open_pairs = (
        pairs.filter(F.col("is_open")).select("l_orderkey", "l_suppkey").distinct()
    )
    qual = open_pairs.join(per_order, "l_orderkey").filter(
        (F.col("n_supp") >= 2) & (F.col("n_open_supp") == 1)
    )
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == SOLE_OPEN_NATION)
    return (
        qual.join(F.broadcast(supp), qual.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


SQL_EXCLUSIVE_OPEN_SUPPLIER = f"""
SELECT s_suppkey, s_name, count(*) AS numwait
FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem WHERE l_linestatus = 'O') l1
JOIN supplier ON l1.l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = '{SOLE_OPEN_NATION}'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey != l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey != l1.l_suppkey
                    AND l3.l_linestatus = 'O')
GROUP BY s_suppkey, s_name
"""

# ---------------------------------------------------------------------------
# Q3 shape: unshipped-orders shipping priority (top-k two-fact join)
# ---------------------------------------------------------------------------

SHIP_SEGMENT = "BUILDING"
SHIP_CUTOFF = "1996-06-15"
SHIP_TOP_K = 10


def q_unshipped_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top revenue among orders placed before the cutoff with lines still
    shipping after it, for one market segment (TPC-H Q3 shape). Both
    date filters push to their scans BEFORE the fact-fact shuffle; the
    segment filter rides the broadcast customer join; top-k on the
    aggregate with a deterministic tie-break."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > SHIP_CUTOFF)
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < SHIP_CUTOFF
    )
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == SHIP_SEGMENT
    )
    per = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(_dec_sum(_rev()), 2).cast("double").alias("revenue"))
    )
    w = Window.orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
    return (
        per.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= SHIP_TOP_K)
        .select(
            "l_orderkey",
            F.unix_micros("o_orderdate").alias("o_orderdate_us"),
            "o_orderpriority",
            "revenue",
        )
    )


SQL_UNSHIPPED_PRIORITY = f"""
WITH per AS (
  SELECT l_orderkey, o_orderdate, o_orderpriority,
         round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))), 2)::DOUBLE AS revenue
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
  WHERE l_shipdate > '{SHIP_CUTOFF}' AND o_orderdate < '{SHIP_CUTOFF}'
    AND c_mktsegment = '{SHIP_SEGMENT}'
  GROUP BY l_orderkey, o_orderdate, o_orderpriority),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY revenue DESC, l_orderkey ASC) AS rk FROM per)
SELECT l_orderkey, epoch_us(o_orderdate::TIMESTAMP) AS o_orderdate_us,
       o_orderpriority, revenue
FROM ranked WHERE rk <= {SHIP_TOP_K}
"""

# ---------------------------------------------------------------------------
# Q6 shape: forecast revenue change (pure scan aggregate)
# ---------------------------------------------------------------------------


def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue delta a discount-band change would cause (TPC-H Q6): the
    simplest shape in the suite — no join at all, three pushable
    predicates, one map-side-combined DECIMAL sum. Exists to pin that
    the engine's scan path (pushdown + codegen) handles the degenerate
    single-table case at full scan speed."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.year("l_shipdate") == 1996)
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(_dec_sum(F.col("l_extendedprice") * F.col("l_discount")), 2)
            .cast("double")
            .alias("revenue_delta")
        )
    )


SQL_FORECAST_REVENUE = """
SELECT round(sum(CAST(l_extendedprice * l_discount AS DECIMAL(25,6))), 2)::DOUBLE
         AS revenue_delta
FROM lineitem
WHERE year(l_shipdate) = 1996 AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""

# ---------------------------------------------------------------------------
# Q11 shape: important parts (group share vs scalar-subquery threshold)
# ---------------------------------------------------------------------------

IMPORTANT_MULTIPLE = 1.5


def q_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts trading at more than 1.5× the average part's value (TPC-H Q11
    shape, adapted to lineitem value — no partsupp; an avg-relative
    threshold instead of Q11's fraction-of-total because a fixed
    fraction silently empties as the part count scales — the TPC spec
    itself divides the fraction by SF). The per-part aggregate compares
    against a broadcast 1-row aggregate (the HAVING-with-scalar-subquery
    pattern): one shuffle for the part agg; the threshold join is a
    broadcast nested loop over one row."""
    li = load_table(spark, sf_dir, "lineitem")
    per = li.groupBy("l_partkey").agg(_dec_sum(_rev()).alias("val"))
    avg = per.agg(
        (F.sum("val").cast("double") / F.count(F.lit(1))).alias("avg_val")
    )
    return (
        per.crossJoin(F.broadcast(avg))
        .filter(
            F.col("val").cast("double") > F.lit(IMPORTANT_MULTIPLE) * F.col("avg_val")
        )
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.round(F.col("val"), 2).cast("double").alias("part_value"),
        )
    )


SQL_IMPORTANT_PARTS = f"""
WITH per AS (
  SELECT l_partkey, sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS val
  FROM lineitem GROUP BY l_partkey)
SELECT l_partkey AS p_partkey, round(val, 2)::DOUBLE AS part_value
FROM per
WHERE val::DOUBLE > {IMPORTANT_MULTIPLE} * (SELECT sum(val)::DOUBLE / count(*) FROM per)
"""

# ---------------------------------------------------------------------------
# ranking-function suite (rank family semantics pinned cross-engine)
# ---------------------------------------------------------------------------


def q_order_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ranking-function surface over each customer's order
    history in one WindowExec: rank/dense_rank (gap vs no-gap tie
    semantics), percent_rank ((rank−1)/(n−1)) and cume_dist (≤-count/n)
    — both exact double ratios of integers, so cross-engine-hashable —
    plus lag/lead navigation in integer micros. One shuffle on
    o_custkey; ties are real (orders share dates) so the rank-family
    differences actually discriminate. Restricted to a slice of
    customers to keep the gate row count sane."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_custkey") % 100 == 7
    )
    w = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey"
    )
    wd = Window.partitionBy("o_custkey").orderBy(F.unix_micros("o_orderdate"))
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.unix_micros("o_orderdate").alias("od_us"),
        F.row_number().over(w).alias("rn"),
        F.rank().over(wd).alias("rk"),
        F.dense_rank().over(wd).alias("drk"),
        F.percent_rank().over(wd).alias("prk"),
        F.cume_dist().over(wd).alias("cd"),
        F.lag(F.unix_micros("o_orderdate")).over(w).alias("prev_us"),
        F.lead(F.unix_micros("o_orderdate")).over(w).alias("next_us"),
    )


SQL_ORDER_WINDOW_SUITE = """
SELECT o_custkey, o_orderkey,
       epoch_us(o_orderdate::TIMESTAMP) AS od_us,
       row_number() OVER wo AS rn,
       rank() OVER wd AS rk,
       dense_rank() OVER wd AS drk,
       percent_rank() OVER wd AS prk,
       cume_dist() OVER wd AS cd,
       lag(epoch_us(o_orderdate::TIMESTAMP)) OVER wo AS prev_us,
       lead(epoch_us(o_orderdate::TIMESTAMP)) OVER wo AS next_us
FROM orders
WHERE o_custkey % 100 = 7
WINDOW wo AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
       wd AS (PARTITION BY o_custkey ORDER BY epoch_us(o_orderdate::TIMESTAMP))
"""


# ---------------------------------------------------------------------------
# skyline (pareto frontier): one sorted window pass vs NOT-EXISTS oracle
# ---------------------------------------------------------------------------


def q_part_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto-optimal parts (maximize retail price, minimize size): a part
    is dominated iff some part is strictly better on one dimension and no
    worse on the other. The quadratic NOT-EXISTS definition collapses to
    ONE sorted window pass: ordered by size, a part survives iff no
    strictly-smaller size reaches its price (running RANGE max) and it
    tops its own size group — O(n log n) with a single shuffle, the
    sort-filter skyline algorithm. The oracle keeps the literal quadratic
    NOT-EXISTS, so the algebraic rewrite is what the hash verifies."""
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_size", "p_retailprice"
    )
    w_smaller = (
        Window.orderBy("p_size").rangeBetween(Window.unboundedPreceding, -1)
    )
    w_same = Window.partitionBy("p_size")
    df = part.select(
        "p_partkey",
        "p_size",
        "p_retailprice",
        F.max("p_retailprice").over(w_smaller).alias("best_smaller"),
        F.max("p_retailprice").over(w_same).alias("best_same"),
    )
    return df.filter(
        (F.col("best_smaller").isNull() | (F.col("best_smaller") < F.col("p_retailprice")))
        & (F.col("best_same") == F.col("p_retailprice"))
    ).select("p_partkey", "p_size", "p_retailprice")


SQL_PART_SKYLINE = """
SELECT p_partkey, p_size, p_retailprice
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM part q
  WHERE (q.p_retailprice >= p.p_retailprice AND q.p_size < p.p_size)
     OR (q.p_retailprice >  p.p_retailprice AND q.p_size <= p.p_size))
"""


# ---------------------------------------------------------------------------
# Data-quality expectations (operators/dq.py)
# ---------------------------------------------------------------------------


def q_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate (operators/dq.py): six rule types —
    not_null, in_range, in_set, arbitrary boolean expression, key
    uniqueness, referential integrity — over lineitem/orders. All four
    row-level rules share ONE aggregate scan; unique adds one
    map-side-combined groupBy; the FK check is a broadcast anti-join.
    Thresholds chosen so several rules REALLY fire on the synthetic data
    (non-zero violation counts discriminate the hash): quantity>30,
    returnflag='R', discount>0.05, and duplicated (l_orderkey,
    l_linenumber) pairs all exist; not_null and the FK legitimately
    return zero."""
    from dataplatform_cdc_pipeline_spark.operators.dq import (
        BoolExpr,
        ForeignKey,
        InRange,
        InSet,
        NotNull,
        Unique,
        run_expectations,
    )

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    rules = [
        NotNull("l_quantity"),
        InRange("l_quantity", 1, 30),
        InSet("l_returnflag", ("A", "N")),
        BoolExpr("discount_cap", "l_discount <= 0.05"),
        Unique(("l_orderkey", "l_linenumber")),
        ForeignKey(("l_orderkey",), ("o_orderkey",), "orders", orders),
    ]
    return run_expectations(li, rules)


SQL_DQ_EXPECTATIONS = """
SELECT 'not_null:l_quantity' AS rule,
       sum((l_quantity IS NULL)::INT)::BIGINT AS n_violations,
       count(*)::BIGINT AS n_checked
FROM lineitem
UNION ALL
SELECT 'in_range:l_quantity',
       sum((l_quantity IS NOT NULL AND l_quantity NOT BETWEEN 1 AND 30)::INT)::BIGINT,
       count(*)::BIGINT
FROM lineitem
UNION ALL
SELECT 'in_set:l_returnflag',
       sum((l_returnflag IS NOT NULL AND l_returnflag NOT IN ('A','N'))::INT)::BIGINT,
       count(*)::BIGINT
FROM lineitem
UNION ALL
SELECT 'expr:discount_cap',
       sum((NOT coalesce(l_discount <= 0.05, FALSE))::INT)::BIGINT,
       count(*)::BIGINT
FROM lineitem
UNION ALL
SELECT 'unique:l_orderkey,l_linenumber',
       sum((c > 1)::INT)::BIGINT,
       count(*)::BIGINT
FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_orderkey, l_linenumber)
UNION ALL
SELECT 'foreign_key:l_orderkey->orders',
       (SELECT count(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey))::BIGINT,
       count(*)::BIGINT
FROM lineitem
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------


REGISTRY = {
    q_shipping_priority_mix: SQL_SHIPPING_PRIORITY_MIX,
    q_promo_revenue: SQL_PROMO_REVENUE,
    q_large_volume_customer: SQL_LARGE_VOLUME_CUSTOMER,
    q_discounted_revenue: SQL_DISCOUNTED_REVENUE,
    q_sales_opportunity: SQL_SALES_OPPORTUNITY,
    q_top_supplier: SQL_TOP_SUPPLIER,
    q_min_cost_supplier: SQL_MIN_COST_SUPPLIER,
    q_market_share: SQL_MARKET_SHARE,
    q_customer_value_deciles: SQL_CUSTOMER_VALUE_DECILES,
    q_customer_pareto: SQL_CUSTOMER_PARETO,
    q_dq_expectations: SQL_DQ_EXPECTATIONS,
    q_volume_shipping: SQL_VOLUME_SHIPPING,
    q_product_type_profit: SQL_PRODUCT_TYPE_PROFIT,
    q_returned_item_report: SQL_RETURNED_ITEM_REPORT,
    q_customer_order_histogram: SQL_CUSTOMER_ORDER_HISTOGRAM,
    q_supplier_part_variety: SQL_SUPPLIER_PART_VARIETY,
    q_exclusive_open_supplier: SQL_EXCLUSIVE_OPEN_SUPPLIER,
    q_part_skyline: SQL_PART_SKYLINE,
    q_unshipped_priority: SQL_UNSHIPPED_PRIORITY,
    q_forecast_revenue: SQL_FORECAST_REVENUE,
    q_important_parts: SQL_IMPORTANT_PARTS,
    q_order_window_suite: SQL_ORDER_WINDOW_SUITE,
}
