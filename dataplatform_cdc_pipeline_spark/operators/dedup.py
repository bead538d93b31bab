"""W1 — dedup-latest-per-key, THE core operator of the reference.

``ROW_NUMBER() OVER (PARTITION BY pk ORDER BY __ts_ns DESC,
__source_pos DESC)`` then ``rn = 1`` (merge.sql:310, 325; step-5.sql:296-312;
multi-PK partition list step-7:228-233).

Scale notes (100 TB posture):
- One shuffle on the PK hash; Catalyst plans a single Window exec after a
  hash repartition. AQE handles skewed keys.
- The filter ``rn = 1`` is fused into the WindowExec stage (no second pass).
- For a CDC batch the alternative ``groupBy(pk).agg(max_by(struct, ordkey))``
  avoids a full sort within groups; row_number keeps exact reference
  semantics (deterministic ties via the pos tiebreak) and benchmarks
  equivalently at batch sizes where group cardinality ≈ row count.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def latest_per_key(
    df: DataFrame,
    key_cols: list[str | Column],
    order_cols: list[Column] | None = None,
    ts_col: str = "source_ts_ns_order",
    pos_col: str = "pos",
    keep_rn: bool = False,
    salt_buckets: int | None = None,
) -> DataFrame:
    """Keep exactly one row per key: newest event time, then highest source
    position (deterministic tiebreak, merge.sql:310).

    ``salt_buckets``: two-phase dedup for skewed keys. Phase 1 partitions
    by (key, random-salt) and keeps each salt-partition's winner — the hot
    key's rows split across ``salt_buckets`` reducers instead of one.
    Phase 2 runs the normal dedup over the ≤ salt_buckets survivors per
    key. "Latest" is associative, so the result is identical (tested).
    AQE's skew handling covers joins but NOT window functions — this is
    the window-skew escape hatch.

    MEASURED caveat (SCALE.md "hot-key skew proof"): for THIS rn=1 shape
    Spark ≥3.5 plans a map-side ``WindowGroupLimit … Partial`` before the
    exchange, so a 50%-hot key crosses the shuffle as ≤ #map-partitions
    rows and plain ``window`` is already skew-resistant (0.48 s vs 0.82 s
    salted on the 1M-row hot-key batch — salting pays an extra shuffle for
    a problem the optimizer removed). Use ``salt_buckets`` for ranked
    shapes the rule can't push (full rankings, large rn ≤ k, ``keep_rn``
    consumers) or engines without the rule.
    """
    order_cols = order_cols or [F.col(ts_col).desc_nulls_last(), F.col(pos_col).desc_nulls_last()]
    keys = [F.col(k) if isinstance(k, str) else k for k in key_cols]
    if salt_buckets and salt_buckets > 1:
        salted = df.withColumn("__salt", F.pmod(F.monotonically_increasing_id(), F.lit(salt_buckets)))
        w1 = Window.partitionBy(*keys, F.col("__salt")).orderBy(*order_cols)
        df = (
            salted.withColumn("__rn1", F.row_number().over(w1))
            .filter(F.col("__rn1") == 1)
            .drop("__salt", "__rn1")
        )
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    out = df.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return out if keep_rn else out.drop("rn")


def latest_per_key_agg(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    pos_col: str,
    carry_cols: list[str],
) -> DataFrame:
    """W1 dedup via aggregation instead of a ranked window.

    "Latest (ts, pos) wins" with MAP-SIDE PARTIAL AGGREGATION: each input
    partition ships at most one candidate row per key through the shuffle,
    vs the window form which shuffles EVERY row and sorts within groups.
    For CDC batches with hot keys (many updates per key) this reduces
    shuffle volume by the per-key update factor — the right default at
    scale.

    ``carry_cols`` must be orderable types (no maps) — carry the raw JSON
    string through the shuffle and re-parse only the winners.

    Physical shape (r12 optimization, guide §2.3/§1.2): the aggregate is
    ``max_by(struct(ts, pos, carry…), struct(ts, pos, xxhash64(carry…)))``
    — the ordering struct is PRIMITIVE-ONLY (two scalars + one long), so
    the per-row comparator never touches the carried JSON string. The
    previous ``max(struct(ts, pos, carry…))`` compared whole carry
    structs (string comparisons go through the interpreted row ordering)
    and measured 4.5× slower on the sf0.1 CDC feed
    (OPTIMIZATION_r12.md §1: 2.65 s vs 0.58 s warm).

    Tie behavior at exactly equal (ts, pos): the carry row with the
    LARGEST xxhash64 wins — DETERMINISTIC across partitionings and
    replays (a pure function of the carried values; replay-stable
    watermarks depend on this), though a different deterministic winner
    than the pre-r12 lexicographically-largest-carry rule. Winner is
    identical to the old rule whenever (ts, pos) is unique within a key —
    the engine invariant in every feed (the row_number-based oracles
    would themselves be non-deterministic otherwise; the reference's
    ORDER BY leaves ties undefined too, SURVEY.md §7). Pinned by
    ``test_dedup_agg_tie_winner_deterministic``.
    """
    tie_break = (
        [F.xxhash64(*[F.col(c) for c in carry_cols])] if carry_cols else []
    )
    packed = F.max_by(
        F.struct(
            F.col(ts_col).alias("__ts"),
            F.col(pos_col).alias("__pos"),
            *[F.col(c).alias(c) for c in carry_cols],
        ),
        F.struct(F.col(ts_col), F.col(pos_col), *tie_break),
    ).alias("__best")
    out = df.groupBy(*[F.col(k) for k in key_cols]).agg(packed)
    return out.select(
        *key_cols,
        F.col("__best.__ts").alias(ts_col),
        F.col("__best.__pos").alias(pos_col),
        *[F.col(f"__best.{c}").alias(c) for c in carry_cols],
    )
