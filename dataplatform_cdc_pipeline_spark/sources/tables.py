"""Canonical loader for the driver's synthetic tables (TESTDATA.md).

Handles two environment quirks in the landing parquet, mirroring the
reference's posture that the bronze scan works on whatever the landing zone
wrote (merge.sql:307-326 has no type ceremony):

- ``TIMESTAMP(NANOS)``: Spark's vectorized reader rejects it by default;
  ``spark.sql.legacy.parquet.nanosAsLong`` (runtime-settable) reads it as
  epoch-nanos LongType and the loader converts to TimestampType at
  microsecond precision (floor), matching DuckDB's ``ts::TIMESTAMP``.
- ``timestamp[us]`` WITHOUT the adjusted-to-UTC flag: Spark 4 infers
  ``TIMESTAMP_NTZ``, which analysis-fails every ``unix_micros`` call site.
  The loader disables NTZ inference (reads as TIMESTAMP, interpreting the
  stored micros as epoch-UTC) and additionally casts any NTZ column that
  still appears to TimestampType — the session timezone is pinned UTC, so
  both paths are wall-clock-preserving and agree with the UTC-naive DuckDB
  oracle exactly.
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Load-time schema contract: column → required Spark type, per table.
#: Environment drift (a regenerated testdata file changing a type the
#: normalization doesn't already absorb) fails HERE with a named column,
#: in the builder's own loop — not downstream in the driver's oracle run.
EXPECTED_TYPES: dict[str, dict[str, type]] = {
    "events": {"ts": T.TimestampType, "event_id": T.LongType, "user_id": T.LongType},
    "orders": {"o_orderdate": T.TimestampType, "o_orderkey": T.LongType},
    "lineitem": {"l_shipdate": T.TimestampType, "l_orderkey": T.LongType},
    "documents": {"doc_id": T.LongType, "text": T.StringType},
    "embeddings": {"vec_id": T.LongType, "embedding": T.ArrayType},
}


def normalize_ntz(df: DataFrame) -> DataFrame:
    """Cast every TIMESTAMP_NTZ column to TIMESTAMP (session tz is UTC, so
    the cast preserves the wall clock). Safe no-op on already-TZ frames —
    call this on any externally-supplied frame before epoch arithmetic."""
    ntz = [f.name for f in df.schema.fields if isinstance(f.dataType, T.TimestampNTZType)]
    if ntz:
        df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz})
    return df


def _check_contract(name: str, df: DataFrame) -> None:
    expected = EXPECTED_TYPES.get(name)
    if not expected:
        return
    actual = {f.name: f.dataType for f in df.schema.fields}
    for col, want in expected.items():
        if col not in actual:
            raise TypeError(f"schema contract: table '{name}' is missing column '{col}'")
        if not isinstance(actual[col], want):
            raise TypeError(
                f"schema contract: {name}.{col} is {actual[col].simpleString()}, "
                f"expected {want.__name__} — testdata drifted; extend the loader"
            )


def spread_scan(df: DataFrame, n: int | None = None) -> DataFrame:
    """Scan-parallelism floor for undersplit inputs (guide §2.5 "input
    skew: one huge unsplittable file" / §6 input split sizing).

    The driver's landing tables are single-file, SINGLE-ROW-GROUP parquet
    (lineitem: 600k rows / 1 row group at sf0.1), so the scan plans
    exactly ONE task no matter the split config — parquet can only split
    on row-group boundaries — and everything map-side of the first
    exchange (JSON envelope synthesis + parse, MD5 probes, shingling,
    cast projections) serializes on one core of local[N].

    Repartition to the session's parallelism ONLY when the scan plans
    fewer partitions than that floor: at production split counts
    (row groups ≈ maxPartitionBytes) the condition is false and NO
    exchange is added — the partitioning adapts to the input instead of
    hard-coding either the local or the cluster shape. Round-robin keeps
    the pieces even; Spark's sort-before-repartition (on by default,
    SPARK-23207) keeps the row→partition assignment deterministic under
    task retries, so downstream dedup/agg results are unchanged (all
    engine aggregations are partitioning-independent by construction).

    NOT applied inside ``load_table`` itself: fixture-staging writes
    derive their FILE COUNT from the frame's partitioning, and the
    ``maxFilesPerTrigger=1`` streaming drains derive their micro-batch
    structure from that file count — a blanket respread would multiply
    their batch counts. Callers opt in where the map work is heavy.
    """
    n = n or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # read unadjusted-to-UTC parquet timestamps as TIMESTAMP, not NTZ
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # The driver's verify harness supplies ITS OWN SparkSession — pin the
    # session timezone at runtime so ISO-timestamp parsing and epoch
    # conversions match the UTC-naive DuckDB oracle regardless of the
    # caller's JVM default timezone.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # engine tuning that is safe to apply to a caller-supplied session:
    # AQE coalesces the (possibly default-200) shuffle partitions to the
    # data size; Arrow accelerates the pandas-UDF operators
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for f_ in df.schema.fields:
        if name == "events" and f_.name == "ts" and isinstance(f_.dataType, T.LongType):
            # epoch-integer timestamp: pick the unit by magnitude (nanos
            # ≈1.7e18, micros ≈1.7e15, millis ≈1.7e12, secs ≈1.7e9 for
            # 2020s dates) — the driver has already shipped this column as
            # TIMESTAMP(NANOS) (r1) and unadjusted micros (r2); absorb any
            # integer spelling. Integer `div` — float division corrupts
            # the last µs digit at ns scale.
            c = F.col("ts")
            df = df.withColumn(
                "ts",
                F.when(c >= F.lit(10**17), F.timestamp_micros(F.call_function("div", c, F.lit(1000))))
                .when(c >= F.lit(10**14), F.timestamp_micros(c))
                .when(c >= F.lit(10**11), F.timestamp_millis(c))
                .otherwise(F.timestamp_seconds(c)),
            )
            # Magnitude dispatch misreads out-of-range epochs (pre-1973
            # nanos parse as micros) and would silently "convert" a
            # non-epoch long column. Fail loudly, like _check_contract,
            # unless the converted range is plausible. One tiny agg, only
            # on the rare epoch-integer spelling of the column.
            lo, hi = datetime.datetime(1990, 1, 1), datetime.datetime(2100, 1, 1)
            row = df.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).first()
            if row["lo"] is not None and not (lo <= row["lo"] and row["hi"] < hi):
                raise TypeError(
                    f"schema contract: {name}.ts epoch-integer conversion produced "
                    f"implausible range [{row['lo']}, {row['hi']}] — unit inference "
                    "misread the column; extend the loader"
                )
        elif isinstance(f_.dataType, T.DateType) and f_.name in EXPECTED_TYPES.get(name, {}):
            # a date-typed spelling of an expected-timestamp column (e.g.
            # o_orderdate as date32) widens losslessly at midnight UTC
            df = df.withColumn(f_.name, F.col(f_.name).cast("timestamp"))
    df = normalize_ntz(df)
    _check_contract(name, df)
    return df
