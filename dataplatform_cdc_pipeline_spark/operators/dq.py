"""Declarative data-quality expectations — dbt-test / Deequ-style rules
compiled into the minimum number of Spark jobs.

The reference pipeline's audit layer counts rows and windows
(merge.sql:482-501's etl_watermark stats); production tables also need
*content* gates — not-null, accepted values, ranges, uniqueness,
referential integrity — evaluated continuously and cheaply. The design
rule here is the same one the engine applies everywhere: never pay one
pass per rule.

- **Row-level rules** (not_null / in_set / in_range / arbitrary boolean
  expression) compile to ONE aggregate over the scanned frame: each rule
  contributes a ``sum(violates)`` column to a single-row agg, then the
  row unpivots to long form with ``stack`` — one scan for any number of
  rules, and the scan only reads the columns the rules mention (column
  pruning does the rest).
- **unique(cols)** needs a shuffle by definition (global key counts);
  it compiles to one map-side-combined groupBy per distinct key set.
- **foreign_key(cols → dim)** compiles to a LEFT ANTI join; the dim side
  is deduplicated and broadcast when small (dimension tables at 100 TB
  fact scale are exactly the broadcast case).

All rules return ``(rule, n_violations, n_checked)`` rows; the caller
unions them (tiny frames — one row per rule). Violation *rows* (not just
counts) are available per row-level rule via :func:`violations`, which
pushes the rule's negated predicate down to the scan.

100 TB posture: one full scan + one groupBy per unique-key set + one
anti-join per FK — the theoretical floor for these checks. No UDFs, no
driver-side iteration; counts are the only values collected.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class NotNull:
    col: str

    @property
    def name(self) -> str:
        return f"not_null:{self.col}"

    def violates(self) -> Column:
        return F.col(self.col).isNull()


@dataclass(frozen=True)
class InSet:
    col: str
    values: tuple

    @property
    def name(self) -> str:
        return f"in_set:{self.col}"

    def violates(self) -> Column:
        # NULL is a not-null rule's business, not a membership failure
        return ~F.col(self.col).isin(*self.values) & F.col(self.col).isNotNull()


@dataclass(frozen=True)
class InRange:
    col: str
    lo: float
    hi: float

    @property
    def name(self) -> str:
        return f"in_range:{self.col}"

    def violates(self) -> Column:
        c = F.col(self.col)
        return ~c.between(self.lo, self.hi) & c.isNotNull()


@dataclass(frozen=True)
class BoolExpr:
    """Arbitrary row predicate that must HOLD; NULL predicate = violation
    (SQL three-valued logic would silently pass unknowns otherwise)."""

    rule_name: str
    holds_sql: str

    @property
    def name(self) -> str:
        return f"expr:{self.rule_name}"

    def violates(self) -> Column:
        return ~F.coalesce(F.expr(self.holds_sql), F.lit(False))


@dataclass(frozen=True)
class Unique:
    cols: tuple

    @property
    def name(self) -> str:
        return f"unique:{','.join(self.cols)}"


@dataclass(frozen=True)
class ForeignKey:
    cols: tuple
    dim_cols: tuple
    dim_name: str
    # DataFrame is unhashable; keep it out of eq/hash
    dim: DataFrame = field(compare=False, hash=False, default=None)

    @property
    def name(self) -> str:
        return f"foreign_key:{','.join(self.cols)}->{self.dim_name}"


ROW_RULES = (NotNull, InSet, InRange, BoolExpr)


def run_expectations(df: DataFrame, rules: list) -> DataFrame:
    """Evaluate ``rules`` against ``df`` → one row per rule:
    ``(rule string, n_violations long, n_checked long)``.

    Row-level rules share ONE aggregate pass; each Unique adds one
    groupBy; each ForeignKey adds one anti-join (dim deduped +
    broadcast). Results union into a single tiny frame.
    """
    spark = df.sparkSession
    parts: list[DataFrame] = []

    row_rules = [r for r in rules if isinstance(r, ROW_RULES)]
    if row_rules:
        aggs = [F.count(F.lit(1)).alias("__n")]
        for i, r in enumerate(row_rules):
            # coalesce: sum over an EMPTY frame is NULL, but "no rows"
            # means zero violations (an empty staged state is a
            # legitimate thing to audit — e.g. a batch that deletes a
            # bucket's last rows)
            aggs.append(
                F.coalesce(
                    F.sum(r.violates().cast("long")), F.lit(0)
                ).alias(f"__v{i}")
            )
        one = df.agg(*aggs)
        stack_args = ", ".join(
            f"'{r.name}', __v{i}" for i, r in enumerate(row_rules)
        )
        parts.append(
            one.select(
                F.expr(
                    f"stack({len(row_rules)}, {stack_args}) AS (rule, n_violations)"
                ),
                F.col("__n").alias("n_checked"),
            ).select("rule", "n_violations", "n_checked")
        )

    for r in rules:
        if isinstance(r, Unique):
            counts = df.groupBy(*[F.col(c) for c in r.cols]).agg(
                F.count(F.lit(1)).alias("__c")
            )
            parts.append(
                counts.agg(
                    F.lit(r.name).alias("rule"),
                    F.coalesce(
                        F.sum((F.col("__c") > 1).cast("long")), F.lit(0)
                    ).alias("n_violations"),
                    F.count(F.lit(1)).alias("n_checked"),
                )
            )
        elif isinstance(r, ForeignKey):
            dim = (
                r.dim.select(
                    *[F.col(d).alias(c) for c, d in zip(r.cols, r.dim_cols)]
                )
                .dropDuplicates()
            )
            orphans = df.select(*r.cols).join(
                F.broadcast(dim), on=list(r.cols), how="left_anti"
            )
            n_orph = orphans.agg(F.count(F.lit(1)).alias("v"))
            n_all = df.agg(F.count(F.lit(1)).alias("n"))
            parts.append(
                n_orph.crossJoin(n_all).select(
                    F.lit(r.name).alias("rule"),
                    F.col("v").alias("n_violations"),
                    F.col("n").alias("n_checked"),
                )
            )
        elif not isinstance(r, ROW_RULES):
            raise TypeError(f"unknown expectation rule type: {type(r)!r}")

    if not parts:
        return spark.createDataFrame(
            [], "rule string, n_violations long, n_checked long"
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def violations(df: DataFrame, rule) -> DataFrame:
    """The failing rows for one row-level rule — the predicate pushes
    down to the scan, so inspecting a rule's violations reads only the
    matching row groups."""
    if not isinstance(rule, ROW_RULES):
        raise TypeError("violations(): row-level rules only")
    return df.filter(rule.violates())


class ExpectationViolation(RuntimeError):
    """A write-audit-publish gate refused a batch (violations listed)."""


def expectations_guard(rules: list):
    """Write-audit-publish validator for ``ParquetMergeTarget.validate_staged``:
    evaluates ``rules`` against the resolved post-merge frame and raises
    :class:`ExpectationViolation` if ANY rule fires — the merge then
    takes the engine's FAILED-audit path and the target stays untouched
    (Iceberg's WAP pattern: data is audited before it is published, so a
    poison batch can never become visible, not even transiently).

    Costs one extra aggregate pass over the affected buckets' resolved
    rows — the frame the merge was about to write anyway; nothing is
    re-read from storage."""

    def guard(df: DataFrame) -> None:
        bad = [
            (r["rule"], int(r["n_violations"]))
            for r in run_expectations(df, rules).collect()
            if r["n_violations"] > 0
        ]
        if bad:
            raise ExpectationViolation(
                f"write-audit-publish refused the batch: {bad}"
            )

    return guard
