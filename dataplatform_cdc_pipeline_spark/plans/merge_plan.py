"""CDC batch plan: window scan → dedup → typed projection → change set.

Mirrors the reference lifecycle phases 4-5 (SURVEY.md §3): the upsert view
``log_v_i`` (merge.sql:306-326) and delete view ``log_v_d`` with the J2
survivorship join (merge.sql:334-349) — plus the engine's default *unified*
plan (SURVEY.md §7): dedup ALL ops together and let the merge branch on
``__op``, which provably reproduces J2 with one fewer shuffle/join.
"""

from __future__ import annotations

import datetime

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataplatform_cdc_pipeline_spark.config import MergeConfig
from dataplatform_cdc_pipeline_spark.functions.envelope import (
    event_ts_from_raw,
    parse_payload,
)
from dataplatform_cdc_pipeline_spark.operators.dedup import latest_per_key, latest_per_key_agg
from dataplatform_cdc_pipeline_spark.plans.cast_rules import cast_expr, typed_projection


def window_scan(
    raw: DataFrame,
    cfg: MergeConfig,
    start: datetime.datetime | str | None,
    end: datetime.datetime | str | None,
) -> DataFrame:
    """S4 + F1 + F3: half-open arrival-time window of valid CDC events.

    ``load_ts > start AND load_ts <= end AND JSON_VALUE(data.__op) IS NOT
    NULL`` (merge.sql:307-315; step-5.sql:303-307). Arrival-time windowing —
    late *event-time* data is processed in the batch it arrives in
    (SURVEY.md §2.8). The load_ts range predicate is what partition-prunes a
    date-partitioned bronze table (automatic in Spark — the reference needed
    an explicit PARTITION list, step-8:352-377).

    Output = input columns + the extracted envelope:
    ``__op`` (validity-filtered), ``__event_ts`` (timestamp), ``__pos``
    (long), and ``__pk_raw_<i>`` (raw PK strings, 'null'-mapped). All come
    from ONE ``json_tuple`` pass: a Generate node materializes the parsed
    values once, whereas a ``from_json`` map column gets re-inlined by
    Catalyst into every consumer expression (filter, ts, pos, each PK) and
    re-parses the document per consumer — measured 3.7× slower on the
    sf0.1 cast-projection path. The full payload map is parsed *post-dedup*
    on the winners only (plan builders below).
    """
    lt = F.col(cfg.load_ts_col)
    out = raw
    if start is not None:
        out = out.filter(lt > F.lit(start))
    if end is not None:
        out = out.filter(lt <= F.lit(end))
    pk_keys = [cfg.json_key_overrides.get(k, k) for k in cfg.pk]
    names = ["__op_r", "__ts_r", "__pos_r"] + [f"__pk_raw_{i}" for i in range(len(pk_keys))]
    out = out.select(
        "*",
        F.json_tuple(F.col("data"), "__op", "__ts_ns", "__source_pos", *pk_keys).alias(*names),
    )
    nn = lambda c: F.nullif(c, F.lit("null"))  # noqa: E731 — P16 'null'-string
    out = (
        out.withColumn("__op", nn(F.col("__op_r")))
        .filter(F.col("__op").isNotNull())
        .withColumn("__event_ts", event_ts_from_raw(nn(F.col("__ts_r")), cfg.ts_ns_encoding))
        .withColumn("__pos", nn(F.col("__pos_r")).cast("long"))
        .drop("__op_r", "__ts_r", "__pos_r")
    )
    for i in range(len(pk_keys)):
        out = out.withColumn(f"__pk_raw_{i}", nn(F.col(f"__pk_raw_{i}")))
    return out


def _pk_exprs(cfg: MergeConfig, target_schema: T.StructType) -> list[Column]:
    """Typed PK extraction from the window scan's pre-extracted raw strings.

    Default: cast PKs to their declared type *before* dedup (intentional
    fix of the reference's string-form-dedup hazard, SURVEY.md §4 — e.g.
    "01" vs "1" dedup separately in the reference but join equal).
    ``cfg.string_pk_dedup=True`` restores literal reference behavior
    (merge.sql:310 partitions on JSON_VALUE strings).
    """
    by_name = {f.name: f for f in target_schema.fields}
    exprs = []
    for i, k in enumerate(cfg.pk):
        raw = F.col(f"__pk_raw_{i}")
        if cfg.string_pk_dedup or k not in by_name:
            exprs.append(raw.alias(k))
        else:
            exprs.append(cast_expr(by_name[k], cfg, payload=None, raw=raw))
    return exprs


def build_changes(
    windowed: DataFrame,
    target_schema: T.StructType,
    cfg: MergeConfig,
    deterministic_audit: bool = False,
) -> DataFrame:
    """Unified change set: one typed row per PK with the final ``__op``.

    Dedup across inserts *and* deletes together — a delete survives iff it
    is the newest event for its key, which is exactly the reference's J2
    predicate ``i.pk IS NULL OR i.ts < d.ts`` (merge.sql:348) given both
    sides kept only rn=1 (proof in SURVEY.md §7). One shuffle total.
    """
    pk_aliases = [f"__pk_{i}" for i in range(len(cfg.pk))]
    # project to exactly what the dedup needs BEFORE the shuffle: the raw
    # `data` string rides the exchange (maps are not orderable anyway) and
    # ONLY the per-key winners re-parse into the payload map below
    keyed = windowed.select(
        F.col("__op"),
        F.col("data"),
        F.col(cfg.load_ts_col),
        F.col("__event_ts"),
        F.col("__pos"),
        *[e.alias(a) for a, e in zip(pk_aliases, _pk_exprs(cfg, target_schema))],
    )
    # W1 dedup: groupBy(pk).max(struct(ts, pos, carry…)) — map-side partial
    # aggregation ships ≤1 candidate per key per partition
    deduped = latest_per_key_agg(
        keyed, pk_aliases, "__event_ts", "__pos", ["data", cfg.load_ts_col, "__op"]
    ).withColumn("__payload", parse_payload("data"))
    proj = typed_projection(target_schema, cfg, deterministic_audit=deterministic_audit)
    # __load_ts rides along so the merge can derive window stats + the next
    # watermark from the SAME cached frame (one agg job — the reference also
    # computes stats from the materialized view, merge.sql:360-366)
    return deduped.select(
        F.col("__op"), F.col(cfg.load_ts_col).alias("__load_ts"), *proj
    )


def build_two_stream(
    windowed: DataFrame,
    target_schema: T.StructType,
    cfg: MergeConfig,
    deterministic_audit: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Reference-fidelity plan: (log_v_i, log_v_d) with the J2 join.

    - log_v_i: ``__op != 'd'`` → dedup → typed projection (merge.sql:306-326)
    - log_v_d: ``__op = 'd'`` → dedup → LEFT JOIN log_v_i on PK, keep the
      delete iff no surviving upsert or the upsert is older
      (merge.sql:334-349; multi-PK null-check step-7:433-440).

    Kept for differential testing against the unified plan; costs one extra
    shuffle + join.
    """
    pk_names = list(cfg.pk)

    def ranked(df: DataFrame) -> DataFrame:
        keyed = df.select(
            F.col("__op"),
            F.col("data"),
            F.col(cfg.load_ts_col),
            F.col("__event_ts"),
            F.col("__pos"),
            *[e.alias(f"__pk_{i}") for i, e in enumerate(_pk_exprs(cfg, target_schema))],
        )
        out = latest_per_key(
            keyed, [f"__pk_{i}" for i in range(len(pk_names))], ts_col="__event_ts", pos_col="__pos"
        )
        # winners only re-parse the payload map for the typed projection
        return out.withColumn("__payload", parse_payload("data"))

    upserts_raw = ranked(windowed.filter(F.col("__op") != "d"))
    deletes_raw = ranked(windowed.filter(F.col("__op") == "d"))

    proj = typed_projection(target_schema, cfg, deterministic_audit=deterministic_audit)
    log_v_i = upserts_raw.select(
        F.col("__op"), F.col(cfg.load_ts_col).alias("__load_ts"), *proj
    )

    # J2 survivorship: typed-PK equi-join, delete wins only if strictly newer
    # than any surviving upsert (merge.sql:345-349).
    i_side = upserts_raw.select(
        *[F.col(f"__pk_{i}").alias(f"__ipk_{i}") for i in range(len(pk_names))],
        F.col("__event_ts").alias("__i_ts"),
    )
    cond = None
    for i in range(len(pk_names)):
        c = deletes_raw[f"__pk_{i}"] == i_side[f"__ipk_{i}"]
        cond = c if cond is None else (cond & c)
    survived = (
        deletes_raw.join(i_side, cond, "left")
        .filter(F.col("__i_ts").isNull() | (F.col("__i_ts") < F.col("__event_ts")))
        .drop(*[f"__ipk_{i}" for i in range(len(pk_names))], "__i_ts")
    )
    log_v_d = survived.select(
        F.col("__op"), F.col(cfg.load_ts_col).alias("__load_ts"), *proj
    )
    return log_v_i, log_v_d
