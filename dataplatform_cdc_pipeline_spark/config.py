"""Pipeline configuration — the Spark-native mirror of ``config_file5``.

The reference drives every run from one config row per
(target database, target table, cdc source table):
BigQuery DDL at config-file_5.sql:1-29, MySQL DDL at
config_file5_mysql.sql:24-46, lookup at merge.sql:84-88 /
step-5.sql:91-131. All ``*_cols`` fields are comma-separated column-name
lists where the empty string means NULL (merge.sql:96-104); whitespace is
stripped (step-5.sql:141-148, 221-225) — rule P20 in SURVEY.md §2.2.

Here the config is a plain dataclass loaded from a dict / JSON file / JSON
config table; parsing the comma lists is control-plane Python, replacing the
reference's ``UNNEST(SPLIT(pk, ','))`` metaprogramming (merge.sql:167-168).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field, fields


def _split_cols(raw: str | list[str] | None) -> tuple[str, ...]:
    """Comma list → tuple of stripped names; '' ≡ NULL (merge.sql:96-104)."""
    if raw is None:
        return ()
    if isinstance(raw, (list, tuple)):
        return tuple(str(c).strip() for c in raw if str(c).strip())
    return tuple(c.strip() for c in str(raw).replace("\n", "").split(",") if c.strip())


def _opt(raw: str | None) -> str | None:
    """Empty-string config fields → None (NULLIF(x,''), merge.sql:96-104)."""
    if raw is None:
        return None
    raw = str(raw).strip()
    return raw or None


@dataclass(frozen=True)
class MergeConfig:
    """One CDC merge pipeline: raw CDC source table → typed target table."""

    # --- identity (config lookup key, merge.sql:84-88) ---
    cdc_table: str  # raw CDC source (path or table name)
    target_table: str  # silver target table name
    target_database: str = "silver"  # dataset / schema
    source_db: str | None = None

    # --- keys ---
    pk: tuple[str, ...] = ("id",)  # multi-PK per step-7:206-276

    # --- windowing / layout ---
    load_ts_col: str = "load_ts"  # bq_load_ts / mysql_load_ts
    partition_field: str | None = None  # bq_partition_field / mysql_partition_field
    # bq_clustering_field (config-file_5.sql:13): BigQuery clustering =
    # co-locate rows by these columns inside each partition. Spark analogue:
    # sortWithinPartitions before the bucketed write, so parquet row-group
    # min/max stats are narrow and scans filtered on these columns skip
    # row groups (Delta/Iceberg would call this Z-order's 1-D base case).
    clustering_fields: tuple[str, ...] = ()

    # --- cast-rule column lists (SURVEY.md §2.2; config-file_5.sql:14-28) ---
    epoc_cols: tuple[str, ...] = ()  # epoch seconds → timestamp (P6)
    epoc_nano_cols: tuple[str, ...] = ()  # epoch nanos → timestamp (P4)
    epoc_day_cols: tuple[str, ...] = ()  # epoch days → date (P5)
    bit_to_int_col: tuple[str, ...] = ()  # 'true'/'false' → 1/0 (P7)
    epoch_to_date_to_string_col: tuple[str, ...] = ()  # declared, unused in ref procs
    non_epoch_datetime_col: tuple[str, ...] = ()  # ISO string → datetime (P8)
    datetime_millis_cols: tuple[str, ...] = ()  # epoch millis → datetime (P13)
    datetime_to_int_val_col: tuple[str, ...] = ()  # ISO → yyyymmddHHMMSS int (P9)
    datetime_null: tuple[str, ...] = ()  # declared, unused in ref procs
    col_value_as_current_time_ist: tuple[str, ...] = ()  # IST wall-clock (P10)
    epoc_datetime_ist: tuple[str, ...] = ()  # declared, unused in ref procs
    row_key_binary: str | None = None  # JSON key: base64 8-byte BE int (P2)
    row_key_timestamp: str | None = None  # JSON key: ISO ts → unix secs (P3)

    # --- gates / behavior flags ---
    is_active: bool = True  # merge.sql:90-94
    # Reference fidelity vs improvements (SURVEY.md §4 hazards):
    # dedup on the raw string form of PKs (merge.sql:310) instead of the
    # cast values. Default False = cast PKs before dedup (documented fix).
    string_pk_dedup: bool = False
    # step-6 gates UPDATE on __op='u' (step-6:431-438); default replicates
    # the BQ variant (any non-delete op updates, merge.sql:403-418).
    update_only_op_u: bool = False
    # Strict mode adds `source.ts >= target.ts` to the matched clause
    # (reference has no guard — cross-batch late update overwrites;
    # SURVEY.md §2.8). Default False = reference fidelity.
    strict_ts_guard: bool = False
    # Mirror the reference's literal two-stream plan (log_v_i / log_v_d + J2
    # survivorship join, merge.sql:306-349) instead of the unified dedup.
    two_stream_fidelity: bool = False
    # Soft delete: a matched 'd' KEEPS the row as a tombstone — last known
    # values preserved, `__is_deleted` = true, ts/pos advanced to the
    # delete event's — instead of physically removing it (the reference
    # hard-deletes, merge.sql:428-436; warehouses commonly retain
    # tombstones for downstream sync + late-arriving-fact joins). A later
    # re-insert clears the flag; unmatched deletes stay no-ops. The target
    # schema gains the `__is_deleted` boolean automatically.
    soft_delete: bool = False
    # Payload schema drift: what to do when the CDC payload presents a key
    # that is not a target column (the mid-stream new-business-column event).
    # The reference re-reads the target's INFORMATION_SCHEMA every run
    # (merge.sql:289-294) and so picks up columns added by out-of-band DDL;
    # here the policy is explicit:
    #   'ignore' — drop unknown keys (reference behavior when no DDL ran);
    #   'fail'   — raise SchemaDriftError → FAILED audit row (ops gate);
    #   'evolve' — add unknown keys as nullable STRING target columns
    #              before the merge (the payload lands string-typed until a
    #              cast rule declares otherwise — rows written before the
    #              evolution read back NULL). Delta analogue: MERGE
    #              withSchemaEvolution.
    schema_drift_policy: str = "ignore"

    # --- envelope ---
    ts_ns_encoding: str = "auto"  # 'nanos' (step-6:311) | 'iso' (step-5:300) | 'auto'
    # Case-sensitivity alias hack generalized (step-7:310 reads $.place
    # for column PLACE): target column → JSON key override.
    json_key_overrides: dict[str, str] = field(default_factory=dict)

    # --- merge target layout (engine-specific, 100 TB posture) ---
    n_buckets: int = 16  # hash buckets of the parquet target; merge rewrites
    # only affected buckets (partition-pruned, cf. step-8:352-377's
    # PARTITION-list pruning intent).

    # Metadata / envelope columns never projected into the target
    # (merge.sql:291-294).
    EXCLUDED_COLUMNS = frozenset(
        {
            "message_id",
            "source_ts",
            "publish_time",
            "bq_load_ts",
            "mysql_load_ts",
            "load_ts",
            "source_db_table",
            "subscription_name",
            "pos",
            "bigquery_updated_on",
            "mysql_updated_on",
            "updated_on",
            "source_ts_ns_order",
        }
    )

    def __post_init__(self) -> None:
        if not self.pk:
            raise ValueError("config requires at least one primary-key column")
        if self.ts_ns_encoding not in ("auto", "nanos", "iso"):
            raise ValueError(f"bad ts_ns_encoding: {self.ts_ns_encoding}")
        if self.schema_drift_policy not in ("ignore", "fail", "evolve"):
            raise ValueError(f"bad schema_drift_policy: {self.schema_drift_policy}")

    @classmethod
    def from_dict(cls, raw: dict) -> "MergeConfig":
        """Build from a raw config row (normalizes comma lists / empties).

        Accepts both the BQ and MySQL column spellings
        (bq_target_table / mysql_target_table, …).
        """
        list_fields = {
            "pk",
            "epoc_cols",
            "epoc_nano_cols",
            "epoc_day_cols",
            "bit_to_int_col",
            "epoch_to_date_to_string_col",
            "non_epoch_datetime_col",
            "datetime_millis_cols",
            "datetime_to_int_val_col",
            "datetime_null",
            "col_value_as_current_time_ist",
            "epoc_datetime_ist",
            "clustering_fields",
        }
        aliases = {
            "bq_target_table": "target_table",
            "mysql_target_table": "target_table",
            "bq_target_dataset": "target_database",
            "mysql_target_database": "target_database",
            "bq_partition_field": "partition_field",
            "mysql_partition_field": "partition_field",
            "bq_clustering_field": "clustering_fields",
            "mysql_clustering_field": "clustering_fields",
            "source_fp": "cdc_table",
        }
        known = {f.name for f in fields(cls)}
        kwargs: dict = {}
        for k, v in raw.items():
            k = aliases.get(k, k)
            if k not in known:
                continue
            if k in list_fields:
                kwargs[k] = _split_cols(v)
            elif k in ("row_key_binary", "row_key_timestamp"):
                kwargs[k] = _opt(v)
            elif k == "is_active":
                kwargs[k] = bool(int(v)) if not isinstance(v, bool) else v
            else:
                kwargs[k] = v
        return cls(**kwargs)


def load_config(path_or_dict: str | dict, **overrides) -> MergeConfig:
    """Load a MergeConfig from a JSON file path or a raw dict (S1).

    The reference's config lookup is a point SELECT with LIMIT 1
    (step-5.sql:91-131); here config resolution is pure control-plane
    Python — no Spark job.
    """
    if isinstance(path_or_dict, str):
        with open(path_or_dict) as f:
            raw = json.load(f)
    else:
        raw = dict(path_or_dict)
    raw.update(overrides)
    return MergeConfig.from_dict(raw)


def lookup_config(
    spark,
    config_table: str,
    target_database: str,
    target_table: str,
    cdc_table: str | None = None,
) -> MergeConfig:
    """S1 — config-TABLE lookup, mirroring the reference's point SELECT.

    ``SELECT * FROM config_file5 WHERE mysql_target_database = ? AND
    mysql_target_table = ? [AND cdc_table = ?] LIMIT 1``
    (step-5.sql:91-131; merge.sql:84-88). ``config_table`` is a parquet or
    JSON(L) path holding one row per pipeline (the config_file5 mirror).
    Raises if no row matches — the reference would fail the proc the same
    way.
    """
    reader = spark.read
    df = (
        reader.json(config_table)
        if config_table.endswith((".json", ".jsonl"))
        else reader.parquet(config_table)
    )
    cond = (df["target_database"] == target_database) & (df["target_table"] == target_table)
    if cdc_table is not None:
        cond = cond & (df["cdc_table"] == cdc_table)
    row = df.filter(cond).limit(1).first()
    if row is None:
        raise LookupError(
            f"no config row for ({target_database}, {target_table}, {cdc_table})"
        )
    return MergeConfig.from_dict({k: v for k, v in row.asDict().items() if v is not None})
