"""Payload schema drift: detection + policy (ignore / fail / evolve).

The production CDC event everyone eventually hits: the source system adds a
business column and the payload starts carrying a key the target table
doesn't have. The reference handles this implicitly — it re-reads the
target's INFORMATION_SCHEMA at the start of every run (merge.sql:289-294),
so a column added to the target by out-of-band DDL is picked up on the next
merge, and keys with no target column are silently dropped by the
column-list projection. Here the behavior is an explicit, tested policy on
``MergeConfig.schema_drift_policy``:

- ``ignore``  — unknown payload keys are dropped (reference behavior when
  nobody ran DDL); zero overhead — detection is skipped entirely.
- ``fail``    — :class:`SchemaDriftError` is raised before any DML; the
  engine logs a FAILED audit row and re-raises (the CAST-error posture).
- ``evolve``  — unknown keys become nullable STRING target columns before
  the merge (BigQuery's ALTER TABLE ADD COLUMN + the reference's
  INFORMATION_SCHEMA re-read, fused). String because the payload is JSON:
  without a declared cast rule the landing type is the raw string form —
  exactly how every other uncast column lands (P15) — and a later config
  round can add the column to a cast list. Rows written before the
  evolution read back NULL (parquet scans fill missing columns from the
  requested schema; Delta does the same after MERGE withSchemaEvolution).

Scale shape: detection is one ``json_object_keys`` scan of the (windowed)
change batch aggregated to its distinct key set — a map-side-combined agg
over a handful of distinct values, run only when the policy asks for it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataplatform_cdc_pipeline_spark.config import MergeConfig

#: CDC envelope keys — never target columns (FIXTURES.md F1).
ENVELOPE_KEYS = frozenset({"__op", "__ts_ns", "__source_pos"})


class SchemaDriftError(ValueError):
    """Raised under ``schema_drift_policy='fail'`` when the payload carries
    keys that are not target columns."""


def detect_payload_drift(
    windowed: DataFrame, schema: T.StructType, cfg: MergeConfig
) -> list[str]:
    """Distinct payload keys in the batch with no target column, sorted.

    Known = target columns (via ``json_key_overrides`` when a column reads
    a differently-spelled key), envelope keys, the row-key source keys
    (P2/P3 read a payload key that lands in ``rowkeynum``, not under its
    own name), and the excluded metadata columns (merge.sql:291-294).
    """
    known = set(ENVELOPE_KEYS) | set(MergeConfig.EXCLUDED_COLUMNS)
    for f in schema.fields:
        known.add(cfg.json_key_overrides.get(f.name, f.name))
    if cfg.row_key_binary:
        known.add(cfg.row_key_binary)
    if cfg.row_key_timestamp:
        known.add(cfg.row_key_timestamp)
    rows = (
        windowed.select(F.explode(F.json_object_keys("data")).alias("k"))
        .distinct()  # map-side partial agg: a handful of distinct keys move
        .collect()
    )
    return sorted(r["k"] for r in rows if r["k"] not in known)


def apply_drift_policy(windowed: DataFrame, target, cfg: MergeConfig) -> list[str]:
    """Detect drift in the batch and apply ``cfg.schema_drift_policy`` to
    ``target`` (a ParquetMergeTarget sink). Returns the list of evolved
    column names (empty when nothing drifted or policy is 'ignore').

    'ignore' short-circuits without scanning — the default costs nothing.
    """
    if cfg.schema_drift_policy == "ignore":
        return []
    new_keys = detect_payload_drift(windowed, target.schema, cfg)
    if not new_keys:
        return []
    if cfg.schema_drift_policy == "fail":
        raise SchemaDriftError(
            f"payload presents keys with no target column: {new_keys} "
            f"(target {cfg.target_database}.{cfg.target_table}; set "
            f"schema_drift_policy='evolve' to add them as nullable strings)"
        )
    target.evolve_schema([T.StructField(k, T.StringType(), True) for k in new_keys])
    return new_keys
