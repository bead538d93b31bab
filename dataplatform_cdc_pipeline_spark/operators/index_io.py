"""Shared IO primitives: the persisted incremental indexes' reads and
partition rewrites (bm25_index.py, dedup_index.py, ivf_index.py), and
the one crash-safe directory publish behind the bucket-swap merge sink
(merge_target.py) and the audit-table compact (watermark.py).

One copy of each, so the sinks and indexes cannot drift apart (an r12
review found the erase() twins guarding the empty-index read
differently).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_index_table(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Read a persisted index table, treating BOTH a missing directory
    and one whose every partition was erased (only commit markers left)
    as the legitimate empty-index state; any other read error
    propagates (fail-loud). The file-walk probe is coordinator metadata
    work; a cluster deployment would consult a table manifest instead."""
    if not os.path.isdir(path) or not any(
        f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs
    ):
        return spark.createDataFrame([], schema)
    return spark.read.parquet(path)


def coerce_id_frame(spark: SparkSession, ids, col: str) -> DataFrame:
    """Normalize an erase id argument (DataFrame or sequence of ints)
    to a deduplicated single-column frame named ``col``. distinct() up
    front keeps the audit counts exact under caller-supplied duplicate
    ids (r11 ADVICE) while the anti-join erasure itself is insensitive."""
    if not isinstance(ids, DataFrame):
        frame = spark.createDataFrame([(int(i),) for i in ids], f"{col} long")
    else:
        frame = ids.select(F.col(ids.columns[0]).alias(col))
    return frame.distinct()


def replace_partitions(frame: DataFrame, path: str, cols: list[str], affected) -> None:
    """Dynamic-overwrite the partitions ``frame`` holds, then remove the
    ``affected`` partitions (values, or value tuples for several
    ``cols``) it no longer holds — dynamic overwrite only replaces
    partitions PRESENT in the frame. ``frame`` must not read ``path``."""
    (
        frame.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*cols)
        .parquet(path)
    )
    present = {tuple(r) for r in frame.select(*cols).distinct().collect()}
    for key in affected:
        key = key if isinstance(key, tuple) else (key,)
        if key not in present:
            shutil.rmtree(
                os.path.join(path, *[f"{c}={v}" for c, v in zip(cols, key)]),
                ignore_errors=True,
            )


def _write_atomic(path: str, text: str) -> None:
    tmp = f"{path}.tmp"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


def publish_dirs(
    journal: str,
    staging: str,
    pairs: list[tuple[str, str]],
    version_file: str | None = None,
    version: int | None = None,
) -> None:
    """Swap staged directories in for live ones, crash-safely: each
    (name, live) pair replaces ``live`` with ``<staging>/<name>``, or only
    retires it when nothing was staged under ``name`` (a bucket emptied by
    deletes). Writes ONE journal (staging tree, pairs, the names really
    staged — a listing, no Spark job — and version), then
    :func:`roll_forward` carries it out. Crash model: a process crash, not
    power loss (nothing is fsynced)."""
    listed = set(os.listdir(staging))
    record = {"staging": staging, "pairs": pairs, "version": version,
              "staged": sorted(name for name, _ in pairs if name in listed),
              "version_file": version_file}
    _write_atomic(journal, json.dumps(record))
    roll_forward(journal)


def roll_forward(journal: str) -> None:
    """Finish the swap ``journal`` describes (a no-op without one): per
    pair, rename the live directory aside INTO the staging tree (no
    listing of the live tree sees it), then the staged one in; write the
    version (tmp + ``os.replace``), remove the journal, and only then
    delete the staging tree. Each step is decided from the disk, so a
    rerun after a crash anywhere converges. Writers run this first."""
    if not os.path.isfile(journal):
        return
    with open(journal) as f:
        record = json.load(f)
    staging, staged = record["staging"], set(record["staged"])
    for name, live in record["pairs"]:
        src = os.path.join(staging, name)
        if name in staged and not os.path.isdir(src):
            continue  # renamed in by an earlier run
        if os.path.isdir(live):
            os.rename(live, os.path.join(staging, f"{name}.aside"))
        if name in staged:
            os.rename(src, live)
    if record["version_file"] is not None:
        _write_atomic(record["version_file"], str(record["version"]))
    os.remove(journal)
    shutil.rmtree(staging, ignore_errors=True)
