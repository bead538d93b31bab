"""Measured 10× step for the table-maintenance and incremental-BM25
queries: cdc_compact_binpack, stream_compact_runs, incremental_bm25_batch
and stream_bm25_index.

Same protocol as scripts/scale_bench.py: sf0.01 → sf0.1 → synthetic
sf1 (sf0.1 events/documents replicated 10× with shifted ids so key
cardinality grows WITH the data), one warm session, one timed pass per
(query, scale). Prints one JSON line {query: {sf: sec}}.

Run: python3 scripts/compact_scale_bench.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from dataplatform_cdc_pipeline_spark.session import get_spark
from dataplatform_cdc_pipeline_spark.sources.tables import load_table

SF001 = "/root/testdata/sf0.01"
SF01 = "/root/testdata/sf0.1"
SF1 = "/tmp/sf1synth_r11"
REPL = 10

NAMES = (
    "cdc_compact_binpack",
    "stream_compact_runs",
    "incremental_bm25_batch",
    "stream_bm25_index",
)


def build_sf1(spark) -> None:
    if os.path.isdir(SF1):
        shutil.rmtree(SF1)
    os.makedirs(SF1)
    ev = load_table(spark, SF01, "events")
    n_ev = ev.agg(F.max("event_id")).collect()[0][0] + 1
    parts = []
    for r in range(REPL):
        parts.append(ev.withColumn("event_id", F.col("event_id") + F.lit(r * n_ev)))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.write.parquet(f"{SF1}/events.parquet")

    docs = load_table(spark, SF01, "documents")
    n_doc = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    parts = [
        docs.withColumn("doc_id", F.col("doc_id") + F.lit(r * n_doc))
        for r in range(REPL)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.write.parquet(f"{SF1}/documents.parquet")


def main() -> None:
    spark = get_spark("compact-scale-bench")
    build_sf1(spark)
    results: dict[str, dict[str, float]] = {}
    registry = entrymod.queries()
    for name in NAMES:
        fn = registry[name]
        results[name] = {}
        for label, sf_dir in (("sf0.01", SF001), ("sf0.1", SF01), ("sf1x", SF1)):
            t0 = time.time()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            results[name][label] = round(time.time() - t0, 2)
    print(json.dumps(results))
    shutil.rmtree(SF1, ignore_errors=True)


if __name__ == "__main__":
    main()
