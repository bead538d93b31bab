"""The workloads, driven only through the engine's public calls.

Each workload has the same life cycle, driven by ``run.py``:

- ``setup()`` makes the directories, lands the first inputs and runs the
  warm-up batches, so that the timed batches start where batch wall time
  has levelled off after the cold first batches (README.md gives the
  curve). The timed phase carries on from that state.
- ``land()`` generates the next input and renames it into the directory
  the engine reads (untimed).
- ``run_batch(tracer)`` runs one batch and returns the items it completed.
  Untraced, it makes the calls a user makes. Traced, it makes the same
  calls in the same order, one public call per span (``probe.Tracer``).
- ``read(tracer)`` runs the read that follows each batch.
- ``check()`` compares everything the engine produced with the DuckDB
  expectation (``oracle.py``) and returns ``(checks, mismatching checks)``.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql import types as T

import gen
import oracle
from probe import span
from dataplatform_cdc_pipeline_spark.config import MergeConfig
from dataplatform_cdc_pipeline_spark.engine import run_merge
from dataplatform_cdc_pipeline_spark.operators.dedup_index import IncrementalLshIndex
from dataplatform_cdc_pipeline_spark.operators.merge_target import ParquetMergeTarget
from dataplatform_cdc_pipeline_spark.operators.watermark import WatermarkStore
from dataplatform_cdc_pipeline_spark.plans.merge_plan import build_changes, window_scan

USER_STATE_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("k", T.IntegerType()),
    ]
)


class _Workload:
    warmup_batches: int
    #: Wall seconds of one batch and its read on the reference host; the
    #: timed phase runs ``--seconds`` worth of batches at this cost.
    nominal_batch_s: float
    items_per_batch: int

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.landing = os.path.join(work, "landing")
        self.staging = os.path.join(work, "staging")

    def setup(self) -> None:
        os.makedirs(self.landing)
        os.makedirs(self.staging)
        self.files: list[str] = []
        self.reads: list = []
        self.open()
        for _ in range(self.warmup_batches):
            self.land()
            self.run_batch(None)
            self.read(None)
        self.reads.clear()

    def land(self) -> None:
        """Write to a staging name, then rename into the landing directory,
        so a scan never sees a half-written file."""
        name = f"part-{len(self.files):05d}.parquet"
        staged = os.path.join(self.staging, name)
        gen.write(self.input_table(len(self.files)), staged)
        self.files.append(os.path.join(self.landing, name))
        os.rename(staged, self.files[-1])


class CdcTrickle(_Workload):
    """Small slices landing in a bronze directory that feeds one silver
    target: a watermark-driven ``run_merge`` each, then a point read."""

    name = "cdc_trickle"
    warmup_batches = 2
    nominal_batch_s = 1.25
    items_per_batch = gen.TRICKLE_SLICE

    def open(self) -> None:
        self.cfg = MergeConfig.from_dict(
            {
                "cdc_table": self.landing,
                "target_table": self.name,
                "pk": "user_id",
                "ts_ns_encoding": "nanos",
            }
        )
        self.target = ParquetMergeTarget(
            self.spark, os.path.join(self.work, "silver"), self.cfg, USER_STATE_SCHEMA
        )
        self.audit = WatermarkStore(self.spark, os.path.join(self.work, "audit"))

    def run_batch(self, tracer) -> int:
        if tracer is None:
            status = run_merge(self.spark, self.cfg, self.target, self.audit)["status"]
            if status != "SUCCESS":
                raise RuntimeError(f"merge status {status}")
        else:
            self._traced_merge(tracer)
        return self.items_per_batch

    def _traced_merge(self, tracer) -> None:
        """``run_merge``'s order for the default config, one layer per span;
        the change set is materialised inside ``plans`` so that the merge
        span holds only the resolve, write and commit."""
        cfg, audit = self.cfg, self.audit
        started = datetime.datetime.utcnow()
        with tracer.span("sources"):
            raw = self.spark.read.parquet(cfg.cdc_table)
        with tracer.span("watermark.read"):
            start = audit.read_watermark(cfg.cdc_table, cfg.target_table)
        with tracer.span("plans"):
            changes = build_changes(
                window_scan(raw, cfg, start, None), self.target.schema, cfg
            ).persist()
            changes.count()
        try:
            with tracer.span("merge_target"):
                stats = self.target.merge(changes)
        finally:
            changes.unpersist()
        counts = {
            "records_inserted": stats["records_inserted"],
            "records_deleted": stats["records_deleted"],
        }
        tracer.batches[-1]["changes"] = sum(counts.values())
        with tracer.span("watermark.append"):
            run_id = audit.append_run(
                cfg.cdc_table, cfg.target_database, cfg.target_table,
                stats["cdc_start_ts"], stats["cdc_end_ts"], "SUCCESS", **counts,
            )
            audit.append_job_log(
                run_id, "sp_cdc_merge_job", cfg.target_database, cfg.target_table,
                started, datetime.datetime.utcnow(), "SUCCESS", **counts,
            )

    def input_table(self, index: int) -> pa.Table:
        return gen.trickle_slice(self.seed, index)

    def read(self, tracer) -> None:
        i = len(self.files) - 1
        key = int(np.random.default_rng([self.seed, 5, i]).integers(0, gen.TRICKLE_KEYS))
        with span(tracer, "read"):
            got = self.target.read().filter(F.col("user_id") == key).toArrow()
        self.reads.append((i, key, got))

    def check(self) -> tuple[int, int]:
        orc = oracle.CdcOracle(self.files)
        bad_reads = sum(orc.point_mismatches(*r) > 0 for r in self.reads)
        bad_state = orc.state_mismatches(self.target.read().toArrow(), len(self.files) - 1) > 0
        return 1 + len(self.reads), bad_reads + bad_state


class LlmDedup(_Workload):
    """Document batches screened against, then published to, the
    incremental MinHash-LSH index, in ``streaming/dedup_stream.py``'s order;
    then a lookup of one document's band rows in the index."""

    name = "llm_dedup"
    warmup_batches = 2
    nominal_batch_s = 2.0
    items_per_batch = gen.DOC_BATCH
    threshold = 0.5
    doc_schema = "doc_id long, text string"

    def open(self) -> None:
        self.stream = gen.DocStream(self.seed)
        self.index = IncrementalLshIndex(self.spark, os.path.join(self.work, "index"))
        self.pairs: set = set()

    def input_table(self, index: int) -> pa.Table:
        return self.stream.batch(index)

    def run_batch(self, tracer) -> int:
        i = len(self.files) - 1
        docs = self.spark.read.schema(self.doc_schema).parquet(self.files[-1])
        corpus = self.spark.read.schema(self.doc_schema).parquet(self.landing)
        idx = self.index
        with span(tracer, "dedup_index.signature", py_workers=True):
            bands = idx.band_rows(docs)
        with span(tracer, "dedup_index.screen"):
            found = idx.dedup_batch(docs, corpus, self.threshold, bands=bands).toArrow()
        with span(tracer, "dedup_index.publish"):
            idx.add_batch(f"b{i}", docs, bands=bands)
        if tracer is not None:
            tracer.batches[-1]["pairs"] = found.num_rows
        cols = (found.column(c).to_pylist() for c in ("new_id", "other_id", "jaccard"))
        self.pairs.update((min(a, b), max(a, b), j) for a, b, j in zip(*cols))
        return self.items_per_batch

    def read(self, tracer) -> None:
        i = len(self.files) - 1
        doc = int(np.random.default_rng([self.seed, 6, i]).integers(0, (i + 1) * gen.DOC_BATCH))
        with span(tracer, "read"):
            got = self.index.index_bands().filter(F.col("doc_id") == doc).select("band_key").toArrow()
        self.reads.append((doc, sorted(got.column(0).to_pylist())))

    def check(self) -> tuple[int, int]:
        orc = oracle.DedupOracle(self.files, self.threshold)
        bad_reads = sum(orc.bands(doc) != got for doc, got in self.reads)
        return 1 + len(self.reads), bad_reads + (orc.pairs() != self.pairs)


WORKLOADS = {w.name: w for w in (CdcTrickle, LlmDedup)}
