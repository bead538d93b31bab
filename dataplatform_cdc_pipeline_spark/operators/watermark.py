"""S3 / K5 / A2 — persisted watermark + run-audit logs.

The reference tracks TWO audit tables, both written in the run epilogue
(step-8:572-626):

- ``etl_job_log_incremental_date`` — one row per run with the processed
  window ``[cdc_start_ts, cdc_end_ts]``, counts, and status (DDL
  incremental-date.sql:1-14, etl_job_log_incremental_date_mysql.sql:17-35).
  The next window starts at ``COALESCE(MAX(cdc_end_ts), '1970-01-01')``
  (merge.sql:111-115; step-5.sql:155-163).
- ``etl_job_log`` — per-run job timing/status: ``(run_id, proc_name,
  target db/table, start_time, end_time, run_status, error_msg, counts)``
  (tables_list.sql:38-51; written step-8:598-626 with ON DUPLICATE KEY
  UPDATE — run ids here are fresh UUIDs, so append-only is equivalent).

Run ids are UUIDs — step-8 replaced ``MAX(id)+1`` with ``UUID()`` as
"concurrency-safe" (step-8:169-179).

Spark design: append-only parquet tables. One shared store serves every
pipeline, keyed by (cdc_table_name, target_table) columns — the reference
instead creates one incremental-date table *per source*
(``ETL_JOB_LOG_INCREMENTAL_DATE_<prefix>_<table>``, merge.sql:460, 520-521);
a single partitionable table is the idiomatic warehouse layout (documented
design change, COVERAGE.md §2.6). In streaming mode the Structured
Streaming checkpoint supersedes the watermark (offsets ARE the watermark);
the audit tables are still appended per batch for parity.
"""

from __future__ import annotations

import datetime
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataplatform_cdc_pipeline_spark.operators.index_io import (
    publish_dirs,
    roll_forward,
)

EPOCH = datetime.datetime(1970, 1, 1)


def one_row_df(spark: SparkSession, schema: T.StructType, values: dict) -> DataFrame:
    """One-row DataFrame from Python scalars as a PURE-JVM plan:
    ``range(1).select(lit(...))`` spins no Python worker, where a
    ``createDataFrame`` row did (5-6 s vs ~0.3 s per job at local[32])."""
    cols = [F.lit(values.get(f.name)).cast(f.dataType).alias(f.name) for f in schema.fields]
    return spark.range(1).select(*cols)


def append_row_parquet(path: str, schema: T.StructType, values: dict) -> None:
    """Append ONE audit row by writing a parquet file DIRECTLY with
    pyarrow — no Spark job. The Spark write it replaces
    (``one_row_df(...).coalesce(1).write``) measured 0.3-0.4 s per append
    at local[32], two appends per merge; this is ~10 ms. Spark's audit
    readers supply the read schema, and timestamps round-trip
    value-identically (regression-tested). The physical encodings DIFFER:
    Spark writes INT96 timestamps here, this path int64 micros tz=UTC;
    Spark's reader decodes both and ``read_watermark`` normalizes both, so
    keep both normalizations.

    Crash atomicity: write a dot-prefixed temp name (invisible to
    listings), fsync it, rename into place, fsync the directory.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    fields = []
    arrays = []
    for f in schema.fields:
        if isinstance(f.dataType, T.TimestampType):
            pa_t = pa.timestamp("us", tz="UTC")
            v = values.get(f.name)
            # naive datetimes are UTC wall-clock throughout the engine
            # (session timeZone=UTC); tag them so arrow stores the same
            # instant Spark's lit().cast(timestamp) would
            if v is not None and v.tzinfo is None:
                v = v.replace(tzinfo=datetime.timezone.utc)
        elif isinstance(f.dataType, T.StringType):
            pa_t = pa.string()
            v = values.get(f.name)
        elif isinstance(f.dataType, T.LongType):
            pa_t = pa.int64()
            v = values.get(f.name)
        else:  # fail loudly: silent type drift would corrupt the table
            raise TypeError(
                f"append_row_parquet: unsupported audit column type {f.dataType}"
            )
        fields.append(pa.field(f.name, pa_t, nullable=True))
        arrays.append(pa.array([v], type=pa_t))
    os.makedirs(path, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.snappy.parquet"
    tmp = os.path.join(path, f".{name}.tmp")
    with open(tmp, "wb") as f:
        pq.write_table(
            pa.Table.from_arrays(arrays, schema=pa.schema(fields)),
            f,
            compression="snappy",
        )
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(path, name))
    dfd = os.open(path, os.O_RDONLY)  # persist the rename itself
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)

AUDIT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),  # UUID (step-8:179)
        T.StructField("cdc_table_name", T.StringType()),
        T.StructField("target_database", T.StringType()),
        T.StructField("target_table", T.StringType()),
        T.StructField("cdc_start_ts", T.TimestampType()),
        T.StructField("cdc_end_ts", T.TimestampType()),
        T.StructField("insert_timestamp", T.TimestampType()),
        T.StructField("run_status", T.StringType()),  # SUCCESS | FAILED | PENDING
        T.StructField("error_msg", T.StringType()),
        T.StructField("records_inserted", T.LongType()),
        T.StructField("records_deleted", T.LongType()),
    ]
)


#: ``etl_job_log`` — per-run timing/status (tables_list.sql:38-51)
JOB_LOG_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("proc_name", T.StringType()),
        T.StructField("target_database", T.StringType()),
        T.StructField("target_table", T.StringType()),
        T.StructField("start_time", T.TimestampType()),
        T.StructField("end_time", T.TimestampType()),
        T.StructField("run_status", T.StringType()),
        T.StructField("error_msg", T.StringType()),
        T.StructField("records_inserted", T.LongType()),
        T.StructField("records_deleted", T.LongType()),
    ]
)


def _sanitize(name: str) -> str:
    """Table-name-safe form of a source/table identifier."""
    return "".join(c if c.isalnum() else "_" for c in name).strip("_")


def _is_source_table_dir(entry: str) -> bool:
    """A live per-source audit table directory. compact() stages outside
    ``path``; the exclusion guards against leftovers of older layouts."""
    return entry.startswith("ETL_JOB_LOG_INCREMENTAL_DATE_") and not (
        ".compact-" in entry or ".old-" in entry
    )


class WatermarkStore:
    """Parquet-backed watermark/audit tables (one per engine deployment).

    ``path`` holds the incremental-date table; the run-timing ``etl_job_log``
    twin lives at ``job_log_path`` (default: sibling ``<path>_job_log``).

    ``per_source_naming=True`` replicates the reference EXACTLY: one
    incremental-date table per source, named
    ``ETL_JOB_LOG_INCREMENTAL_DATE_<prefix>_<table>`` (merge.sql:460,
    520-521 CONCATs the table name per source; step-8 likewise) — laid out
    as one subdirectory per source under ``path``. Default False keeps the
    engine's single keyed table (the idiomatic partitionable-warehouse
    layout, COVERAGE.md §2.6); both spellings serve the same reads, and
    ``history()`` unions every per-source table when the flag is on.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        job_log_path: str | None = None,
        per_source_naming: bool = False,
    ):
        self.spark = spark
        self.path = path
        self.job_log_path = job_log_path or f"{path}_job_log"
        self.per_source_naming = per_source_naming

    def _table_dir(self, cdc_table: str | None, target_table: str | None) -> str:
        if not self.per_source_naming or cdc_table is None:
            return self.path
        return (
            f"{self.path}/ETL_JOB_LOG_INCREMENTAL_DATE_"
            f"{_sanitize(cdc_table)}_{_sanitize(target_table or '')}"
        )

    def _tables(self) -> list[tuple[str, str]]:
        """(name, directory) of each audit table: ``path``, or per source."""
        if not os.path.isdir(self.path):
            return []
        if not self.per_source_naming:
            return [(os.path.basename(self.path.rstrip("/")), self.path)]
        return [
            (e, f"{self.path}/{e}")
            for e in sorted(os.listdir(self.path))
            if _is_source_table_dir(e)
        ]

    def _journal(self) -> str:
        """compact()'s swap journal, a sibling that outlives ``path``."""
        parent, base = os.path.split(self.path.rstrip("/"))
        return os.path.join(parent, f".{base}.compact.json")

    def _read(self, cdc_table: str | None = None, target_table: str | None = None) -> DataFrame:
        roll_forward(self._journal())
        if self.per_source_naming and cdc_table is None:
            # union every per-source table (history() over the deployment)
            dirs = [d for _, d in self._tables()]
        else:
            d = self._table_dir(cdc_table, target_table)
            dirs = [d] if os.path.isdir(d) else []
        if not dirs:
            return self.spark.createDataFrame([], AUDIT_SCHEMA)
        return self.spark.read.schema(AUDIT_SCHEMA).parquet(*dirs)

    def read_watermark(self, cdc_table: str, target_table: str) -> datetime.datetime:
        """``COALESCE(MAX(cdc_end_ts), epoch)`` for this pipeline
        (merge.sql:111-115); only SUCCESS runs advance it. Read DIRECTLY
        with pyarrow, no Spark job (the Spark path measured 0.26 s per
        call). The dataset scan skips dot/underscore files like Spark's
        listing and casts both writers' timestamp encodings; the
        tz-normalization below maps either to naive UTC. Equality with
        the Spark aggregate over a mixed-writer store is regression-tested."""
        roll_forward(self._journal())
        d = self._table_dir(cdc_table, target_table)
        if not os.path.isdir(d):
            return EPOCH
        import glob as _glob

        import pyarrow.compute as pc
        import pyarrow.dataset as pds

        if not _glob.glob(os.path.join(d, "*.parquet")):
            return EPOCH
        t = pds.dataset(d, format="parquet").to_table(
            columns=["cdc_end_ts"],
            filter=(pc.field("cdc_table_name") == cdc_table)
            & (pc.field("target_table") == target_table)
            & (pc.field("run_status") == "SUCCESS"),
        )
        wm = pc.max(t.column("cdc_end_ts")).as_py()
        if wm is None:
            return EPOCH
        if wm.tzinfo is not None:
            # engine convention: naive UTC wall-clock (session tz=UTC)
            wm = wm.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return wm

    def append_run(
        self,
        cdc_table: str,
        target_database: str,
        target_table: str,
        cdc_start_ts: datetime.datetime | None,
        cdc_end_ts: datetime.datetime | None,
        run_status: str,
        error_msg: str | None = None,
        records_inserted: int = 0,
        records_deleted: int = 0,
        run_id: str | None = None,
    ) -> str:
        """K5: append one audit row (merge.sql:531-581; step-8:572-626)."""
        roll_forward(self._journal())
        run_id = run_id or str(uuid.uuid4())
        append_row_parquet(
            self._table_dir(cdc_table, target_table),
            AUDIT_SCHEMA,
            {
                "id": run_id,
                "cdc_table_name": cdc_table,
                "target_database": target_database,
                "target_table": target_table,
                "cdc_start_ts": cdc_start_ts,
                "cdc_end_ts": cdc_end_ts,
                "insert_timestamp": datetime.datetime.utcnow(),
                "run_status": run_status,
                "error_msg": error_msg,
                "records_inserted": records_inserted,
                "records_deleted": records_deleted,
            },
        )
        return run_id

    def append_job_log(
        self,
        run_id: str,
        proc_name: str,
        target_database: str,
        target_table: str,
        start_time: datetime.datetime,
        end_time: datetime.datetime,
        run_status: str,
        error_msg: str | None = None,
        records_inserted: int = 0,
        records_deleted: int = 0,
    ) -> None:
        """Append the per-run timing row (etl_job_log, step-8:598-626)."""
        append_row_parquet(
            self.job_log_path,
            JOB_LOG_SCHEMA,
            {
                "run_id": run_id,
                "proc_name": proc_name,
                "target_database": target_database,
                "target_table": target_table,
                "start_time": start_time,
                "end_time": end_time,
                "run_status": run_status,
                "error_msg": error_msg,
                "records_inserted": records_inserted,
                "records_deleted": records_deleted,
            },
        )

    def job_log(self) -> DataFrame:
        if not os.path.isdir(self.job_log_path):
            return self.spark.createDataFrame([], JOB_LOG_SCHEMA)
        return self.spark.read.schema(JOB_LOG_SCHEMA).parquet(self.job_log_path)

    def history(self) -> DataFrame:
        return self._read().orderBy(F.col("insert_timestamp").desc())

    def compact(self, target_files: int = 1) -> int:
        """Rewrite the audit table into ``target_files`` files.

        Each run appends a one-row file; a long-running deployment calls
        this periodically (the small-file problem of append-only audit
        tables). Returns the number of rows compacted. Every table (one,
        or one per source) is staged in a dot-prefixed sibling tree, then
        all swap in through ONE journaled publish (``index_io``) that the
        store's next call rolls forward after a crash.
        """
        roll_forward(self._journal())
        pairs = self._tables()
        if not pairs:
            return 0
        parent, base = os.path.split(self.path.rstrip("/"))
        staging = os.path.join(parent, f".compact-{base}-{uuid.uuid4().hex[:8]}")
        n = 0
        try:
            for name, d in pairs:
                df = self.spark.read.schema(AUDIT_SCHEMA).parquet(d)
                n += df.count()
                df.coalesce(target_files).write.parquet(os.path.join(staging, name))
        except BaseException:
            shutil.rmtree(staging, ignore_errors=True)
            raise
        publish_dirs(self._journal(), staging, pairs)
        return n
