"""Incremental corpus dedup — a PERSISTED MinHash-LSH band index so each
new crawl batch dedups against the whole corpus at delta cost.

Every batch-mode dedup here (text_dedup.minhash_dedup_pairs and friends)
recomputes signatures for the full corpus; at 100 TB that makes per-batch
ingest O(corpus), which is the wrong asymptote — production pipelines
(the reference has no counterpart; this follows the standard
inverted-index maintenance pattern) keep the band index AS A TABLE:

- **index rows** are ``(band_key, doc_id)`` — two narrow columns, one row
  per band per doc (4 by default). The expensive part of MinHash (MD5
  over every shingle of every doc) runs ONCE per document, when its
  batch is added.
- **batch add** writes the delta's band rows under a ``batch=<id>``
  partition with dynamic partition overwrite — replaying a batch
  overwrites its own partition byte-identically (idempotent ingest, the
  same exactly-once-by-rewrite contract as the streaming merges).
- **batch dedup** computes signatures for the NEW docs only, semi-joins
  the stored index down to the band buckets the delta actually touches,
  and verifies candidates with exact Jaccard over shingle sets fetched
  (semi-join pushback) for candidate ids only. Old docs are never
  re-shingled — the index IS the memory of their signatures.

Scale shape per batch: signature scan over the delta; ONE shuffle on
band_key joining delta bands against the (key-pruned) index scan; the
verify join touches |candidates| docs. Nothing is O(corpus) except the
narrow index scan itself, which is IO over two columns.

Shares every primitive with text_dedup.py (same signature math, same
band keys, same bucket-cap guard, same floor-stable Jaccard), so pairs
produced incrementally are bit-identical to a from-scratch
minhash_dedup_pairs over the union — equivalence-pinned in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataplatform_cdc_pipeline_spark.operators.lsh_guard import cap_buckets
from dataplatform_cdc_pipeline_spark.operators.text_dedup import (
    DEFAULT_BANDS,
    DEFAULT_MAX_BUCKET,
    DEFAULT_MINHASH_K,
    band_keys_expr,
    jaccard_expr,
    minhash_signature_udf,
    shingle_set_udf,
)


class IncrementalLshIndex:
    """MinHash-LSH band index persisted at ``path`` as a parquet table
    partitioned by ingest batch."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        k: int = DEFAULT_MINHASH_K,
        bands: int = DEFAULT_BANDS,
        n: int = 3,
        max_bucket: int | None = DEFAULT_MAX_BUCKET,
    ) -> None:
        self.spark = spark
        self.path = path
        self.k = k
        self.bands = bands
        self.n = n
        self.max_bucket = max_bucket

    # -- band computation (delta only) ------------------------------------

    def _band_rows(self, docs: DataFrame) -> DataFrame:
        # NOT respread (r13, measured): LSH delta batches are small and
        # the Arrow signature UDF is already fast — a spread_scan here
        # cost more in shuffle + 32-task overhead across the lifecycle's
        # many jobs than the one-core pass it saved (+1.6-2.1 s on the
        # incremental/stream dedup queries; BM25's explode-heavy ingest
        # is the seam where the respread pays).
        sig = minhash_signature_udf(self.k, self.n)(F.col("text"))
        return docs.select(
            "doc_id", sig.alias("minhash_sig")
        ).select(
            "doc_id",
            F.explode(
                band_keys_expr(F.col("minhash_sig"), self.bands, self.k)
            ).alias("band_key"),
        )

    def band_rows(self, docs: DataFrame) -> DataFrame:
        """Materialized (doc_id, band_key) rows for a delta — ONE MinHash
        signature pass, reusable by both ``dedup_batch`` and
        ``add_batch`` via their ``bands`` parameter (r12 optimization,
        guide §1.2: the screen-then-publish loop previously ran the
        signature pandas_udf twice over the same batch). Deterministic,
        so reuse cannot change any result."""
        return self._band_rows(docs).localCheckpoint(eager=True)

    # -- index lifecycle ---------------------------------------------------

    def add_batch(
        self, batch_id: str, docs: DataFrame, bands: DataFrame | None = None
    ) -> None:
        """Compute band rows for ``docs`` (the delta — signatures run
        over nothing else) and publish them under ``batch=<batch_id>``.
        Dynamic partition overwrite makes replay idempotent: re-adding a
        batch rewrites exactly its own partition.

        ``bands``: precomputed :meth:`band_rows` for the SAME docs, so a
        caller that already screened the delta doesn't pay the signature
        pass twice."""
        rows = (
            bands if bands is not None else self._band_rows(docs)
        ).select("doc_id", "band_key").withColumn("batch", F.lit(batch_id))
        (
            rows.repartition("band_key")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch")
            .parquet(self.path)
        )

    def index_bands(self) -> DataFrame:
        """(band_key, doc_id, batch) — the stored index. A missing path
        — or one whose every partition was erased (only commit markers
        left after an erase-all) — is the legitimate empty-index state
        and reads as zero rows; any OTHER read error propagates
        (fail-loud — the same narrow-catch contract as
        streaming/sketches). The guard is the shared
        operators/index_io.read_index_table (an r12 review found the
        erase-all state crashing here while BM25's twin guarded it)."""
        from dataplatform_cdc_pipeline_spark.operators.index_io import (
            read_index_table,
        )

        return read_index_table(
            self.spark, self.path, "band_key string, doc_id long, batch string"
        ).select("band_key", "doc_id", "batch")

    def erase(self, doc_ids) -> dict:
        """Right-to-be-forgotten ACROSS the derived dedup index (the
        LSH twin of bm25_index.erase: deleting a document from the
        corpus is not enough — its stored band rows keep matching
        future near-duplicates against it). Removes the docs' band
        rows; post-erase screening is bit-identical to an index that
        never held them (test-pinned), because band rows are the
        index's ONLY per-doc state — there are no global aggregates to
        recompute (unlike BM25's df/docstats).

        Scale shape: affected batches resolve from the narrow
        (band_key, doc_id) scan itself joined to the broadcast id set —
        the index IS its own skinny membership table (2 columns,
        ``bands`` rows per doc, the same row class as BM25's doclens);
        only those batch partitions rewrite (``replace_partitions``
        also removes the emptied ones). Idempotent: a replay
        finds no surviving rows for the ids and rewrites the same
        partitions identically."""
        from dataplatform_cdc_pipeline_spark.operators.index_io import (
            coerce_id_frame,
            replace_partitions,
        )

        ids = coerce_id_frame(self.spark, doc_ids, "doc_id")

        index = self.index_bands()
        affected = [
            r["batch"]
            for r in index.join(ids, "doc_id")
            .select("batch")
            .distinct()
            .collect()
        ]  # bounded control list: |affected batches|
        result = {"batches": sorted(affected), "docs_erased": 0}
        if not affected:
            return result
        bpred = F.col("batch").isin(affected)

        # materialized: replace_partitions' frame must not read the index
        keep = (
            index.filter(bpred)
            .join(ids, "doc_id", "left_anti")
            .localCheckpoint(eager=True)
        )
        result["docs_erased"] = (
            index.filter(bpred).join(ids, "doc_id")
            .select("doc_id").distinct().count()
        )
        replace_partitions(
            keep.select("band_key", "doc_id", "batch").repartition("band_key"),
            self.path,
            ["batch"],
            affected,
        )
        return result

    # -- incremental dedup ---------------------------------------------------

    def dedup_batch(
        self,
        new_docs: DataFrame,
        corpus: DataFrame,
        threshold: float = 0.5,
        exclude_batches: tuple[str, ...] = (),
        index_filter=None,
        bands: DataFrame | None = None,
    ) -> DataFrame:
        """Near-dup pairs (exact Jaccard ≥ threshold) between ``new_docs``
        and (index ∪ new_docs): columns ``new_id`` (the incoming doc),
        ``other_id``, ``kind`` ('cross' vs the stored corpus, 'intra'
        within the batch), ``jaccard``.

        ``corpus`` resolves candidate ids to text for the exact verify —
        only docs appearing in candidate pairs are shingled. The INDEX,
        not ``corpus``, decides old-side candidates: an old doc absent
        from the index is invisible (tested), which is what "the index
        is the corpus memory" means operationally.

        ``exclude_batches`` masks index partitions (e.g. the batch's own
        rows when dedup runs after its add); ``index_filter`` is an
        arbitrary Column predicate over the index's ``batch`` column —
        the streaming loop uses it to see strictly EARLIER batches, so a
        replay after checkpoint loss screens against exactly the
        pre-crash world rather than its own future.

        ``bands``: precomputed :meth:`band_rows` for ``new_docs`` —
        lets the screen-then-publish loop run ONE signature pass per
        batch instead of two (deterministic, so pairs are unchanged)."""
        new_bands = (
            bands
            if bands is not None
            else self._band_rows(new_docs).localCheckpoint(eager=True)
        )
        old = self.index_bands()
        for b in exclude_batches:
            old = old.filter(F.col("batch") != b)
        if index_filter is not None:
            old = old.filter(index_filter)
        # prune the index to buckets the delta touches BEFORE the pair
        # join — co-partitioned on the same key, so AQE reuses the
        # exchange for the join that follows
        old = old.join(
            new_bands.select("band_key").distinct(), "band_key", "left_semi"
        )
        merged = cap_buckets(
            old.select("band_key", "doc_id", F.lit(1).alias("is_new")).unionByName(
                new_bands.select("band_key", "doc_id", F.lit(2).alias("is_new"))
            ).withColumn("is_new", F.col("is_new") == 2),
            "band_key",
            self.max_bucket,
            "incremental-lsh",
        )
        a, b = merged.alias("a"), merged.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.band_key") == F.col("b.band_key"))
                & (F.col("a.doc_id") < F.col("b.doc_id"))
                & (F.col("a.is_new") | F.col("b.is_new")),
            )
            .select(
                F.when(F.col("a.is_new") & ~F.col("b.is_new"), F.col("a.doc_id"))
                .when(F.col("b.is_new") & ~F.col("a.is_new"), F.col("b.doc_id"))
                .otherwise(F.col("a.doc_id"))
                .alias("new_id"),
                F.when(F.col("a.is_new") & ~F.col("b.is_new"), F.col("b.doc_id"))
                .when(F.col("b.is_new") & ~F.col("a.is_new"), F.col("a.doc_id"))
                .otherwise(F.col("b.doc_id"))
                .alias("other_id"),
                F.when(F.col("a.is_new") & F.col("b.is_new"), F.lit("intra"))
                .otherwise(F.lit("cross"))
                .alias("kind"),
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        cand_ids = (
            cand.select(F.col("new_id").alias("doc_id"))
            .union(cand.select(F.col("other_id").alias("doc_id")))
            .distinct()
        )
        sets_ = corpus.join(cand_ids, "doc_id", "left_semi").select(
            "doc_id", shingle_set_udf(self.n)(F.col("text")).alias("shingle_set")
        )
        joined = cand.join(
            sets_.withColumnRenamed("doc_id", "new_id").withColumnRenamed(
                "shingle_set", "set_a"
            ),
            "new_id",
        ).join(
            sets_.withColumnRenamed("doc_id", "other_id").withColumnRenamed(
                "shingle_set", "set_b"
            ),
            "other_id",
        )
        return joined.select(
            "new_id",
            "other_id",
            "kind",
            (
                F.floor(jaccard_expr(F.col("set_a"), F.col("set_b")) * F.lit(1000000.0))
                / F.lit(1000000.0)
            ).alias("jaccard"),
        ).filter(F.col("jaccard") >= threshold)
