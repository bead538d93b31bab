"""Incremental BM25 search index — a PERSISTED inverted index so each
new crawl batch becomes searchable at delta cost.

``search.bm25_search`` re-tokenizes the full corpus per query; at 100 TB
that makes every curation/debug search O(corpus), the wrong asymptote.
This keeps the inverted index AS TABLES (the search mirror of the
incremental LSH band index in dedup_index.py and the IVF code index in
ivf_index.py; the reference has no counterpart — standard inverted-index
maintenance per the IR literature):

- **posting rows** ``(term, doc_id, tf, dl)`` — tokenization (the
  expensive pass) runs ONCE per document, when its batch is added.
- **per-batch aggregates** make the GLOBAL statistics exact without any
  O(corpus) work at either add or query time: a ``df`` table
  ``(term, df)`` and a one-row ``docstats`` table
  ``(n_docs, n_dl, sum_dl)`` per batch (docstats aggregated from the
  docs frame itself, not the postings, so zero-token documents still
  count toward N/avgdl). Batches hold disjoint doc_ids (the ingest contract shared
  by all the incremental indexes here), so corpus df(t) = Σ batch df,
  N = Σ n_docs, avgdl = Σ sum_dl / N — BM25's moving parts (idf, avgdl)
  are recomputed from CURRENT totals at query time, which is what makes
  the index incrementally maintainable at all: a new batch shifts every
  document's score without touching any stored row.
- **batch add** publishes the tables under ``batch=<id>`` partitions
  with dynamic partition overwrite — replaying a batch rewrites exactly
  its own partitions byte-identically (idempotent ingest, the same
  exactly-once-by-rewrite contract as the streaming merges).
- **doclens** ``(doc_id, dl)`` per batch — one skinny row per document
  (dl NULL for null-text docs). It is the doc→batch map that makes
  ``erase`` (right-to-be-forgotten) pruned and exact: affected batches
  resolve from a |docs|-row table instead of a postings scan, and a
  zero-token doc — invisible in postings — still decrements N, because
  docstats is the doclens aggregate.
- **search** reads postings and df pruned to the query terms (predicate
  pushdown on ``term``; on a cluster the postings table would
  additionally be bucketed by term — documented, not needed at sandbox
  scale) and the tiny per-batch docstats rows. Nothing is O(corpus):
  the scan is |query-term postings|, the aggregates are |batches| rows.

Scoring is ``search.score_postings`` — the SAME expression the
from-scratch path uses — so index search results are bit-identical to
``bm25_search`` over the union corpus (equivalence-pinned in
tests/test_bm25_index.py).
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataplatform_cdc_pipeline_spark.operators.search import score_postings
from dataplatform_cdc_pipeline_spark.operators.text_analysis import tokens_expr

_POSTINGS_SCHEMA = "term string, doc_id long, tf long, dl int, batch string"
_DF_SCHEMA = "term string, df long, batch string"
#: n_docs counts EVERY delta doc (including zero-token/null-text docs that
#: produce no posting rows); n_dl/sum_dl cover only docs with a non-null
#: token array — mirroring bm25_search's ``count(*)`` + null-ignoring
#: ``avg(__dl)`` exactly, so the bit-equivalence contract holds on corpora
#: with empty or null text (r10 ADVICE: the old postings-derived stats
#: silently dropped such docs from N and avgdl).
_DOCSTATS_SCHEMA = "n_docs long, n_dl long, sum_dl long, batch string"
_DOCLENS_SCHEMA = "doc_id long, dl int, batch string"


class IncrementalBm25Index:
    """Inverted index persisted at ``path`` as three parquet tables
    (postings/, df/, docstats/), each partitioned by ingest batch."""

    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path

    # -- delta computation -------------------------------------------------

    def _postings(self, docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
        """(term, doc_id, tf, dl) for the delta — ONE tokenization pass;
        dl rides every posting row so scoring never joins a doc table."""
        from dataplatform_cdc_pipeline_spark.sources.tables import spread_scan

        # scan-parallelism floor (r13, guide §2.5): a delta batch lands as
        # one file — respread so tokenize+explode runs wide; no-op at
        # production split counts
        docs = spread_scan(docs)
        base = docs.select(
            F.col(id_col).alias("doc_id"), tokens_expr(text_col).alias("__toks")
        ).select("doc_id", F.size("__toks").alias("dl"), F.explode("__toks").alias("term"))
        return base.groupBy("term", "doc_id", "dl").agg(
            F.count(F.lit(1)).alias("tf")
        ).select("term", "doc_id", "tf", "dl")

    # -- index lifecycle ---------------------------------------------------

    def add_batch(
        self,
        batch_id: str,
        docs: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
    ) -> None:
        """Publish the delta's postings + per-batch df, doclens and doc
        stats under ``batch=<batch_id>``. The postings frame is eagerly
        materialized once (localCheckpoint) so the postings write and
        the df aggregate share one tokenization pass; doclens runs its
        own map-only pass over the DOCS frame (one skinny row per doc,
        also checkpointed) because a doc whose text tokenizes to
        nothing produces no posting rows yet still belongs in N/avgdl
        (r10 ADVICE) — docstats is then the doclens aggregate (one
        row), bit-identical to aggregating the docs frame directly."""
        from dataplatform_cdc_pipeline_spark.sources.tables import spread_scan

        # respread once here so BOTH tokenization passes (postings and
        # doclens) run wide over a single-file delta (guide §2.5); the
        # nested _postings spread is then a no-op
        docs = spread_scan(docs)
        postings = self._postings(docs, text_col, id_col).localCheckpoint(eager=True)
        bdf = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        # one row per doc per term -> df = row count per term (doc_ids
        # are unique within a posting group by construction)
        doclens = docs.select(
            F.col(id_col).alias("doc_id"),
            F.size(tokens_expr(text_col)).alias("dl"),
        ).localCheckpoint(eager=True)
        stats = doclens.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("dl").alias("n_dl"),
            F.sum("dl").cast("long").alias("sum_dl"),
        )
        for sub, frame, part_cols in (
            ("postings", postings.repartition("term"), ["batch"]),
            ("df", bdf, ["batch"]),
            ("doclens", doclens, ["batch"]),
            ("docstats", stats, ["batch"]),
        ):
            (
                frame.withColumn("batch", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(*part_cols)
                .parquet(os.path.join(self.path, sub))
            )

    def erase(self, doc_ids: DataFrame | Sequence[int]) -> dict:
        """Right-to-be-forgotten ACROSS the derived index (the GDPR
        twin of cdc_erasure_txn: deleting a document from the corpus is
        not enough — its postings keep its content searchable/
        reconstructible). Removes the docs from postings/doclens and
        recomputes the affected batches' df/docstats, so every
        surviving document's score immediately reflects the smaller
        corpus (idf/avgdl re-derive from the updated aggregates) and a
        post-erase search is bit-identical to from-scratch BM25 over
        the remaining docs (test-pinned).

        Scale shape: affected batches resolve from the skinny doclens
        table pruned by the erased-id join — never a postings scan;
        only those batches' partitions rewrite (delta-cost, like every
        other maintenance op here), emptied ones removed
        (``replace_partitions``). Idempotent: a replay
        finds no surviving rows for the ids and rewrites the same
        partitions identically."""
        from dataplatform_cdc_pipeline_spark.operators.index_io import (
            coerce_id_frame,
            replace_partitions,
        )

        ids = coerce_id_frame(self.spark, doc_ids, "doc_id")

        doclens = self._read("doclens", _DOCLENS_SCHEMA)
        affected = [
            r["batch"]
            for r in doclens.join(ids, "doc_id")
            .select("batch")
            .distinct()
            .collect()
        ]  # bounded control list: |affected batches|
        result = {"batches": sorted(affected), "docs_erased": 0}
        if not affected:
            return result
        bpred = F.col("batch").isin(affected)

        # materialized: replace_partitions' frames must not read the index
        keep_lens = (
            doclens.filter(bpred)
            .join(ids, "doc_id", "left_anti")
            .localCheckpoint(eager=True)
        )
        keep_post = (
            self._read("postings", _POSTINGS_SCHEMA)
            .filter(bpred)
            .join(ids, "doc_id", "left_anti")
            .localCheckpoint(eager=True)
        )
        result["docs_erased"] = (
            doclens.filter(bpred).join(ids, "doc_id").count()
        )
        new_df = keep_post.groupBy("batch", "term").agg(
            F.count(F.lit(1)).alias("df")
        )
        new_stats = keep_lens.groupBy("batch").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("dl").alias("n_dl"),
            F.sum("dl").cast("long").alias("sum_dl"),
        )
        for sub, frame, cols in (
            # re-cluster surviving postings on term, same as add_batch
            ("postings", keep_post.repartition("term"),
             ["term", "doc_id", "tf", "dl", "batch"]),
            ("df", new_df, ["term", "df", "batch"]),
            ("doclens", keep_lens, ["doc_id", "dl", "batch"]),
            ("docstats", new_stats, ["n_docs", "n_dl", "sum_dl", "batch"]),
        ):
            replace_partitions(
                frame.select(*cols), os.path.join(self.path, sub), ["batch"], affected
            )
        return result

    def compact_segments(self, batch_ids: Sequence[str] | None = None) -> dict:
        """Merge per-batch partitions into ONE consolidated segment —
        the Lucene/LSM segment-merge analog for this index. Per-batch
        partitioning is what makes adds delta-cost, but at 100 TB a
        long-lived index accrues thousands of batch partitions and the
        search's |batches|-row aggregate (and the file count under
        every sub-table) grows with ingest history; compaction restores
        the partition economics without touching scores, because search
        only ever SUMS the per-batch aggregates — a merge that
        preserves posting rows and recomputes df/docstats over the
        merged doclens is score-bit-identical by construction
        (test-pinned).

        Crash-safe by key-deduplicated union: the segment id is a pure
        function of the sorted REQUESTED batch ids (so a replay of the
        same call finds its own prior segment); the merged frames are
        ``dropDuplicates(primary key)`` over (surviving requested
        batches ∪ any rows already under existing segment partitions in
        the merge set), so a replay after a crash anywhere between the
        segment write and the old-partition removals reconstructs the
        identical segment from whatever mix of old and new partitions
        survives — the same exactly-once-by-rewrite contract as
        add_batch. df and docstats are RECOMPUTED from the merged
        postings/doclens (never summed), so partial states cannot
        double-count. ``batch_ids=None`` merges every current batch
        (including prior segments — re-compacting is legitimate and
        idempotent)."""
        import hashlib

        from dataplatform_cdc_pipeline_spark.operators.index_io import (
            replace_partitions,
        )

        current = sorted(
            r["batch"]
            for r in self._read("doclens", _DOCLENS_SCHEMA)
            .select("batch").distinct().collect()
        )  # bounded control list: |batches|
        requested = current if batch_ids is None else sorted(set(batch_ids))
        # the segment id is a pure function of the REQUESTED ids, so a
        # replay of the same call finds — and idempotently rewrites —
        # its own prior segment partition
        seg = "seg-" + hashlib.md5(",".join(requested).encode()).hexdigest()[:12]
        present = [b for b in requested if b in current and b != seg]
        missing = sorted(set(requested) - set(present) - {seg})
        if missing and seg not in current:
            # requested batches absent from disk are only legal as the
            # crash-replay remainder of a previous merge into THIS
            # segment — otherwise fail loud
            raise ValueError(
                f"compact_segments: batches missing from the index and "
                f"no segment {seg} to recover them from: {missing}"
            )
        result = {"segment": seg, "merged": present, "n_docs": 0}
        if not present and seg not in current:
            return result
        bpred = F.col("batch").isin(present + [seg])

        # key-deduplicated survivors, materialized: the frames must not read the index
        doclens = (
            self._read("doclens", _DOCLENS_SCHEMA)
            .filter(bpred)
            .dropDuplicates(["doc_id"])
            .select("doc_id", "dl")
            .localCheckpoint(eager=True)
        )
        postings = (
            self._read("postings", _POSTINGS_SCHEMA)
            .filter(bpred)
            .dropDuplicates(["term", "doc_id"])
            .select("term", "doc_id", "tf", "dl")
            .localCheckpoint(eager=True)
        )
        result["n_docs"] = doclens.count()
        bdf = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        stats = doclens.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("dl").alias("n_dl"),
            F.sum("dl").cast("long").alias("sum_dl"),
        )
        for sub, frame in (
            ("postings", postings.repartition("term")),
            ("df", bdf),
            ("doclens", doclens),
            ("docstats", stats),
        ):
            # the frame holds only the segment, so the merged batches
            # (present) are the partitions it retires
            replace_partitions(
                frame.withColumn("batch", F.lit(seg)),
                os.path.join(self.path, sub),
                ["batch"],
                present + [seg],
            )
        return result

    def _read(self, sub: str, schema: str) -> DataFrame:
        """Shared empty-state-aware read (operators/index_io.py): a
        missing subdirectory — or one whose every partition was erased
        (only commit markers left) — is the legitimate empty-index
        state; any other read error propagates."""
        from dataplatform_cdc_pipeline_spark.operators.index_io import (
            read_index_table,
        )

        return read_index_table(
            self.spark, os.path.join(self.path, sub), schema
        )

    # -- search ------------------------------------------------------------

    def search(
        self,
        query_terms: Sequence[str],
        k1: float = 1.2,
        b: float = 0.75,
        top_k: int = 20,
        batch_filter=None,
    ) -> DataFrame:
        """Top-k (doc_id, bm25) over the indexed corpus — postings and
        df key-pruned to the query terms, global stats summed from the
        per-batch aggregates (|batches| rows, broadcast).

        ``batch_filter`` (a boolean Column over ``batch``) restricts the
        view to a batch subset — the streaming loop searches "batches
        ≤ k" so a replay after checkpoint loss reconstructs exactly the
        pre-crash view (streaming/bm25_stream.py), and time-travel
        debugging can re-rank any historical corpus prefix."""
        terms = list(query_terms)

        def scoped(frame: DataFrame) -> DataFrame:
            return frame.filter(batch_filter) if batch_filter is not None else frame

        tf = (
            scoped(self._read("postings", _POSTINGS_SCHEMA))
            .filter(F.col("term").isin(terms))
            .select(
                F.col("doc_id"),
                F.col("term").alias("__term"),
                F.col("dl").alias("__dl"),
                F.col("tf").alias("__tf"),
            )
        )
        df_ = (
            scoped(self._read("df", _DF_SCHEMA))
            .filter(F.col("term").isin(terms))
            .groupBy("term")
            .agg(F.sum("df").alias("__df"))
            .select(F.col("term").alias("__term"), "__df")
        )
        # avgdl divides by the docs that HAVE a length (null-text docs
        # count in N but not avgdl — the same null-ignoring avg
        # bm25_search computes), keeping index scores bit-identical to
        # the from-scratch path on any corpus
        stats = scoped(self._read("docstats", _DOCSTATS_SCHEMA)).agg(
            F.sum("n_docs").alias("__n_docs"),
            (
                F.sum("sum_dl").cast("double") / F.sum("n_dl").cast("double")
            ).alias("__avgdl"),
        )
        return score_postings(tf, df_, stats, id_col="doc_id", k1=k1, b=b, top_k=top_k)

    def term_stats(self, query_terms: Sequence[str], batch_filter=None) -> DataFrame:
        """(term, df) audit over the current index for the given terms."""
        frame = self._read("df", _DF_SCHEMA)
        if batch_filter is not None:
            frame = frame.filter(batch_filter)
        return (
            frame.filter(F.col("term").isin(list(query_terms)))
            .groupBy("term")
            .agg(F.sum("df").alias("df"))
        )
