"""Incremental BM25 index (operators/bm25_index.py): index search must
be bit-identical to the from-scratch bm25_search over the union corpus
(including corpora with zero-token documents), and batch replay must be
idempotent. The BM25 queries' DuckDB parity gate lives in
tests/test_registry_contract.py."""

import os

import pytest
from pyspark.sql import functions as F

from dataplatform_cdc_pipeline_spark.operators.bm25_index import (
    IncrementalBm25Index,
)
from dataplatform_cdc_pipeline_spark.operators.search import bm25_search
from dataplatform_cdc_pipeline_spark.queries_llm import BM25_TERMS
from dataplatform_cdc_pipeline_spark.sources.tables import load_table


def _ranked(df):
    return sorted(map(tuple, df.collect()))


def test_index_search_equals_from_scratch(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents")
    idx = IncrementalBm25Index(spark, str(tmp_path / "ix"))
    idx.add_batch("b0", docs.filter(F.col("doc_id") % 2 == 0))
    idx.add_batch("b1", docs.filter(F.col("doc_id") % 2 == 1))
    assert _ranked(idx.search(BM25_TERMS)) == _ranked(
        bm25_search(docs, BM25_TERMS)
    )


def test_zero_token_docs_count_in_global_stats(spark, sf_dir, tmp_path):
    """A doc whose text tokenizes to nothing (null text → null token
    array, no posting rows) must still count toward N — and empty-text
    docs toward avgdl — exactly as bm25_search's count(*) + null-
    ignoring avg do, or the bit-equivalence contract silently breaks on
    real corpora (r10 ADVICE: the old postings-derived docstats dropped
    such docs)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mx = docs.agg(F.max("doc_id")).collect()[0][0]
    extra = spark.createDataFrame(
        [(mx + 1, ""), (mx + 2, "   "), (mx + 3, None)],
        "doc_id long, text string",
    )
    corpus = docs.unionByName(extra)
    idx = IncrementalBm25Index(spark, str(tmp_path / "ix"))
    idx.add_batch("b0", corpus.filter(F.col("doc_id") % 2 == 0))
    idx.add_batch("b1", corpus.filter(F.col("doc_id") % 2 == 1))
    assert _ranked(idx.search(BM25_TERMS)) == _ranked(
        bm25_search(corpus, BM25_TERMS)
    )
    # the docstats really did see all three degenerate docs
    stats = spark.read.parquet(str(tmp_path / "ix/docstats"))
    agg = stats.agg(F.sum("n_docs"), F.sum("n_dl")).collect()[0]
    assert agg[0] == corpus.count()  # null-text doc in N
    assert agg[1] == agg[0] - 1      # ...but not in the avgdl denominator


def test_replay_add_is_idempotent(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents")
    idx = IncrementalBm25Index(spark, str(tmp_path / "ix"))
    idx.add_batch("b0", docs.filter(F.col("doc_id") % 2 == 0))
    before = _ranked(idx.search(BM25_TERMS))
    stats_before = _ranked(idx.term_stats(BM25_TERMS))
    idx.add_batch("b0", docs.filter(F.col("doc_id") % 2 == 0))  # replay
    assert _ranked(idx.search(BM25_TERMS)) == before
    assert _ranked(idx.term_stats(BM25_TERMS)) == stats_before


def test_incremental_add_shifts_global_stats(spark, sf_dir, tmp_path):
    """Adding a batch changes idf/avgdl for EVERY doc — phase-1 ranking
    over b0 must equal from-scratch over b0 only (not a stale slice of
    the full-corpus ranking)."""
    docs = load_table(spark, sf_dir, "documents")
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    idx = IncrementalBm25Index(spark, str(tmp_path / "ix"))
    idx.add_batch("b0", b0)
    assert _ranked(idx.search(BM25_TERMS)) == _ranked(bm25_search(b0, BM25_TERMS))


def test_erase_matches_from_scratch_over_survivors(spark, sf_dir, tmp_path):
    """GDPR erasure across the derived index: after erase(ids), search
    must be bit-identical to from-scratch BM25 over the remaining
    corpus — every survivor's score shifts (idf/avgdl re-derive from
    the updated per-batch aggregates), and the erased docs' content is
    gone from the postings, not just the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    idx = IncrementalBm25Index(spark, str(tmp_path / "ix"))
    idx.add_batch("b0", docs.filter(F.col("doc_id") % 2 == 0))
    idx.add_batch("b1", docs.filter(F.col("doc_id") % 2 == 1))
    erased = docs.filter(F.col("doc_id") % 7 == 3).select("doc_id")
    res = idx.erase(erased)
    assert res["batches"] == ["b0", "b1"]  # ids span both batches
    assert res["docs_erased"] == erased.count()
    survivors = docs.filter(F.col("doc_id") % 7 != 3)
    assert _ranked(idx.search(BM25_TERMS)) == _ranked(
        bm25_search(survivors, BM25_TERMS)
    )
    # the erased docs left no posting rows behind
    post = spark.read.parquet(str(tmp_path / "ix/postings"))
    assert post.join(erased, post.doc_id == erased.doc_id).count() == 0
    # idempotent: erasing again is a no-op with identical results
    before = _ranked(idx.search(BM25_TERMS))
    res2 = idx.erase(erased)
    assert res2["docs_erased"] == 0 and res2["batches"] == []
    assert _ranked(idx.search(BM25_TERMS)) == before


def test_erase_whole_batch_removes_its_partitions(spark, sf_dir, tmp_path):
    """Erasing every doc of a batch must remove that batch's partition
    directories (dynamic overwrite alone would leave the stale
    partition live) and leave search == from-scratch over the rest."""
    docs = load_table(spark, sf_dir, "documents")
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    idx = IncrementalBm25Index(spark, str(tmp_path / "ix"))
    idx.add_batch("b0", b0)
    idx.add_batch("b1", b1)
    idx.erase(b1.select("doc_id"))
    for sub in ("postings", "df", "doclens", "docstats"):
        assert not os.path.isdir(str(tmp_path / f"ix/{sub}/batch=b1")), sub
    assert _ranked(idx.search(BM25_TERMS)) == _ranked(bm25_search(b0, BM25_TERMS))
    # erase the rest: the index is empty but still readable
    idx.erase(b0.select("doc_id"))
    assert idx.search(BM25_TERMS).count() == 0


def test_erase_zero_token_doc_decrements_n(spark, sf_dir, tmp_path):
    """A null-text doc has NO posting rows — only the doclens table
    knows its batch, and only the docstats recompute can decrement N
    for it. Erasing it must shift every score back to the
    without-that-doc ranking."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mx = docs.agg(F.max("doc_id")).collect()[0][0]
    extra = spark.createDataFrame([(mx + 1, None)], "doc_id long, text string")
    idx = IncrementalBm25Index(spark, str(tmp_path / "ix"))
    idx.add_batch("b0", docs.unionByName(extra))
    res = idx.erase([mx + 1])
    assert res["docs_erased"] == 1
    stats = spark.read.parquet(str(tmp_path / "ix/docstats"))
    assert stats.agg(F.sum("n_docs")).collect()[0][0] == docs.count()
    assert _ranked(idx.search(BM25_TERMS)) == _ranked(bm25_search(docs, BM25_TERMS))


def test_erase_duplicate_ids_count_once(spark, sf_dir, tmp_path):
    """docs_erased must count DOCUMENTS, not id-frame rows: a
    caller-supplied id frame with duplicates (e.g. ids joined out of an
    un-deduplicated request log) previously inflated the audit count
    via the doclens join, though the anti-join erasure itself was
    unaffected (r11 ADVICE)."""
    docs = load_table(spark, sf_dir, "documents")
    idx = IncrementalBm25Index(spark, str(tmp_path / "ix"))
    idx.add_batch("b0", docs)
    erased = docs.filter(F.col("doc_id") % 7 == 3).select("doc_id")
    n = erased.count()
    tripled = erased.unionByName(erased).unionByName(erased)
    res = idx.erase(tripled)
    assert res["docs_erased"] == n
    survivors = docs.filter(F.col("doc_id") % 7 != 3)
    assert _ranked(idx.search(BM25_TERMS)) == _ranked(
        bm25_search(survivors, BM25_TERMS)
    )


def test_empty_index_searches_empty(spark, tmp_path):
    idx = IncrementalBm25Index(spark, str(tmp_path / "ix"))
    assert idx.search(BM25_TERMS).count() == 0
    assert idx.term_stats(BM25_TERMS).count() == 0


def _stage_batches(spark, sf_dir, tmp_path, n=3):
    import glob
    import shutil

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    for g in range(n):
        d = str(tmp_path / f"stage_{g}")
        docs.filter(F.col("doc_id") % n == g).coalesce(1).write.parquet(d)
        part = glob.glob(f"{d}/part-*.parquet")[0]
        dest = f"{src}/batch_{g}.parquet"
        shutil.move(part, dest)
        os.utime(dest, (1_000_000_000 + g * 100,) * 2)
    return docs, src


def test_stream_final_snapshot_equals_from_scratch(spark, sf_dir, tmp_path):
    """The last micro-batch's ≤k-scoped snapshot sees the whole corpus
    — it must equal bm25_search over all documents, bit-exact."""
    from dataplatform_cdc_pipeline_spark.streaming.bm25_stream import (
        stream_bm25_index,
    )

    docs, src = _stage_batches(spark, sf_dir, tmp_path)
    out = stream_bm25_index(
        spark, src, "doc_id long, text string", str(tmp_path / "work"), BM25_TERMS
    )
    final = out.filter(F.col("batch") == "b2").select("doc_id", "bm25")
    assert _ranked(final) == _ranked(bm25_search(docs, BM25_TERMS))
    # three snapshots, each top-20 (or fewer docs at tiny sf)
    assert out.select("batch").distinct().count() == 3


def test_stream_replay_after_checkpoint_loss_is_idempotent(spark, sf_dir, tmp_path):
    """Checkpoint loss replays batch ids from 0 against a work dir that
    already holds every batch's future — the ≤k search scope must
    reconstruct the pre-crash snapshots byte-identically."""
    import shutil

    from dataplatform_cdc_pipeline_spark.streaming.bm25_stream import (
        stream_bm25_index,
    )

    _, src = _stage_batches(spark, sf_dir, tmp_path)
    work = str(tmp_path / "work")
    before = _ranked(
        stream_bm25_index(spark, src, "doc_id long, text string", work, BM25_TERMS)
    )
    shutil.rmtree(f"{work}/ckpt")  # simulated checkpoint loss
    after = _ranked(
        stream_bm25_index(spark, src, "doc_id long, text string", work, BM25_TERMS)
    )
    assert after == before


def test_compact_segments_preserves_scores_and_consolidates(
    spark, sf_dir, tmp_path
):
    """Segment merge must be score-bit-identical (search only ever SUMS
    the per-batch aggregates) and must actually consolidate: one
    segment partition per sub-table afterwards, df/docstats recomputed
    exactly."""
    docs = load_table(spark, sf_dir, "documents")
    idx = IncrementalBm25Index(spark, str(tmp_path / "ix"))
    for g in range(4):
        idx.add_batch(f"b{g}", docs.filter(F.col("doc_id") % 4 == g))
    before = _ranked(idx.search(BM25_TERMS))
    stats_before = _ranked(idx.term_stats(BM25_TERMS))
    res = idx.compact_segments()
    assert res["merged"] == [f"b{g}" for g in range(4)]
    assert res["n_docs"] == docs.count()
    assert _ranked(idx.search(BM25_TERMS)) == before
    assert _ranked(idx.term_stats(BM25_TERMS)) == stats_before
    for sub in ("postings", "df", "doclens", "docstats"):
        parts = {
            d for d in os.listdir(str(tmp_path / f"ix/{sub}"))
            if d.startswith("batch=")
        }
        assert parts == {f"batch={res['segment']}"}, sub
    stats = spark.read.parquet(str(tmp_path / "ix/docstats"))
    assert stats.count() == 1
    assert stats.collect()[0]["n_docs"] == docs.count()


def test_compact_segments_replay_heals_partial_crash(spark, sf_dir, tmp_path):
    """Crash between the segment write and the old-partition removals
    leaves BOTH the segment and some merged batches live; a replay of
    the same call must key-dedup the union — never double-count — and
    end bit-identical to the clean merge."""
    docs = load_table(spark, sf_dir, "documents")
    idx = IncrementalBm25Index(spark, str(tmp_path / "ix"))
    for g in range(4):
        idx.add_batch(f"b{g}", docs.filter(F.col("doc_id") % 4 == g))
    res = idx.compact_segments(["b0", "b1", "b2", "b3"])
    clean = _ranked(idx.search(BM25_TERMS))
    # simulate the crash leftover: b0's partitions re-materialize next
    # to the segment (write-then-remove interrupted after the write)
    idx.add_batch("b0", docs.filter(F.col("doc_id") % 4 == 0))
    res2 = idx.compact_segments(["b0", "b1", "b2", "b3"])
    assert res2["segment"] == res["segment"]  # pure function of the ids
    assert res2["merged"] == ["b0"]  # only the leftover was still live
    assert res2["n_docs"] == docs.count()  # deduped, not double-counted
    assert _ranked(idx.search(BM25_TERMS)) == clean
    stats = spark.read.parquet(str(tmp_path / "ix/docstats"))
    assert stats.agg(F.sum("n_docs")).collect()[0][0] == docs.count()
    # a request naming batches that are gone WITHOUT a segment to
    # recover them from must fail loud
    import pytest as _pytest

    with _pytest.raises(ValueError, match="missing"):
        idx.compact_segments(["b0", "nonexistent"])


def test_compact_then_erase_still_exact(spark, sf_dir, tmp_path):
    """Erasure after compaction resolves the segment as the affected
    batch and stays bit-identical to from-scratch over survivors —
    maintenance ops compose."""
    docs = load_table(spark, sf_dir, "documents")
    idx = IncrementalBm25Index(spark, str(tmp_path / "ix"))
    idx.add_batch("b0", docs.filter(F.col("doc_id") % 2 == 0))
    idx.add_batch("b1", docs.filter(F.col("doc_id") % 2 == 1))
    res = idx.compact_segments()
    erased = docs.filter(F.col("doc_id") % 7 == 3).select("doc_id")
    eres = idx.erase(erased)
    assert eres["batches"] == [res["segment"]]
    survivors = docs.filter(F.col("doc_id") % 7 != 3)
    assert _ranked(idx.search(BM25_TERMS)) == _ranked(
        bm25_search(survivors, BM25_TERMS)
    )
