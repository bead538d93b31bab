"""Corpus-curation operators: deterministic stratified sampling and
train/eval contamination detection — the selection layer of a training-data
pipeline, downstream of quality scoring and dedup.

Scale design:
- **Stratified sampling** is a pure Column filter (language-ID + MD5 slot
  arithmetic): no shuffle, scan-speed, reproducible run-to-run and
  engine-to-engine (no RNG state — the sample is a FUNCTION of the id).
- **Contamination check** joins hashed n-gram fingerprints: grams explode
  ×O(tokens), hash-join on the 60-bit gram hash (benchmark side is
  typically small → broadcast), then a per-pair count. Never a cross join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dataplatform_cdc_pipeline_spark.functions.hashing import md5_long
from dataplatform_cdc_pipeline_spark.operators.text_analysis import language_id_expr


def sample_slot_expr(id_col: Column | str, salt: str = "sample") -> Column:
    """Deterministic [0,100) slot from the document id (MD5-derived, so any
    engine reproduces the exact sample membership)."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.pmod(md5_long(c.cast("string"), salt), F.lit(100))


def stratified_sample(
    df: DataFrame,
    rates_pct: dict[str, int],
    default_pct: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "sample",
) -> DataFrame:
    """Keep ``rates_pct[lang]`` percent of each predicted-language stratum
    (``default_pct`` for unlisted languages) — the standard move for
    rebalancing overrepresented languages in a pretraining mix.

    Returns (id, lang_pred, sample_slot) for kept docs. The rate CASE is
    bounded by the language-profile count, not the data.
    """
    lang = language_id_expr(text_col)
    slot = sample_slot_expr(id_col, salt)
    rate = F.lit(default_pct)
    for lg, pct in rates_pct.items():
        rate = F.when(lang == lg, F.lit(pct)).otherwise(rate)
    return (
        df.select(F.col(id_col), lang.alias("lang_pred"), slot.alias("sample_slot"), rate.alias("__rate"))
        .filter(F.col("sample_slot") < F.col("__rate"))
        .drop("__rate")
    )


def gram_hashes_udf(n: int = 5):
    """Arrow-batched distinct word n-gram 60-bit hashes — the values of
    ``transform(array_distinct(shingles_expr(text, n)), md5_long)`` (same
    split/shingle rules and MD5 window as the other Arrow kernels) in one
    batched pass instead of interpreted array folds."""
    import hashlib

    import pandas as pd
    from pyspark.sql import types as T

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def gh(texts):
        out = []
        for t in texts:
            words = (t or "").strip().lower().split()
            if len(words) >= n:
                grams = dict.fromkeys(
                    " ".join(words[i : i + n]) for i in range(len(words) - n + 1)
                )
            else:
                grams = {" ".join(words): None}
            out.append(
                [int(hashlib.md5(g.encode()).hexdigest()[:15], 16) for g in grams]
            )
        return pd.Series(out)

    return gh


def contamination_pairs(
    train: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    min_shared: int = 1,
) -> DataFrame:
    """(train_id, bench_id, shared_ngrams): training docs sharing ≥
    ``min_shared`` distinct word ``n``-grams with a held-out benchmark doc
    — the standard eval-contamination screen before training.

    Both sides reduce to (id, 60-bit gram hash) before the join, so only
    ids + hashes shuffle; the benchmark side is usually small enough that
    AQE broadcasts it.
    """

    def grams(df: DataFrame, out_id: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(out_id),
            F.explode(gram_hashes_udf(n)(F.col(text_col))).alias("g"),
        )

    t = grams(train, "train_id")
    b = grams(bench, "bench_id")
    out = (
        t.join(b, "g")
        .groupBy("train_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("shared_ngrams"))
    )
    return out.filter(F.col("shared_ngrams") >= min_shared)


def cross_corpus_near_pairs(
    train: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    k: int = 8,
    bands: int = 4,
    n: int = 3,
) -> DataFrame:
    """Near-duplicate screen of a training corpus AGAINST a reference
    corpus (new-crawl-vs-existing-data dedup): MinHash band keys on both
    sides, candidates from the band-key equi-join (reference side is
    typically small → AQE broadcasts it), exact Jaccard verify over
    shingle sets computed only for candidate docs.

    Same asymptotics as the self-join dedup (one narrow signature scan
    per side + one band-key shuffle), but the join is bipartite — a pair
    within one corpus is never a candidate.
    """
    from dataplatform_cdc_pipeline_spark.operators.lsh_guard import (
        DEFAULT_MAX_BUCKET,
        cap_buckets,
    )
    from dataplatform_cdc_pipeline_spark.operators.text_dedup import (
        band_keys_expr,
        jaccard_expr,
        minhash_signature_udf,
        shingle_set_udf,
    )

    def sig_frame(df: DataFrame, out_id: str) -> DataFrame:
        sig = minhash_signature_udf(k, n)(F.col(text_col))
        return df.select(F.col(id_col).alias(out_id), sig.alias("minhash_sig"))

    def band_frame(sigs: DataFrame, out_id: str, label: str) -> DataFrame:
        exploded = sigs.select(
            out_id, F.explode(band_keys_expr(F.col("minhash_sig"), bands, k)).alias("band_key")
        )
        return cap_buckets(exploded, "band_key", DEFAULT_MAX_BUCKET, label)

    t_bands = band_frame(sig_frame(train, "train_id"), "train_id", "xcorpus-train")
    b_bands = band_frame(sig_frame(bench, "bench_id"), "bench_id", "xcorpus-ref")
    # eager localCheckpoint, not persist(): the small candidate frame feeds
    # three downstream scans; a persist would pin the plan in the SQL cache
    # manager with no safe unpersist point (the returned frame is lazy) —
    # checkpoint RDDs are ContextCleaner-reclaimed once callers drop refs
    cands = (
        t_bands.join(b_bands, "band_key")
        .select("train_id", "bench_id")
        .distinct()
        .localCheckpoint(eager=True)
    )

    shingle_col = shingle_set_udf(n)(F.col(text_col))

    def sets_for(df: DataFrame, out_id: str) -> DataFrame:
        ids = cands.select(out_id).distinct().withColumnRenamed(out_id, id_col)
        return df.join(ids, id_col, "left_semi").select(
            F.col(id_col).alias(out_id), shingle_col.alias(f"set_{out_id}")
        )

    joined = (
        cands.join(sets_for(train, "train_id"), "train_id")
        .join(sets_for(bench, "bench_id"), "bench_id")
    )
    return joined.select(
        "train_id",
        "bench_id",
        (
            F.floor(jaccard_expr(F.col("set_train_id"), F.col("set_bench_id")) * F.lit(1000000.0))
            / F.lit(1000000.0)
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)
