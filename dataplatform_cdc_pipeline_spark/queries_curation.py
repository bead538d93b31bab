"""Curation-layer query inventory: PII redaction, quality funnel,
train/val/test split, domain-mix rebalancing — each with a DuckDB oracle
(same conventions as queries_llm.py: floor-scaled doubles, BIGINT-cast
aggregates, MD5-derived determinism)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataplatform_cdc_pipeline_spark.functions.hashing import md5_long_sql
from dataplatform_cdc_pipeline_spark.operators.curation import (
    EMAIL_PATTERN,
    PHONE_PATTERN,
    SPLIT_BOUNDS,
    assign_split,
    domain_mix_apply,
    domain_mix_plan,
    quality_funnel,
    redact_pii,
    synthesize_pii_text,
)
from dataplatform_cdc_pipeline_spark.queries_llm import TOKS
from dataplatform_cdc_pipeline_spark.sources.tables import load_table, spread_scan

# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    dirty = synthesize_pii_text(docs)
    return redact_pii(dirty).select(
        "doc_id", "n_emails", "n_phones", F.md5("redacted_text").alias("redacted_md5")
    )


SQL_PII_REDACTION = f"""
WITH dirty AS (
  SELECT doc_id,
         text ||
         CASE WHEN doc_id % 3 = 0
              THEN ' contact user' || doc_id || '@example.com' ELSE '' END ||
         CASE WHEN doc_id % 5 = 0
              THEN ' call 555-' || lpad((doc_id % 1000)::VARCHAR, 3, '0') || '-' ||
                   lpad(((doc_id * 7) % 10000)::VARCHAR, 4, '0') ELSE '' END
         AS dirty_text
  FROM documents)
SELECT doc_id,
       len(regexp_extract_all(dirty_text, '{EMAIL_PATTERN}')) AS n_emails,
       len(regexp_extract_all(dirty_text, '{PHONE_PATTERN}')) AS n_phones,
       md5(regexp_replace(regexp_replace(dirty_text, '{EMAIL_PATTERN}', '[EMAIL]', 'g'),
                          '{PHONE_PATTERN}', '[PHONE]', 'g')) AS redacted_md5
FROM dirty ORDER BY doc_id
"""

# ---------------------------------------------------------------------------
# quality funnel
# ---------------------------------------------------------------------------


def q_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    return quality_funnel(docs)


_FUNNEL_FLAGS = """
WITH t AS (SELECT doc_id, text, {toks} AS toks FROM documents),
s AS (
  SELECT doc_id,
         len(toks) AS n_tok,
         length(text) - len(toks) + 1 AS chars_sum,
         len(list_distinct({sh})) AS d,
         len({sh}) AS g,
         len(list_filter(toks, x -> list_contains(
           ['the','a','and','of','to','in','is','it','you','that'], x))) AS stop
  FROM t),
f AS (
  SELECT count(*) AS total,
         sum((n_tok >= 20)::INT)::BIGINT AS min_tokens,
         sum((n_tok <= 1000)::INT)::BIGINT AS max_tokens,
         sum((chars_sum >= 3 * n_tok AND chars_sum <= 10 * n_tok)::INT)::BIGINT AS avg_len_ok,
         sum((5 * d >= 4 * g)::INT)::BIGINT AS low_repetition,
         sum((20 * stop >= n_tok)::INT)::BIGINT AS stopword_ratio,
         sum((n_tok >= 20 AND n_tok <= 1000
              AND chars_sum >= 3 * n_tok AND chars_sum <= 10 * n_tok
              AND 5 * d >= 4 * g AND 20 * stop >= n_tok)::INT)::BIGINT AS all_rules
  FROM s)
"""

SQL_QUALITY_FUNNEL = (
    _FUNNEL_FLAGS.format(
        toks=TOKS,
        sh="list_transform(range(1, greatest(len(toks) - 2, 1) + 1), "
        "i -> array_to_string(toks[i:i+2], ' '))",
    )
    + "\n".join(
        f"SELECT '{r}' AS rule, {r} AS n_pass, total - {r} AS n_fail FROM f"
        + (" UNION ALL" if i < 5 else "")
        for i, r in enumerate(
            ["min_tokens", "max_tokens", "avg_len_ok", "low_repetition", "stopword_ratio", "all_rules"]
        )
    )
)

# ---------------------------------------------------------------------------
# train/val/test split
# ---------------------------------------------------------------------------


def q_corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    return assign_split(docs).select("doc_id", "split_slot", "split")


def _split_sql() -> str:
    slot = f"{md5_long_sql('doc_id::VARCHAR', 'split')} % 100"
    case = "CASE " + " ".join(
        f"WHEN split_slot < {bound} THEN '{name}'" for name, bound in SPLIT_BOUNDS
    ) + " END"
    return f"""
WITH s AS (SELECT doc_id, ({slot})::BIGINT AS split_slot FROM documents)
SELECT doc_id, split_slot, {case} AS split FROM s ORDER BY doc_id
"""


SQL_CORPUS_SPLIT = _split_sql()

# ---------------------------------------------------------------------------
# domain-mix rebalancing
# ---------------------------------------------------------------------------

#: target token mix, ppm: src0 and src1 up-weighted, the rest share evenly.
MIX_WEIGHTS_PPM = {"src0": 150_000, "src1": 100_000}
MIX_DEFAULT_PPM = 41_666


def q_domain_mix_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return domain_mix_plan(docs, MIX_WEIGHTS_PPM, MIX_DEFAULT_PPM)


def _mix_weight_case() -> str:
    return "CASE " + " ".join(
        f"WHEN source = '{s}' THEN {p}" for s, p in MIX_WEIGHTS_PPM.items()
    ) + f" ELSE {MIX_DEFAULT_PPM} END"


_MIX_PLAN_CTE = f"""
per_source AS (
  SELECT source, count(*)::BIGINT AS n_docs,
         sum(len({TOKS}))::BIGINT AS tokens,
         ({_mix_weight_case()})::BIGINT AS w_ppm
  FROM documents GROUP BY source),
capped AS (
  SELECT *, (tokens * 1000000) // w_ppm AS cap FROM per_source),
budget AS (SELECT min(cap) AS budget_t FROM capped),
plan AS (
  SELECT source, n_docs, tokens, w_ppm,
         ((w_ppm * budget_t) // 1000000)::BIGINT AS keep_tokens,
         (((w_ppm * budget_t) // 1000000) * 1000000 // tokens)::BIGINT AS rate_ppm
  FROM capped, budget)
"""

SQL_DOMAIN_MIX_PLAN = f"""
WITH {_MIX_PLAN_CTE}
SELECT source, n_docs, tokens, w_ppm, keep_tokens, rate_ppm FROM plan ORDER BY source
"""


def q_domain_mix_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    return domain_mix_apply(docs, MIX_WEIGHTS_PPM, MIX_DEFAULT_PPM)


SQL_DOMAIN_MIX_APPLY = f"""
WITH {_MIX_PLAN_CTE}
SELECT doc_id, d.source,
       ({md5_long_sql('doc_id::VARCHAR', 'mix')} % 1000000)::BIGINT AS mix_slot
FROM documents d JOIN plan USING (source)
WHERE {md5_long_sql('doc_id::VARCHAR', 'mix')} % 1000000 < rate_ppm
ORDER BY doc_id
"""

# ---------------------------------------------------------------------------
# corpus statistics: n-gram LM counts, vocabulary document frequency
# ---------------------------------------------------------------------------


def q_ngram_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataplatform_cdc_pipeline_spark.operators.text_analysis import top_ngrams

    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    return top_ngrams(docs, n=2, k=50)


# 2-gram shingles: starts 1..max(len-1, 1), inclusive slice toks[i:i+1]
_SHINGLES2 = (
    "list_transform(range(1, greatest(len(toks) - 1, 1) + 1), "
    "i -> array_to_string(toks[i:i+1], ' '))"
)

SQL_NGRAM_TOP_BIGRAMS = f"""
WITH t AS (SELECT {TOKS} AS toks FROM documents),
g AS (SELECT unnest({_SHINGLES2}) AS gram FROM t)
SELECT gram, count(*)::BIGINT AS n_occurrences
FROM g GROUP BY gram
ORDER BY n_occurrences DESC, gram ASC LIMIT 50
"""


def q_vocab_df_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataplatform_cdc_pipeline_spark.operators.text_analysis import doc_frequency

    docs = load_table(spark, sf_dir, "documents")
    return doc_frequency(docs, top=100)


SQL_VOCAB_DF_STATS = f"""
WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
e AS (SELECT doc_id, unnest(list_distinct(toks)) AS token FROM t),
d AS (SELECT token, count(*)::BIGINT AS df FROM e GROUP BY token),
n AS (SELECT count(*)::BIGINT AS n_docs FROM documents)
SELECT token, df, ((n_docs * 1000000) // df)::BIGINT AS idf_ppm
FROM d, n
ORDER BY df DESC, token ASC LIMIT 100
"""

# ---------------------------------------------------------------------------
# cross-corpus dedup (new crawl vs existing training data)
# ---------------------------------------------------------------------------


def q_cross_corpus_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup screen of the training slice against the held-out
    reference slice (doc_id % 20 == 0), MinHash-banded, Jaccard ≥ 0.5."""
    from dataplatform_cdc_pipeline_spark.operators.corpus import cross_corpus_near_pairs

    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    train = docs.filter(F.col("doc_id") % 20 != 0)
    return cross_corpus_near_pairs(train, bench, threshold=0.5)


def _cross_corpus_sql() -> str:
    from dataplatform_cdc_pipeline_spark.queries_llm import _MINHASH_FAMILY, SHINGLES

    return f"""
WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
s AS (SELECT doc_id, {SHINGLES} AS sh FROM t),
sig AS (
  SELECT doc_id, list_distinct(sh) AS shset,
         list_transform(range(0, 8), f ->
           list_min(list_transform(sh, g -> {_MINHASH_FAMILY}))) AS mh
  FROM s),
bands AS (
  SELECT doc_id,
         unnest(list_transform(range(0, 4), b ->
           b::VARCHAR || '_' || mh[2*b + 1]::VARCHAR || '_' || mh[2*b + 2]::VARCHAR)) AS band_key
  FROM sig),
cand AS (
  SELECT DISTINCT a.doc_id AS train_id, b.doc_id AS bench_id
  FROM bands a JOIN bands b ON a.band_key = b.band_key
  WHERE a.doc_id % 20 != 0 AND b.doc_id % 20 = 0),
v AS (
  SELECT train_id, bench_id,
         floor(len(list_intersect(sa.shset, sb.shset)) * 1.0 /
               len(list_distinct(list_concat(sa.shset, sb.shset))) * 1000000.0) / 1000000.0 AS jaccard
  FROM cand JOIN sig sa ON cand.train_id = sa.doc_id
            JOIN sig sb ON cand.bench_id = sb.doc_id)
SELECT train_id, bench_id, jaccard FROM v WHERE jaccard >= 0.5 ORDER BY train_id, bench_id
"""


SQL_CROSS_CORPUS_DEDUP = _cross_corpus_sql()

# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# Unicode normalization (operators/normalize.py)
# ---------------------------------------------------------------------------


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode text normalization end-to-end (operators/normalize.py):
    every document is deliberately dirtied — a decomposed e + combining
    acute (NFC must compose it, shrinking the string), a BEL control
    (must vanish), tab + double-space runs (must collapse) — then
    cleaned through controls -> NFC -> whitespace. Per-doc before/after
    lengths and the MD5 of the normalized text hash-gate all three
    layers against DuckDB's independent nfc_normalize. The NFC UDF is
    the repo's one documented unavoidable Python stage (Spark has no
    built-in Unicode normalization), Arrow-batched."""
    from dataplatform_cdc_pipeline_spark.operators.normalize import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    dirty = F.concat(
        F.lit("Cafe\u0301 \t"), F.lit("\x07"), F.col("text"), F.lit("  ")
    )
    d = docs.select("doc_id", dirty.alias("dirty"))
    return d.select(
        "doc_id",
        F.length("dirty").alias("len_dirty"),
        F.length(normalize_text(F.col("dirty"))).alias("len_norm"),
        F.md5(normalize_text(F.col("dirty"))).alias("norm_md5"),
    )


SQL_TEXT_NORMALIZE = r"""
WITH d AS (
  SELECT doc_id,
         'Cafe' || chr(769) || ' ' || chr(9) || chr(7) || text || '  ' AS dirty
  FROM documents),
n AS (
  SELECT doc_id, length(dirty) AS len_dirty,
         trim(regexp_replace(
           nfc_normalize(regexp_replace(dirty,
             '[\x00-\x08\x0b\x0c\x0e-\x1f-]', '', 'g')),
           '\s+', ' ', 'g')) AS norm
  FROM d)
SELECT doc_id, len_dirty, length(norm) AS len_norm, md5(norm) AS norm_md5
FROM n
"""


REGISTRY = {
    q_text_normalize: SQL_TEXT_NORMALIZE,
    q_pii_redaction: SQL_PII_REDACTION,
    q_quality_funnel: SQL_QUALITY_FUNNEL,
    q_corpus_split: SQL_CORPUS_SPLIT,
    q_domain_mix_plan: SQL_DOMAIN_MIX_PLAN,
    q_domain_mix_apply: SQL_DOMAIN_MIX_APPLY,
    q_ngram_top_bigrams: SQL_NGRAM_TOP_BIGRAMS,
    q_vocab_df_stats: SQL_VOCAB_DF_STATS,
    q_cross_corpus_dedup: SQL_CROSS_CORPUS_DEDUP,
}
