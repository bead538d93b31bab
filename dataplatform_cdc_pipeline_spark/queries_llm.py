"""LLM-data-pipeline query inventory: text analysis, dedup family,
similarity search — with DuckDB oracle SQL for each (same conventions as
queries.py).

The shared hash primitive is the 60-bit MD5 integer (functions/hashing.py):
Spark ``conv(substring(md5(x),1,15),16,10)::long`` ⟷ DuckDB
``('0x'||substring(md5(x),1,15))::BIGINT`` — bit-identical, so MinHash /
SimHash / fingerprints verify by value across engines.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataplatform_cdc_pipeline_spark import bench_phases
from dataplatform_cdc_pipeline_spark.operators.similarity import (
    brute_force_topk,
    cosine_near_dup_pairs,
    hyperplane_signs,
    lsh_topk,
)
from dataplatform_cdc_pipeline_spark.operators.text_analysis import (
    LANG_PROFILES,
    language_id_expr,
    quality_score_expr,
)
from dataplatform_cdc_pipeline_spark.operators.text_dedup import (
    exact_dedup,
    minhash_dedup_pairs,
    simhash_near_pairs,
)
from dataplatform_cdc_pipeline_spark.sources.tables import load_table, spread_scan

# ---------------------------------------------------------------------------
# shared SQL fragments
# ---------------------------------------------------------------------------

TOKS = r"string_split_regex(lower(trim(text)), '\s+')"
MD5L = "('0x' || substring(md5({x}), 1, 15))::BIGINT"
# shingles: word 3-grams; short docs yield one shingle of all words
# i ranges 1..L-2 (3-gram count), clamped to ≥1 for short docs
SHINGLES = (
    "list_transform(range(1, greatest(len(toks) - 2, 1) + 1), "
    "i -> array_to_string(toks[i:i+2], ' '))"
)


def _stop_list_sql(words) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


def _stop_count_sql(words) -> str:
    return f"len(list_filter(toks, t -> list_contains({_stop_list_sql(words)}, t)))"


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataplatform_cdc_pipeline_spark.operators.text_analysis import text_stats_frame

    docs = load_table(spark, sf_dir, "documents")
    return text_stats_frame(docs).select(
        "doc_id",
        "n_tokens",
        "n_chars_measured",
        "avg_token_len",
        "rep_ratio",
        "punct_count",
        "digit_count",
        "stopword_count",
    )


SQL_TEXT_STATS = f"""
WITH t AS (SELECT doc_id, text, {TOKS} AS toks FROM documents),
s AS (SELECT *, {SHINGLES} AS sh FROM t)
SELECT doc_id,
       len(toks) AS n_tokens,
       length(text) AS n_chars_measured,
       floor((length(text) - len(toks) + 1) / len(toks) * 10000.0) / 10000.0 AS avg_token_len,
       floor((1.0 - len(list_distinct(sh)) * 1.0 / len(sh)) * 10000.0) / 10000.0 AS rep_ratio,
       len(regexp_extract_all(text, '[.,!?;:]')) AS punct_count,
       len(regexp_extract_all(text, '[0-9]')) AS digit_count,
       {_stop_count_sql(LANG_PROFILES["en"])} AS stopword_count
FROM s ORDER BY doc_id
"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        quality_score_expr("text").alias("quality_score"),
        (quality_score_expr("text") >= 0.5).alias("keep"),
    )


SQL_TEXT_QUALITY = f"""
WITH t AS (SELECT doc_id, text, {TOKS} AS toks FROM documents),
c AS (
  SELECT doc_id,
         least(len(toks) / 100.0, 1.0) AS length_component,
         least(({_stop_count_sql(LANG_PROFILES["en"])} * 1.0 / len(toks)) * 10.0, 1.0) AS stop_component,
         1.0 - least((len(regexp_extract_all(text, '[.,!?;:]')) * 1.0 / length(text)) * 20.0, 1.0) AS punct_component,
         CASE WHEN (length(text) - len(toks) + 1) * 1.0 / len(toks) BETWEEN 3.0 AND 10.0
              THEN 1.0 ELSE 0.0 END AS len_ok
  FROM t)
SELECT doc_id,
       floor((length_component * 0.4 + stop_component * 0.3 + punct_component * 0.2 + len_ok * 0.1) * 10000.0) / 10000.0 AS quality_score,
       floor((length_component * 0.4 + stop_component * 0.3 + punct_component * 0.2 + len_ok * 0.1) * 10000.0) / 10000.0 >= 0.5 AS keep
FROM c ORDER BY doc_id
"""


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.col("lang").alias("lang_label"),
        language_id_expr("text").alias("lang_pred"),
    )


def _langid_fragments() -> tuple[str, str]:
    """(per-language count columns, argmax CASE) SQL fragments — shared by
    the langid oracle and the stratified-sample oracle."""
    counts = ",\n         ".join(
        f"{_stop_count_sql(words)} AS c_{lang}" for lang, words in LANG_PROFILES.items()
    )
    langs = list(LANG_PROFILES)
    best = "greatest(" + ", ".join(f"c_{l}" for l in langs) + ")"
    case = "CASE " + " ".join(
        f"WHEN c_{l} > 0 AND c_{l} = {best} THEN '{l}'" for l in langs
    ) + " ELSE 'und' END"
    return counts, case


def _langid_sql() -> str:
    counts, case = _langid_fragments()
    return f"""
WITH t AS (SELECT doc_id, lang, text, {TOKS} AS toks FROM documents),
s AS (SELECT doc_id, lang,
         {counts}
      FROM t)
SELECT doc_id, lang AS lang_label, {case} AS lang_pred
FROM s ORDER BY doc_id
"""


SQL_TEXT_LANGID = _langid_sql()


def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-quality eval for the stopword language identifier: the
    full confusion matrix (label × prediction → count) plus per-cell
    recall against the corpus's labeled ``lang`` column, in exact ppm.
    The eval shape every curation filter needs before it gates a corpus;
    one groupBy over the scored frame, label marginals joined back
    broadcast."""
    from dataplatform_cdc_pipeline_spark.operators.text_analysis import (
        language_id_expr,
    )

    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    scored = docs.select(
        F.col("lang").alias("lang_label"),
        language_id_expr("text").alias("lang_pred"),
    )
    cells = scored.groupBy("lang_label", "lang_pred").agg(
        F.count(F.lit(1)).alias("n")
    )
    marginals = scored.groupBy("lang_label").agg(
        F.count(F.lit(1)).alias("n_label")
    )
    return (
        cells.join(F.broadcast(marginals), "lang_label")
        .withColumn("cell_ppm", F.expr("(n * 1000000) div n_label"))
        .select("lang_label", "lang_pred", "n", "cell_ppm")
    )


def _langid_confusion_sql() -> str:
    counts, case = _langid_fragments()
    return f"""
WITH t AS (SELECT doc_id, lang, text, {TOKS} AS toks FROM documents),
s AS (SELECT doc_id, lang,
         {counts}
      FROM t),
scored AS (SELECT lang AS lang_label, {case} AS lang_pred FROM s),
cells AS (
  SELECT lang_label, lang_pred, count(*) AS n
  FROM scored GROUP BY lang_label, lang_pred),
marg AS (SELECT lang_label, count(*) AS n_label FROM scored GROUP BY lang_label)
SELECT cells.lang_label, lang_pred, n,
       (n * 1000000 // n_label)::BIGINT AS cell_ppm
FROM cells JOIN marg ON cells.lang_label = marg.lang_label
"""


SQL_LANGID_CONFUSION = _langid_confusion_sql()


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataplatform_cdc_pipeline_spark.operators.text_analysis import fingerprint_frame

    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    return fingerprint_frame(docs)


SQL_DOC_FINGERPRINT = f"""
WITH t AS (SELECT doc_id, text, {TOKS} AS toks FROM documents),
s AS (SELECT doc_id, text, {SHINGLES} AS sh FROM t),
h AS (SELECT doc_id, text, list_transform(sh, g -> {MD5L.format(x="g")}) AS gh FROM s)
SELECT doc_id,
       md5(text) AS content_md5,
       {MD5L.format(x="text")} AS content_hash64,
       list_min(gh) AS min_gram_hash,
       list_max(gh) AS max_gram_hash
FROM h ORDER BY doc_id
"""

# ---------------------------------------------------------------------------
# dedup family
# ---------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup(docs)


SQL_DEDUP_EXACT = """
WITH h AS (SELECT doc_id, md5(text) AS content_md5 FROM documents),
g AS (SELECT content_md5, min(doc_id) AS canonical_id, count(*) AS group_size
      FROM h GROUP BY content_md5)
SELECT doc_id, h.content_md5, canonical_id, group_size
FROM h JOIN g ON h.content_md5 = g.content_md5
ORDER BY doc_id
"""


# The MinHash signature scan + LSH candidate scoring is shared by four
# queries (pair dedup at two thresholds, clustering, training mix) — score
# once per session with no threshold, persist, filter per query.
_PAIRS_CACHE: dict[str, DataFrame] = {}


def scored_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = f"{spark.sparkContext.applicationId}:{sf_dir}"
    if key not in _PAIRS_CACHE:
        docs = spread_scan(load_table(spark, sf_dir, "documents"))
        _PAIRS_CACHE[key] = minhash_dedup_pairs(docs, threshold=0.0).persist()
    return _PAIRS_CACHE[key]


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return scored_pairs(spark, sf_dir).filter(F.col("jaccard") >= 0.9)


# family f: digest = md5('mh{f//4}|' || g), 32-bit window at hex offset
# 1 + 8*(f%4) (four families per digest — mirrors minhash_signature_udf)
_MINHASH_FAMILY = (
    "('0x' || substring(md5('mh' || (f // 4)::VARCHAR || '|' || g), "
    "1 + 8 * (f % 4), 8))::BIGINT"
)
SQL_DEDUP_MINHASH_LSH = f"""
WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
s AS (SELECT doc_id, {SHINGLES} AS sh FROM t),
sig AS (
  SELECT doc_id, list_distinct(sh) AS shset,
         list_transform(range(0, 8), f ->
           list_min(list_transform(sh, g -> {_MINHASH_FAMILY}))) AS mh
  FROM s),
bands AS (
  SELECT doc_id, shset,
         unnest(list_transform(range(0, 4), b ->
           b::VARCHAR || '_' || mh[2*b + 1]::VARCHAR || '_' || mh[2*b + 2]::VARCHAR)) AS band_key
  FROM sig),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
v AS (
  SELECT id_a, id_b,
         floor(len(list_intersect(sa.shset, sb.shset)) * 1.0 /
               len(list_distinct(list_concat(sa.shset, sb.shset))) * 1000000.0) / 1000000.0 AS jaccard
  FROM cand JOIN sig sa ON cand.id_a = sa.doc_id
            JOIN sig sb ON cand.id_b = sb.doc_id)
SELECT id_a, id_b, jaccard FROM v WHERE jaccard >= 0.9 ORDER BY id_a, id_b
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    return simhash_near_pairs(docs, max_hamming=3)


SQL_DEDUP_SIMHASH = f"""
WITH w AS (
  SELECT doc_id, unnest({TOKS}) AS word FROM documents),
h AS (SELECT doc_id, {MD5L.format(x="word")} AS hash FROM w),
bits AS (
  SELECT doc_id, j, sum(CASE WHEN (hash >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM h, (SELECT unnest(range(0, 60)) AS j)
  GROUP BY doc_id, j),
sh AS (
  SELECT doc_id, sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END)::BIGINT AS simhash
  FROM bits GROUP BY doc_id),
slices AS (
  SELECT doc_id, simhash,
         unnest(list_transform(range(0, 4), b ->
           b::VARCHAR || '_' || ((simhash >> (b * 15)) & 32767)::VARCHAR)) AS slice_key
  FROM sh),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.simhash AS sim_a, b.simhash AS sim_b
  FROM slices a JOIN slices b ON a.slice_key = b.slice_key AND a.doc_id < b.doc_id)
SELECT id_a, id_b, bit_count(xor(sim_a, sim_b)) AS hamming
FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= 3
ORDER BY id_a, id_b
"""


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lower-threshold n-gram Jaccard dedup (same LSH candidates, τ=0.5)."""
    return scored_pairs(spark, sf_dir).filter(F.col("jaccard") >= 0.5)


SQL_DEDUP_NGRAM_JACCARD = SQL_DEDUP_MINHASH_LSH.replace("jaccard >= 0.9", "jaccard >= 0.5")

def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: connected components over MinHash-LSH pairs →
    canonical id per document (iterative min-label propagation)."""
    from dataplatform_cdc_pipeline_spark.operators.text_dedup import dedup_clusters

    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    pairs = scored_pairs(spark, sf_dir).filter(F.col("jaccard") >= 0.9)
    return dedup_clusters(pairs, docs)


_PAIRS_SQL_NO_ORDER = SQL_DEDUP_MINHASH_LSH.replace("ORDER BY id_a, id_b", "")
SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE pairs AS ({_PAIRS_SQL_NO_ORDER}),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs),
reach(node, lbl) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, r.lbl FROM edges e JOIN reach r ON e.b = r.node),
comp AS (SELECT node, min(lbl) AS canonical FROM reach GROUP BY node)
SELECT doc_id, coalesce(comp.canonical, doc_id) AS canonical_id
FROM documents LEFT JOIN comp ON doc_id = comp.node
"""


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup KEEP policy: per near-dup cluster (CC over MinHash-LSH pairs,
    τ=0.9) keep the highest-quality doc (tie → lowest id) — the
    quality-argmax survivorship a production corpus pipeline applies,
    composing the dedup family with the quality scorer."""
    from dataplatform_cdc_pipeline_spark.operators.text_analysis import quality_score_expr
    from dataplatform_cdc_pipeline_spark.operators.text_dedup import (
        dedup_clusters,
        keep_best_per_cluster,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = scored_pairs(spark, sf_dir).filter(F.col("jaccard") >= 0.9)
    clusters = dedup_clusters(pairs, docs)
    quality = docs.select("doc_id", quality_score_expr("text").alias("quality_score"))
    return keep_best_per_cluster(clusters, quality)


_QUALITY_CTE = f"""
qt AS (SELECT doc_id, text, {TOKS} AS toks FROM documents),
qc AS (
  SELECT doc_id,
         least(len(toks) / 100.0, 1.0) AS length_component,
         least(({_stop_count_sql(LANG_PROFILES["en"])} * 1.0 / len(toks)) * 10.0, 1.0) AS stop_component,
         1.0 - least((len(regexp_extract_all(text, '[.,!?;:]')) * 1.0 / length(text)) * 20.0, 1.0) AS punct_component,
         CASE WHEN (length(text) - len(toks) + 1) * 1.0 / len(toks) BETWEEN 3.0 AND 10.0
              THEN 1.0 ELSE 0.0 END AS len_ok
  FROM qt),
qual AS (
  SELECT doc_id,
         floor((length_component * 0.4 + stop_component * 0.3 + punct_component * 0.2 + len_ok * 0.1) * 10000.0) / 10000.0 AS quality_score
  FROM qc)
"""

SQL_DEDUP_KEEP_BEST = f"""
WITH RECURSIVE pairs AS ({_PAIRS_SQL_NO_ORDER}),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs),
reach(node, lbl) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, r.lbl FROM edges e JOIN reach r ON e.b = r.node),
comp AS (SELECT node, min(lbl) AS canonical FROM reach GROUP BY node),
clusters AS (
  SELECT doc_id, coalesce(comp.canonical, doc_id) AS canonical_id
  FROM documents LEFT JOIN comp ON doc_id = comp.node),
{_QUALITY_CTE},
j AS (
  SELECT cl.doc_id, cl.canonical_id, q.quality_score
  FROM clusters cl JOIN qual q USING (doc_id)),
r AS (
  SELECT *,
         row_number() OVER (PARTITION BY canonical_id
                            ORDER BY quality_score DESC, doc_id) AS rn,
         count(*) OVER (PARTITION BY canonical_id) AS cluster_size
  FROM j)
SELECT canonical_id, doc_id AS keep_doc_id, cluster_size, quality_score AS keep_quality
FROM r WHERE rn = 1 ORDER BY canonical_id
"""


def q_corpus_dedup_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END dedup pipeline a corpus actually runs, as one
    staged funnel: raw corpus → exact content-hash dedup (min-id
    canonical survives) → near-dup removal (MinHash-LSH τ=0.9 pairs
    restricted to the exact survivors, connected components,
    quality-argmax keep). Each stage reports docs and whitespace tokens
    remaining — the "how much data did dedup cost me" numbers. Composes
    four operator families (hashing, LSH, iterative CC, quality scoring)
    through real data-dependent stage boundaries; the oracle re-derives
    every stage including the recursive components."""
    from dataplatform_cdc_pipeline_spark.operators.text_analysis import (
        quality_score_expr,
    )
    from dataplatform_cdc_pipeline_spark.operators.text_dedup import (
        dedup_clusters,
        exact_dedup,
        keep_best_per_cluster,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = F.size(F.split(F.lower(F.trim("text")), r"\s+"))
    base = docs.select("doc_id", "text", toks.alias("n_tokens"))

    def stage_row(df: DataFrame, name: str, idx: int) -> DataFrame:
        return df.agg(
            F.lit(name).alias("stage"),
            F.lit(idx).alias("stage_idx"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )

    exact = exact_dedup(docs).filter(F.col("doc_id") == F.col("canonical_id"))
    survivors = base.join(exact.select("doc_id"), "doc_id")
    sv_ids = exact.select("doc_id")
    pairs = (
        scored_pairs(spark, sf_dir)
        .filter(F.col("jaccard") >= 0.9)
        .join(sv_ids.select(F.col("doc_id").alias("id_a")), "id_a")
        .join(sv_ids.select(F.col("doc_id").alias("id_b")), "id_b")
    )
    clusters = dedup_clusters(pairs, survivors)
    quality = survivors.select(
        "doc_id", quality_score_expr("text").alias("quality_score")
    )
    winners = keep_best_per_cluster(clusters, quality)
    final = base.join(
        winners.select(F.col("keep_doc_id").alias("doc_id")), "doc_id"
    )
    return (
        stage_row(base, "raw", 1)
        .unionByName(stage_row(survivors, "exact_dedup", 2))
        .unionByName(stage_row(final, "near_dedup", 3))
    )


SQL_CORPUS_DEDUP_FUNNEL = f"""
WITH RECURSIVE tok AS (
  SELECT doc_id, len({TOKS}) AS n_tokens FROM documents),
ex AS (
  SELECT doc_id,
         min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id
  FROM documents),
sv AS (SELECT doc_id FROM ex WHERE doc_id = canonical_id),
allpairs AS ({_PAIRS_SQL_NO_ORDER}),
pairs AS (
  SELECT id_a, id_b FROM allpairs
  WHERE id_a IN (SELECT doc_id FROM sv) AND id_b IN (SELECT doc_id FROM sv)),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs),
reach(node, lbl) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, r.lbl FROM edges e JOIN reach r ON e.b = r.node),
comp AS (SELECT node, min(lbl) AS canonical FROM reach GROUP BY node),
clusters AS (
  SELECT sv.doc_id, coalesce(comp.canonical, sv.doc_id) AS canonical_id
  FROM sv LEFT JOIN comp ON sv.doc_id = comp.node),
{_QUALITY_CTE},
jq AS (
  SELECT cl.doc_id, cl.canonical_id, q.quality_score
  FROM clusters cl JOIN qual q USING (doc_id)),
rk AS (
  SELECT *, row_number() OVER (PARTITION BY canonical_id
                               ORDER BY quality_score DESC, doc_id) AS rn
  FROM jq),
final AS (SELECT doc_id FROM rk WHERE rn = 1)
SELECT 'raw' AS stage, 1 AS stage_idx, count(*)::BIGINT AS n_docs,
       sum(n_tokens)::BIGINT AS total_tokens FROM tok
UNION ALL
SELECT 'exact_dedup', 2, count(*)::BIGINT, sum(n_tokens)::BIGINT
FROM tok JOIN sv USING (doc_id)
UNION ALL
SELECT 'near_dedup', 3, count(*)::BIGINT, sum(n_tokens)::BIGINT
FROM tok JOIN final USING (doc_id)
"""


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking (64-token chunks, stride 48, tail-anchored) —
    the pre-training/RAG segmentation pass over the corpus."""
    from dataplatform_cdc_pipeline_spark.operators.text_analysis import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_tokens=64, stride=48)


SQL_DOC_CHUNKS = """
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents),
b AS (
  SELECT doc_id, w, len(w) AS n, greatest(len(w) - 64, 0) AS last_start FROM t),
s AS (
  SELECT doc_id, w, n,
         unnest(list_distinct(list_append(range(0, last_start + 1, 48), last_start))) AS start_tok
  FROM b)
SELECT doc_id, start_tok,
       least(64, n - start_tok) AS n_tokens,
       array_to_string(w[start_tok + 1 : start_tok + 64], ' ') AS chunk_text
FROM s ORDER BY doc_id, start_tok
"""


BM25_TERMS = ("spark", "query", "join")


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval over the corpus (operators/search.py): top-20
    docs for a fixed query-term bag, floored score + doc_id tiebreak so the
    cut set is engine-identical."""
    from dataplatform_cdc_pipeline_spark.operators.search import bm25_search

    docs = load_table(spark, sf_dir, "documents")
    return bm25_search(docs, BM25_TERMS, top_k=20)


_BM25_TERMS_SQL = "(" + ", ".join(f"'{t}'" for t in BM25_TERMS) + ")"

SQL_BM25_SEARCH = f"""
WITH base AS (SELECT doc_id, {TOKS} AS toks FROM documents),
dl AS (SELECT doc_id, len(toks) AS dl, toks FROM base),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
qt AS (
  SELECT doc_id, dl, unnest(toks) AS term FROM dl),
qf AS (SELECT * FROM qt WHERE term IN {_BM25_TERMS_SQL}),
tf AS (SELECT doc_id, term, dl, count(*) AS tf FROM qf GROUP BY doc_id, term, dl),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM qf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum(ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
             * tf.tf * (1.2 + 1.0)
             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / stats.avgdl))) AS raw
  FROM tf JOIN df USING (term), stats
  GROUP BY tf.doc_id)
SELECT doc_id, floor(raw * 1000000.0) / 1000000.0 AS bm25
FROM scored
ORDER BY bm25 DESC, doc_id
LIMIT 20
"""


def _bm25_phase_rows(phase: int, kind: str, frame: DataFrame) -> DataFrame:
    """One phase of a BM25 lifecycle query as (phase, kind, doc_id, term,
    score): 'search' rows carry a doc's score, 'df' rows a term's
    document frequency."""
    if kind == "search":
        return frame.select(
            F.lit(phase).alias("phase"), F.lit(kind).alias("kind"),
            F.col("doc_id"), F.lit(None).cast("string").alias("term"),
            F.col("bm25").alias("score"),
        )
    return frame.select(
        F.lit(phase).alias("phase"), F.lit(kind).alias("kind"),
        F.lit(None).cast("long").alias("doc_id"), F.col("term"),
        F.col("df").cast("double").alias("score"),
    )


def q_incremental_bm25_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-batch lifecycle of the incremental BM25 index + replay + df
    audit. Output rows (phase, kind, doc_id, term, score):

    - phase 1 'search': top-20 with only batch b0 (even doc_ids) indexed
    - phase 2 'search': top-20 after adding b1 (odd doc_ids) — the
      whole ranking may shift (idf/avgdl recomputed from batch stats)
    - phase 3 'search': after REPLAYING b1's add (idempotent partition
      overwrite) — must equal phase 2 exactly
    - phase 3 'df': merged document frequency per query term
    """
    from dataplatform_cdc_pipeline_spark.operators.bm25_index import (
        IncrementalBm25Index,
    )

    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    idx = IncrementalBm25Index(
        spark, tempfile.mkdtemp(prefix="bm25_ix_q_") + "/ix"
    )

    idx.add_batch("b0", b0)
    bench_phases.mark("add_b0")
    p1 = _bm25_phase_rows(1, "search", idx.search(BM25_TERMS)).localCheckpoint(eager=True)
    bench_phases.mark("search")
    idx.add_batch("b1", b1)
    bench_phases.mark("add_b1")
    p2 = _bm25_phase_rows(2, "search", idx.search(BM25_TERMS)).localCheckpoint(eager=True)
    bench_phases.mark("search")
    idx.add_batch("b1", b1)  # replay: rewrites exactly its own partitions
    bench_phases.mark("replay_b1")
    p3 = _bm25_phase_rows(3, "search", idx.search(BM25_TERMS)).localCheckpoint(eager=True)
    audit = _bm25_phase_rows(3, "df", idx.term_stats(BM25_TERMS))
    return p1.unionByName(p2).unionByName(p3).unionByName(audit)


def _bm25_phase_sql(phase: int, corpus_pred: str) -> str:
    """From-scratch BM25 over the corpus subset ``corpus_pred`` — the
    same scoring as SQL_BM25_SEARCH, parameterized so each
    lifecycle phase re-derives the stats its index state implies."""
    return f"""
SELECT {phase} AS phase, 'search' AS kind, doc_id, NULL::VARCHAR AS term,
       bm25 AS score
FROM (
  WITH base AS (SELECT doc_id, {TOKS} AS toks FROM documents WHERE {corpus_pred}),
  dl AS (SELECT doc_id, len(toks) AS dl, toks FROM base),
  stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
  qt AS (SELECT doc_id, dl, unnest(toks) AS term FROM dl),
  qf AS (SELECT * FROM qt WHERE term IN {_BM25_TERMS_SQL}),
  tf AS (SELECT doc_id, term, dl, count(*) AS tf FROM qf GROUP BY doc_id, term, dl),
  df AS (SELECT term, count(DISTINCT doc_id) AS df FROM qf GROUP BY term),
  scored AS (
    SELECT tf.doc_id,
           sum(ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
               * tf.tf * (1.2 + 1.0)
               / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / stats.avgdl))) AS raw
    FROM tf JOIN df USING (term), stats
    GROUP BY tf.doc_id)
  SELECT doc_id, floor(raw * 1000000.0) / 1000000.0 AS bm25
  FROM scored
  ORDER BY bm25 DESC, doc_id
  LIMIT 20
)"""


SQL_INCREMENTAL_BM25_BATCH = (
    _bm25_phase_sql(1, "doc_id % 2 = 0")
    + "\nUNION ALL"
    + _bm25_phase_sql(2, "TRUE")
    + "\nUNION ALL"
    + _bm25_phase_sql(3, "TRUE")
    + f"""
UNION ALL
SELECT 3 AS phase, 'df' AS kind, NULL::BIGINT AS doc_id, term,
       count(DISTINCT doc_id)::DOUBLE AS score
FROM (SELECT doc_id, unnest({TOKS}) AS term FROM documents)
WHERE term IN {_BM25_TERMS_SQL}
GROUP BY term
"""
)


def q_stream_bm25_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming BM25 index maintenance (streaming/bm25_stream.py): the
    documents arrive as THREE mtime-ordered micro-batches (doc_id%3 =
    0,1,2); each batch is indexed at delta cost and a top-20 search
    snapshot scoped to batches ≤ k is published — the snapshot sequence
    IS the ranking's drift as the corpus grew, which the oracle
    recomputes from scratch per batch prefix."""
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from dataplatform_cdc_pipeline_spark.streaming.bm25_stream import (
        stream_bm25_index,
    )

    docs = spread_scan(load_table(spark, sf_dir, "documents")).select("doc_id", "text")
    tmp = _tempfile.mkdtemp(prefix="bm25_stream_q_")
    src = f"{tmp}/src"
    _os.makedirs(src)
    t0 = 1_000_000_000  # fixed mtimes: arrival order is the contract
    for g in range(3):
        d = f"{tmp}/stage_{g}"
        docs.filter(F.col("doc_id") % 3 == g).coalesce(1).write.parquet(d)
        part = _glob.glob(f"{d}/part-*.parquet")[0]
        dest = f"{src}/batch_{g}.parquet"
        _shutil.move(part, dest)
        _os.utime(dest, (t0 + g * 100, t0 + g * 100))
    bench_phases.mark("setup")  # 3 staged micro-batches end here
    out = stream_bm25_index(
        spark, src, "doc_id long, text string", f"{tmp}/work", BM25_TERMS
    )
    bench_phases.mark("drain")  # per-batch add -> scoped search snapshots
    return out


def _stream_phase_sql(k: int) -> str:
    """From-scratch BM25 over the batch prefix doc_id%3 ≤ k, labelled
    with the micro-batch id that published that snapshot."""
    inner = _bm25_phase_sql(k, f"doc_id % 3 <= {k}")
    # reshape (phase, kind, doc_id, term, score) -> (batch, doc_id, bm25)
    return f"""
SELECT 'b{k}' AS batch, doc_id, score AS bm25
FROM ({inner})"""


SQL_STREAM_BM25_INDEX = (
    _stream_phase_sql(0)
    + "\nUNION ALL"
    + _stream_phase_sql(1)
    + "\nUNION ALL"
    + _stream_phase_sql(2)
)


def q_bm25_index_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDPR erasure from the persisted BM25 index. Output rows
    (phase, kind, doc_id, term, score):

    - phase 1 'search': top-20 over the full two-batch index
    - phase 2 'search': top-20 AFTER erase(doc_id % 7 == 3) — must be
      bit-identical to from-scratch BM25 over the survivor corpus
      (idf/avgdl/N re-derived from the rewritten per-batch aggregates)
    - phase 2 'df': merged per-term document frequency post-erase
    """
    from dataplatform_cdc_pipeline_spark.operators.bm25_index import (
        IncrementalBm25Index,
    )

    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    idx = IncrementalBm25Index(
        spark, tempfile.mkdtemp(prefix="bm25_erase_q_") + "/ix"
    )
    idx.add_batch("b0", docs.filter(F.col("doc_id") % 2 == 0))
    idx.add_batch("b1", docs.filter(F.col("doc_id") % 2 == 1))
    bench_phases.mark("setup")

    p1 = _bm25_phase_rows(1, "search", idx.search(BM25_TERMS)).localCheckpoint(eager=True)
    bench_phases.mark("search")
    idx.erase(docs.filter(F.col("doc_id") % 7 == 3).select("doc_id"))
    bench_phases.mark("erase")
    p2 = _bm25_phase_rows(2, "search", idx.search(BM25_TERMS)).localCheckpoint(eager=True)
    audit = _bm25_phase_rows(2, "df", idx.term_stats(BM25_TERMS))
    return p1.unionByName(p2).unionByName(audit)


SQL_BM25_INDEX_ERASURE = (
    _bm25_phase_sql(1, "TRUE")
    + "\nUNION ALL"
    + _bm25_phase_sql(2, "doc_id % 7 <> 3")
    + f"""
UNION ALL
SELECT 2 AS phase, 'df' AS kind, NULL::BIGINT AS doc_id, term,
       count(DISTINCT doc_id)::DOUBLE AS score
FROM (SELECT doc_id, unnest({TOKS}) AS term FROM documents
      WHERE doc_id % 7 <> 3)
WHERE term IN {_BM25_TERMS_SQL}
GROUP BY term
"""
)


def q_unigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy curation signal: per-doc mean −ln p(token) under
    the corpus's add-one-smoothed unigram model (operators/text_analysis.
    unigram_logprob_frame) — the relational stand-in for a KenLM filter."""
    from dataplatform_cdc_pipeline_spark.operators.text_analysis import (
        unigram_logprob_frame,
    )

    docs = load_table(spark, sf_dir, "documents")
    return unigram_logprob_frame(docs)


SQL_UNIGRAM_PERPLEXITY = f"""
WITH t AS (SELECT doc_id, unnest({TOKS}) AS term FROM documents),
vocab AS (SELECT term, count(*) AS c FROM t GROUP BY term),
totals AS (SELECT sum(c) AS T, count(*) AS V FROM vocab),
scored AS (
  SELECT t.doc_id,
         CAST(-ln((vocab.c + 1) * 1.0 / (totals.T + totals.V)) AS DECIMAL(28,12)) AS nlp
  FROM t JOIN vocab USING (term), totals),
per_doc AS (
  SELECT doc_id, sum(nlp) AS s, count(*) AS n_tokens FROM scored GROUP BY doc_id)
SELECT doc_id, n_tokens,
       floor(s::DOUBLE / n_tokens * 1000000.0) / 1000000.0 AS avg_neg_logprob
FROM per_doc ORDER BY doc_id
"""


def q_interdoc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTER-document repetition (the C4 boilerplate rule's unit-free
    analogue; RefinedWeb's cross-document dimension): for each doc, the
    fraction of its distinct word 3-gram shingles that also occur in
    MORE THAN ``DF_T`` other documents — high fraction = the doc is made
    of corpus-common spans (templates, navigation, licence blocks), a
    signal neither within-doc Gopher filters nor pairwise Jaccard
    captures. keep = frac ≤ 0.5. Scale shape: one explode of distinct
    shingle hashes, one df agg (map-side combined), one join back on the
    hash — the inverted-index pattern, no pairwise work at all."""
    from dataplatform_cdc_pipeline_spark.functions.hashing import md5_long
    from dataplatform_cdc_pipeline_spark.operators.text_dedup import shingles_expr

    DF_T = 3
    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    inv = docs.select(
        "doc_id",
        F.explode(
            F.transform(F.array_distinct(shingles_expr("text", 3)), lambda s: md5_long(s))
        ).alias("h"),
    ).localCheckpoint(eager=True)  # one shingling pass feeds df + join-back
    dfreq = inv.groupBy("h").agg(F.count(F.lit(1)).alias("dfreq"))
    per_doc = (
        inv.join(dfreq, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("dfreq") > DF_T).cast("long")).alias("n_common"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_grams",
        "n_common",
        (
            F.floor(
                F.col("n_common").cast("double") / F.col("n_grams").cast("double")
                * F.lit(1_000_000.0)
            )
            / F.lit(1_000_000.0)
        ).alias("common_frac"),
    ).withColumn("keep", F.col("common_frac") <= 0.5)


SQL_INTERDOC_REPETITION = f"""
WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
inv AS (SELECT doc_id,
               unnest(list_distinct(list_transform({SHINGLES}, g -> {MD5L.format(x='g')}))) AS h
        FROM t),
dfreq AS (SELECT h, count(*) AS dfreq FROM inv GROUP BY h),
per_doc AS (
  SELECT doc_id, count(*) AS n_grams,
         CAST(sum((dfreq > 3)::INT) AS BIGINT) AS n_common
  FROM inv JOIN dfreq USING (h) GROUP BY doc_id)
SELECT doc_id, n_grams, n_common,
       floor(n_common * 1.0 / n_grams * 1000000.0) / 1000000.0 AS common_frac,
       floor(n_common * 1.0 / n_grams * 1000000.0) / 1000000.0 <= 0.5 AS keep
FROM per_doc ORDER BY doc_id
"""


def q_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min heavy hitters (operators/sketches.py): the corpus's
    top-20 tokens with EXACT counts next to their CMS estimates — the
    d·w-cell mergeable sketch that answers 'how often does term X occur'
    over 100 TB without a per-term shuffle. The estimate is provably ≥
    exact (collisions only add); both columns come out of the query so
    the overestimate is visible, and the whole thing — sketch cells
    included — is hash-oracle-gated because the counters are sums of
    deterministic MD5 placements."""
    from pyspark.sql import Window

    from dataplatform_cdc_pipeline_spark.operators.sketches import (
        cms_build,
        cms_estimate,
    )
    from dataplatform_cdc_pipeline_spark.operators.text_analysis import tokens_expr

    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    toks = docs.select(F.explode(tokens_expr("text")).alias("term")).filter(
        F.col("term").isNotNull()
    )
    exact = toks.groupBy("term").agg(F.count(F.lit(1)).alias("exact_n"))
    w = Window.orderBy(F.col("exact_n").desc(), F.col("term").asc())
    top = exact.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 20)
    sketch = cms_build(toks, "term")
    est = cms_estimate(sketch, top, "term")
    return top.join(est, top.term == est.item).select("term", "rk", "exact_n", "cms_n")


SQL_HEAVY_HITTERS_CMS = f"""
WITH toks AS (
  SELECT term FROM (SELECT unnest({TOKS}) AS term FROM documents)
  WHERE term IS NOT NULL),
exact AS (SELECT term, count(*) AS exact_n FROM toks GROUP BY term),
top AS (SELECT term, rk, exact_n FROM (
          SELECT term, exact_n,
                 row_number() OVER (ORDER BY exact_n DESC, term ASC) AS rk
          FROM exact) WHERE rk <= 20),
cells AS (
  SELECT r.row, ({MD5L.format(x="'cms' || r.row::VARCHAR || '|' || term")}) % 256 AS col,
         count(*) AS c
  FROM toks, (SELECT unnest(range(0, 4)) AS row) r
  GROUP BY 1, 2),
probe AS (
  SELECT t.term, r.row,
         ({MD5L.format(x="'cms' || r.row::VARCHAR || '|' || t.term")}) % 256 AS col
  FROM top t, (SELECT unnest(range(0, 4)) AS row) r),
est AS (
  SELECT p.term, min(coalesce(c.c, 0)) AS cms_n
  FROM probe p LEFT JOIN cells c ON c.row = p.row AND c.col = p.col
  GROUP BY p.term)
SELECT t.term, t.rk, t.exact_n, e.cms_n
FROM top t JOIN est e ON t.term = e.term ORDER BY t.rk
"""


def q_bpe_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer training: the first 3 BPE merges learned over the corpus
    (operators/bpe.py) — frequency-weighted adjacent-pair argmax over the
    vocabulary, greedy merge (two-pass replace, see module docstring),
    repeat. The oracle unrolls the same three rounds in CTEs; rank,
    chosen pairs, and counts must match exactly."""
    from dataplatform_cdc_pipeline_spark.operators.bpe import learn_bpe_merges

    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    merges = learn_bpe_merges(docs, n_merges=3)
    return spark.createDataFrame(
        [(m["rank"], m["left"], m["right"], m["merged"], m["cnt"]) for m in merges],
        "rank int, lhs string, rhs string, merged string, cnt long",
    )


def _bpe_round_sql(i: int) -> str:
    """pair-count + argmax CTEs for round i over vocab v{i-1}."""
    return f"""
p{i} AS (
  SELECT p.a AS a, p.b AS b, CAST(sum(freq) AS BIGINT) AS cnt FROM (
    SELECT freq,
           unnest(list_transform(range(1, len(syms)),
                  j -> struct_pack(a := syms[j], b := syms[j + 1]))) AS p
    FROM (SELECT string_split(trim(seq), ' ') AS syms, freq FROM v{i - 1}))
  GROUP BY 1, 2),
b{i} AS (SELECT a, b, cnt FROM p{i} ORDER BY cnt DESC, a ASC, b ASC LIMIT 1)"""


def _bpe_merge_sql(i: int) -> str:
    """vocab v{i} = v{i-1} with round i's pair merged (two-pass replace —
    the same adjacency-run rule as the Spark side)."""
    pat = f"' ' || (SELECT a FROM b{i}) || ' ' || (SELECT b FROM b{i}) || ' '"
    rep = f"' ' || (SELECT a || b FROM b{i}) || ' '"
    return f"""
v{i} AS (SELECT replace(replace(seq, {pat}, {rep}), {pat}, {rep}) AS seq, freq
         FROM v{i - 1})"""


SQL_BPE_LEARN = f"""
WITH w AS (
  SELECT w, count(*) AS freq
  FROM (SELECT unnest({TOKS}) AS w FROM documents)
  WHERE w <> '' GROUP BY w),
v0 AS (SELECT ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS seq, freq FROM w),
{_bpe_round_sql(1)},
{_bpe_merge_sql(1)},
{_bpe_round_sql(2)},
{_bpe_merge_sql(2)},
{_bpe_round_sql(3)}
SELECT 1 AS rank, a AS lhs, b AS rhs, a || b AS merged, cnt FROM b1
UNION ALL SELECT 2, a, b, a || b, cnt FROM b2
UNION ALL SELECT 3, a, b, a || b, cnt FROM b3
"""


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The encoder half of the tokenizer story: learn 3 BPE merges, then
    encode every document with them — per-doc word and post-merge token
    counts (the budget accounting before sequence packing). Trainer and
    encoder share the exact merge semantics, so the oracle's unrolled
    learn+apply chain must land on identical counts."""
    from dataplatform_cdc_pipeline_spark.operators.bpe import (
        apply_bpe,
        learn_bpe_merges,
    )

    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    merges = learn_bpe_merges(docs, n_merges=3)
    return apply_bpe(docs, merges)


def _bpe_apply_sql(i: int, src: str) -> str:
    pat = f"' ' || (SELECT a FROM b{i}) || ' ' || (SELECT b FROM b{i}) || ' '"
    rep = f"' ' || (SELECT a || b FROM b{i}) || ' '"
    return (
        f"a{i} AS (SELECT doc_id, replace(replace(seq, {pat}, {rep}), {pat}, {rep})"
        f" AS seq FROM {src})"
    )


SQL_BPE_ENCODE = f"""
WITH w AS (
  SELECT w, count(*) AS freq
  FROM (SELECT unnest({TOKS}) AS w FROM documents)
  WHERE w <> '' GROUP BY w),
v0 AS (SELECT ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS seq, freq FROM w),
{_bpe_round_sql(1)},
{_bpe_merge_sql(1)},
{_bpe_round_sql(2)},
{_bpe_merge_sql(2)},
{_bpe_round_sql(3)},
dw AS (SELECT doc_id, w FROM (SELECT doc_id, unnest({TOKS}) AS w FROM documents)
       WHERE w <> ''),
a0 AS (SELECT doc_id, ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS seq FROM dw),
{_bpe_apply_sql(1, 'a0')},
{_bpe_apply_sql(2, 'a1')},
{_bpe_apply_sql(3, 'a2')}
SELECT doc_id, count(*) AS n_words,
       CAST(sum(len(string_split(trim(seq), ' '))) AS BIGINT) AS n_bpe_tokens
FROM a3 GROUP BY doc_id ORDER BY doc_id
"""


MM_TOKEN_COST = {"image": 576, "audio": 1500, "video": 4096}


def q_multimodal_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modality-aware training-batch packing: every 4th document carries
    an attached media asset whose modality contributes a FIXED token
    budget (image 576 — the ViT-patch convention — audio 1500, video
    4096) on top of the text's whitespace token count; the combined cost
    then flows through the concat-and-chunk packer (operators/packing.py
    — two-pass prefix sum, one int per partition collected). The packing
    layout is what a multimodal pretraining loader consumes: chunk id +
    offset per sample under a 2048-token budget. The oracle rebuilds the
    cost model and the running sum relationally."""
    from dataplatform_cdc_pipeline_spark.operators.packing import concat_and_chunk

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    text_tokens = F.size(F.split(F.lower(F.trim("text")), r"\s+"))
    has_asset = F.col("doc_id") % 4 == 0
    asset_id = F.col("doc_id") % 128
    media = F.when(
        has_asset,
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (asset_id % 3).cast("int") + F.lit(1),
        ),
    )
    mm_cost = F.coalesce(
        F.when(media == "image", F.lit(MM_TOKEN_COST["image"]))
        .when(media == "audio", F.lit(MM_TOKEN_COST["audio"]))
        .when(media == "video", F.lit(MM_TOKEN_COST["video"])),
        F.lit(0),
    )
    df = docs.select(
        "doc_id",
        media.alias("media_type"),
        (text_tokens + mm_cost).cast("long").alias("total_tokens"),
    )
    out = concat_and_chunk(
        df, F.col("total_tokens"), order_col="doc_id", chunk_tokens=2048
    )
    return out.select(
        "doc_id", "media_type", "n_tokens", "chunk_id", "chunk_offset"
    )


SQL_MULTIMODAL_PACKING = f"""
WITH base AS (
  SELECT doc_id,
         CASE WHEN doc_id % 4 = 0
              THEN ['image', 'audio', 'video'][(doc_id % 128) % 3 + 1] END AS media_type,
         len({TOKS}) +
         CASE coalesce(CASE WHEN doc_id % 4 = 0
                            THEN ['image', 'audio', 'video'][(doc_id % 128) % 3 + 1] END, '')
              WHEN 'image' THEN {MM_TOKEN_COST['image']}
              WHEN 'audio' THEN {MM_TOKEN_COST['audio']}
              WHEN 'video' THEN {MM_TOKEN_COST['video']}
              ELSE 0 END AS n_tokens
  FROM documents),
run AS (
  SELECT doc_id, media_type, n_tokens,
         coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS tokens_before
  FROM base)
SELECT doc_id, media_type, n_tokens::BIGINT AS n_tokens,
       (tokens_before // 2048)::BIGINT AS chunk_id,
       (tokens_before % 2048)::BIGINT AS chunk_offset
FROM run
"""


LSH_RECALL_DF_CAP = 50


def q_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the banded MinHash-LSH candidate generator against an
    INDEPENDENT exact ground truth — the eval that justifies trusting
    LSH dedup at 100 TB (the embedding family already has ann_recall_eval
    / ivf_recall_curve; this is the text-side counterpart). Ground truth
    = Jaccard ≥ 0.5 over the DISCRIMINATIVE shingle universe (document
    frequency ≤ 50 — the standard inverted-index frequency pruning),
    computed entirely by COUNTING: shared-shingle counts from the index
    join and per-doc rare-shingle sizes give |∩| and |∪| = n_a + n_b −
    |∩| with zero per-pair array operations, and the threshold tests as
    3·|∩| ≥ n_a + n_b in integers (a per-pair array_intersect
    formulation was 29 s at sf0.1; this one is a pair-count groupBy).
    Candidates come from the same banded pipeline the dedup queries use.
    One row: truth size, candidate count, hits, recall in exact ppm."""
    from dataplatform_cdc_pipeline_spark.operators.text_dedup import shingles_expr

    # the documents table lands as ONE parquet file → one task would carry
    # the whole shingle transform; spread it before the heavy work
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    sh = docs.select(
        "doc_id", F.array_distinct(shingles_expr(F.col("text"))).alias("shset")
    )
    ex = sh.select("doc_id", F.explode("shset").alias("g")).localCheckpoint(
        eager=True
    )  # feeds the df counts AND both join legs
    rare = ex.join(
        ex.groupBy("g").agg(F.count(F.lit(1)).alias("df")).filter(
            F.col("df") <= LSH_RECALL_DF_CAP
        ),
        "g",
    )
    sizes = rare.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_rare"))
    a = rare.select(F.col("g"), F.col("doc_id").alias("id_a"))
    b = rare.select(F.col("g"), F.col("doc_id").alias("id_b"))
    inter = (
        a.join(b, "g")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    na = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_rare").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_rare").alias("n_b"))
    # truth and lsh each feed TWO consumers (their own count + the hit
    # join); without materialization the final plan duplicates both
    # subtrees wholesale — measured 48 Exchanges / 8 SortMergeJoins /
    # documents scanned 6×, zero ReusedExchange (r12 optimization,
    # guide §1.2: don't compute things twice). Both are small pair
    # frames; eager localCheckpoint evaluates each pipeline ONCE.
    truth = (
        inter.join(F.broadcast(na), "id_a")
        .join(F.broadcast(nb), "id_b")
        .filter(F.col("c") * 3 >= F.col("n_a") + F.col("n_b"))
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    lsh = (
        scored_pairs(spark, sf_dir)
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    hit = truth.join(lsh, ["id_a", "id_b"])
    return (
        truth.agg(F.count(F.lit(1)).alias("n_truth"))
        .crossJoin(lsh.agg(F.count(F.lit(1)).alias("n_candidates")))
        .crossJoin(hit.agg(F.count(F.lit(1)).alias("n_hit")))
        .withColumn("recall_ppm", F.expr("(n_hit * 1000000) div n_truth"))
    )


SQL_LSH_RECALL_EVAL = f"""
WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
s AS (SELECT doc_id, list_distinct({SHINGLES}) AS shset FROM t),
ex AS (SELECT doc_id, unnest(shset) AS g FROM s),
rare AS (
  SELECT ex.doc_id, ex.g FROM ex
  JOIN (SELECT g, count(*) AS df FROM ex GROUP BY g
        HAVING count(*) <= {LSH_RECALL_DF_CAP}) d ON ex.g = d.g),
sizes AS (SELECT doc_id, count(*) AS n_rare FROM rare GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
  FROM rare a JOIN rare b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id),
truth AS (
  SELECT id_a, id_b
  FROM inter JOIN sizes sa ON id_a = sa.doc_id
             JOIN sizes sb ON id_b = sb.doc_id
  WHERE 3 * c >= sa.n_rare + sb.n_rare),
sig AS (
  SELECT doc_id,
         list_transform(range(0, 8), f ->
           list_min(list_transform(shset, g -> {_MINHASH_FAMILY}))) AS mh
  FROM s),
bands AS (
  SELECT doc_id,
         unnest(list_transform(range(0, 4), b ->
           b::VARCHAR || '_' || mh[2*b + 1]::VARCHAR || '_' || mh[2*b + 2]::VARCHAR)) AS band_key
  FROM sig),
lsh AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
hit AS (SELECT * FROM truth INTERSECT SELECT * FROM lsh)
SELECT (SELECT count(*) FROM truth)::BIGINT AS n_truth,
       (SELECT count(*) FROM lsh)::BIGINT AS n_candidates,
       (SELECT count(*) FROM hit)::BIGINT AS n_hit,
       ((SELECT count(*) FROM hit) * 1000000 //
        (SELECT count(*) FROM truth))::BIGINT AS recall_ppm
"""


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup (operators/text_dedup.containment_pairs):
    pairs where the smaller doc's shingle set is ≥80% contained in the
    larger's — the quotation/boilerplate-wrap case Jaccard dedup cannot
    see (a doc quoted inside one 100× larger has Jaccard ≈ 0.01 but
    containment ≈ 1). Inverted shingle-hash index with a document-
    frequency posting cap, never all-pairs."""
    from dataplatform_cdc_pipeline_spark.operators.text_dedup import containment_pairs

    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    return containment_pairs(docs, threshold=0.8, n=3, max_shingle_df=100)


SQL_DEDUP_CONTAINMENT = f"""
WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
hs AS (SELECT doc_id,
              list_distinct(list_transform({SHINGLES}, g -> {MD5L.format(x='g')})) AS hset
       FROM t),
sz AS (SELECT doc_id, len(hset) AS sz FROM hs),
inv AS (SELECT doc_id, unnest(hset) AS h FROM hs),
hot AS (SELECT h FROM inv GROUP BY h HAVING count(*) > 100),
capped AS (SELECT inv.* FROM inv ANTI JOIN hot USING (h)),
shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
  FROM capped a JOIN capped b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
o AS (
  SELECT CASE WHEN za.sz < zb.sz OR (za.sz = zb.sz AND id_a < id_b)
              THEN id_a ELSE id_b END AS inner_id,
         CASE WHEN za.sz < zb.sz OR (za.sz = zb.sz AND id_a < id_b)
              THEN id_b ELSE id_a END AS outer_id,
         shared,
         least(za.sz, zb.sz) AS inner_sz
  FROM shared JOIN sz za ON id_a = za.doc_id JOIN sz zb ON id_b = zb.doc_id)
SELECT inner_id, outer_id, shared, inner_sz,
       floor(shared * 1.0 / inner_sz * 1000000.0) / 1000000.0 AS containment
FROM o WHERE floor(shared * 1.0 / inner_sz * 1000000.0) / 1000000.0 >= 0.8
ORDER BY inner_id, outer_id
"""


def q_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One model class up the KenLM ladder: per-doc mean −ln p(v|u) under
    the corpus's interpolated add-one bigram model
    (operators/text_analysis.bigram_logprob_frame, λ=0.7). Catches
    shuffled/unnatural word ORDER that the unigram scorer is blind to."""
    from dataplatform_cdc_pipeline_spark.operators.text_analysis import (
        bigram_logprob_frame,
    )

    docs = load_table(spark, sf_dir, "documents")
    return bigram_logprob_frame(docs)


SQL_BIGRAM_PERPLEXITY = f"""
WITH t AS (SELECT doc_id, unnest({TOKS}) AS v,
                  generate_subscripts({TOKS}, 1) AS pos FROM documents),
pairs AS (
  SELECT doc_id, u, v FROM (
    SELECT doc_id, v,
           lag(v) OVER (PARTITION BY doc_id ORDER BY pos) AS u
    FROM t) WHERE u IS NOT NULL),
uni AS (SELECT v, count(*) AS c FROM t GROUP BY v),
totals AS (SELECT sum(c) AS T, count(*) AS V FROM uni),
bi AS (SELECT u, v, count(*) AS cuv FROM pairs GROUP BY u, v),
scored AS (
  SELECT p.doc_id,
         CAST(-ln(0.7 * ((bi.cuv + 1) * 1.0 / (cu.c + totals.V))
                  + (1.0 - 0.7) * ((cv.c + 1) * 1.0 / (totals.T + totals.V)))
              AS DECIMAL(28,12)) AS nlp
  FROM pairs p
  JOIN bi ON p.u = bi.u AND p.v = bi.v
  JOIN uni cu ON p.u = cu.v
  JOIN uni cv ON p.v = cv.v, totals),
per_doc AS (
  SELECT doc_id, sum(nlp) AS s, count(*) AS n_bigrams FROM scored GROUP BY doc_id)
SELECT doc_id, n_bigrams,
       floor(s::DOUBLE / n_bigrams * 1000000.0) / 1000000.0 AS avg_neg_logprob
FROM per_doc ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return brute_force_topk(emb, queries, k=5)


_COS = (
    "floor(list_dot_product(q.vec, c.vec) / "
    "(sqrt(list_dot_product(q.vec, q.vec)) * sqrt(list_dot_product(c.vec, c.vec))) * 1000000.0) / 1000000.0"
)
SQL_EMBEDDING_TOPK = f"""
WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vec FROM embeddings),
q AS (SELECT * FROM v WHERE vec_id < 10),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS nbr_id, {_COS} AS cosine
  FROM q, v c WHERE q.vec_id != c.vec_id),
ranked AS (
  SELECT query_id, nbr_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, nbr_id ASC) AS rk
  FROM scored)
SELECT query_id, rk, nbr_id, cosine FROM ranked WHERE rk <= 5 ORDER BY query_id, rk
"""

_ANN_PLANES = 4
_ANN_DIMS = 64


def q_embedding_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return lsh_topk(emb, queries, k=5, planes=_ANN_PLANES, dims=_ANN_DIMS)


def _ann_lsh_sql() -> str:
    signs = hyperplane_signs(_ANN_PLANES, _ANN_DIMS)
    bucket = " || ".join(
        "(CASE WHEN list_dot_product(vec, ["
        + ", ".join(f"{s:.1f}" for s in row)
        + "]::DOUBLE[]) >= 0 THEN '1' ELSE '0' END)"
        for row in signs
    )
    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vec FROM embeddings),
b AS (SELECT vec_id, vec, {bucket} AS bucket FROM v),
q AS (SELECT * FROM b WHERE vec_id < 10),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS nbr_id, {_COS} AS cosine
  FROM q JOIN b c ON q.bucket = c.bucket AND q.vec_id != c.vec_id),
ranked AS (
  SELECT query_id, nbr_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, nbr_id ASC) AS rk
  FROM scored)
SELECT query_id, rk, nbr_id, cosine FROM ranked WHERE rk <= 5 ORDER BY query_id, rk
"""


SQL_EMBEDDING_ANN_LSH = _ann_lsh_sql()


def q_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation: per-query recall@5 of the hyperplane-LSH
    index against the brute-force ground truth — the measurement harness
    any ANN deployment needs before trusting the approximate path. Both
    rankings run as their ordinary operators; recall is a two-join
    relational fold (no collect)."""
    from dataplatform_cdc_pipeline_spark.operators.similarity import (
        brute_force_topk,
        lsh_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    # e and a each feed two consumers (own count + the hit semi-join);
    # materialize the ≤50-row top-k lists so the brute-force and LSH
    # pipelines run ONCE, not twice (r12 optimization, guide §1.2)
    e = (
        brute_force_topk(emb, queries, k=5)
        .select("query_id", "nbr_id")
        .localCheckpoint(eager=True)
    )
    a = (
        lsh_topk(emb, queries, k=5, planes=_ANN_PLANES, dims=_ANN_DIMS)
        .select("query_id", "nbr_id")
        .localCheckpoint(eager=True)
    )
    n_exact = e.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    n_approx = a.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_approx"))
    n_hit = (
        e.join(a, ["query_id", "nbr_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        n_exact.join(n_approx, "query_id", "left")
        .join(n_hit, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce("n_approx", F.lit(0)).alias("n_approx"),
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            (
                F.floor(
                    F.coalesce("n_hit", F.lit(0)).cast("double")
                    / F.col("n_exact").cast("double")
                    * F.lit(1_000_000.0)
                )
                / F.lit(1_000_000.0)
            ).alias("recall_at_5"),
        )
    )


def _ann_recall_sql() -> str:
    signs = hyperplane_signs(_ANN_PLANES, _ANN_DIMS)
    bucket = " || ".join(
        "(CASE WHEN list_dot_product(vec, ["
        + ", ".join(f"{s:.1f}" for s in row)
        + "]::DOUBLE[]) >= 0 THEN '1' ELSE '0' END)"
        for row in signs
    )
    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vec FROM embeddings),
b AS (SELECT vec_id, vec, {bucket} AS bucket FROM v),
q AS (SELECT * FROM b WHERE vec_id < 10),
e AS (
  SELECT query_id, nbr_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {_COS} DESC, c.vec_id ASC) AS rk
    FROM q, v c WHERE q.vec_id != c.vec_id) WHERE rk <= 5),
a AS (
  SELECT query_id, nbr_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {_COS} DESC, c.vec_id ASC) AS rk
    FROM q JOIN b c ON q.bucket = c.bucket AND q.vec_id != c.vec_id) WHERE rk <= 5),
ne AS (SELECT query_id, count(*) AS n_exact FROM e GROUP BY query_id),
na AS (SELECT query_id, count(*) AS n_approx FROM a GROUP BY query_id),
nh AS (
  SELECT e.query_id, count(*) AS n_hit
  FROM e JOIN a ON e.query_id = a.query_id AND e.nbr_id = a.nbr_id
  GROUP BY e.query_id)
SELECT ne.query_id, ne.n_exact,
       coalesce(na.n_approx, 0) AS n_approx,
       coalesce(nh.n_hit, 0) AS n_hit,
       floor(coalesce(nh.n_hit, 0) * 1.0 / ne.n_exact * 1000000.0) / 1000000.0
         AS recall_at_5
FROM ne LEFT JOIN na USING (query_id) LEFT JOIN nh ON ne.query_id = nh.query_id
ORDER BY ne.query_id
"""


SQL_ANN_RECALL_EVAL = _ann_recall_sql()


#: Precomputed IVF centroid index per sf_dir — the index-artifact pattern:
#: built once (eager localCheckpoint: tiny, cells × dims, not
#: cache-manager-pinned), broadcast into every subsequent probe.
_IVF_CENTROID_CACHE: dict[str, DataFrame] = {}


def _ivf_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataplatform_cdc_pipeline_spark.operators.similarity import ivf_centroids

    key = f"{spark.sparkContext.applicationId}:{sf_dir}"
    if key not in _IVF_CENTROID_CACHE:
        emb = load_table(spark, sf_dir, "embeddings")
        _IVF_CENTROID_CACHE[key] = ivf_centroids(emb).localCheckpoint(eager=True)
    return _IVF_CENTROID_CACHE[key]


def q_embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataplatform_cdc_pipeline_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return ivf_topk(emb, queries, k=5, centroids=_ivf_index(spark, sf_dir))


def _ivf_topk_sql(nprobe: int) -> str:
    return f"""
WITH v AS (
  SELECT vec_id, label AS cell, list_transform(embedding, x -> x::DOUBLE) AS vec
  FROM embeddings),
u AS (
  SELECT cell, p.pos, vec[p.pos] AS x
  FROM v, (SELECT unnest(range(1, 65)) AS pos) p),
cm AS (SELECT cell, pos, avg(x) AS a FROM u GROUP BY cell, pos),
cent AS (
  SELECT cell, list(a ORDER BY pos) AS centroid FROM cm GROUP BY cell),
q AS (SELECT vec_id AS query_id, vec AS q_vec FROM v WHERE vec_id < 10),
routed AS (
  SELECT query_id, q_vec, cell FROM (
    SELECT q.query_id, q.q_vec, c.cell,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY list_dot_product(q.q_vec, c.centroid) /
                      (sqrt(list_dot_product(q.q_vec, q.q_vec)) *
                       sqrt(list_dot_product(c.centroid, c.centroid))) DESC,
                      c.cell ASC) AS rk
    FROM q CROSS JOIN cent c) WHERE rk <= {nprobe}),
scored AS (
  SELECT r.query_id, c.vec_id AS nbr_id,
         floor(list_dot_product(r.q_vec, c.vec) /
               (sqrt(list_dot_product(r.q_vec, r.q_vec)) *
                sqrt(list_dot_product(c.vec, c.vec))) * 1000000.0) / 1000000.0 AS cosine
  FROM routed r JOIN v c ON r.cell = c.cell AND r.query_id != c.vec_id),
ranked AS (
  SELECT query_id, nbr_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, nbr_id ASC) AS rk
  FROM scored)
SELECT query_id, rk, nbr_id, cosine FROM ranked WHERE rk <= 5
"""


SQL_EMBEDDING_IVF_TOPK = _ivf_topk_sql(1)
SQL_EMBEDDING_IVF_NPROBE2 = _ivf_topk_sql(2)


def q_embedding_ivf_nprobe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF (nprobe=2): the recall/cost lever — probes the two
    nearest cells, reading 2/cells of the corpus instead of 1/cells."""
    from dataplatform_cdc_pipeline_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return ivf_topk(emb, queries, k=5, nprobe=2, centroids=_ivf_index(spark, sf_dir))


def q_ivf_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF index's tuning interface: recall@5 vs nprobe ∈ {1,2,4}
    against the brute-force ground truth — the curve an operator reads
    before picking the probe width at 100 TB. All three settings derive
    from ONE probe scan at nprobe=4 (similarity.ivf_topk_multi: the
    nprobe=n candidate set is a probe-rank prefix of the widest one);
    recall is a relational two-join fold per setting, no collect."""
    from dataplatform_cdc_pipeline_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk_multi,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    # both sides feed two consumers each (counts + hit semi-join) —
    # materialize the tiny top-k lists so brute force and the probe
    # scan run ONCE (r12 optimization, guide §1.2)
    e = (
        brute_force_topk(emb, queries, k=5)
        .select("query_id", "nbr_id")
        .localCheckpoint(eager=True)
    )
    multi = (
        ivf_topk_multi(
            emb, queries, k=5, nprobes=(1, 2, 4), centroids=_ivf_index(spark, sf_dir)
        )
        .select("nprobe", "query_id", "nbr_id")
        .localCheckpoint(eager=True)
    )
    n_exact = e.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    n_approx = multi.groupBy("nprobe", "query_id").agg(F.count(F.lit(1)).alias("n_approx"))
    n_hit = (
        multi.join(e, ["query_id", "nbr_id"], "left_semi")
        .groupBy("nprobe", "query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    grid = spark.createDataFrame([(1,), (2,), (4,)], "nprobe int").crossJoin(n_exact)
    return (
        grid.join(n_approx, ["nprobe", "query_id"], "left")
        .join(n_hit, ["nprobe", "query_id"], "left")
        .select(
            "nprobe",
            "query_id",
            "n_exact",
            F.coalesce("n_approx", F.lit(0)).alias("n_approx"),
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            (
                F.floor(
                    F.coalesce("n_hit", F.lit(0)).cast("double")
                    / F.col("n_exact").cast("double")
                    * F.lit(1_000_000.0)
                )
                / F.lit(1_000_000.0)
            ).alias("recall_at_5"),
        )
    )


SQL_IVF_RECALL_CURVE = """
WITH v AS (
  SELECT vec_id, label AS cell, list_transform(embedding, x -> x::DOUBLE) AS vec
  FROM embeddings),
u AS (
  SELECT cell, p.pos, vec[p.pos] AS x
  FROM v, (SELECT unnest(range(1, 65)) AS pos) p),
cm AS (SELECT cell, pos, avg(x) AS a FROM u GROUP BY cell, pos),
cent AS (SELECT cell, list(a ORDER BY pos) AS centroid FROM cm GROUP BY cell),
q AS (SELECT vec_id AS query_id, vec AS q_vec FROM v WHERE vec_id < 10),
routed AS (
  SELECT query_id, q_vec, cell, rk AS probe_rank FROM (
    SELECT q.query_id, q.q_vec, c.cell,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY list_dot_product(q.q_vec, c.centroid) /
                      (sqrt(list_dot_product(q.q_vec, q.q_vec)) *
                       sqrt(list_dot_product(c.centroid, c.centroid))) DESC,
                      c.cell ASC) AS rk
    FROM q CROSS JOIN cent c) WHERE rk <= 4),
cand AS (
  SELECT r.query_id, r.probe_rank, c.vec_id AS nbr_id,
         floor(list_dot_product(r.q_vec, c.vec) /
               (sqrt(list_dot_product(r.q_vec, r.q_vec)) *
                sqrt(list_dot_product(c.vec, c.vec))) * 1000000.0) / 1000000.0 AS cosine
  FROM routed r JOIN v c ON r.cell = c.cell AND r.query_id != c.vec_id),
approx AS (
  SELECT nprobe, query_id, nbr_id FROM (
    SELECT np.nprobe, c.query_id, c.nbr_id,
           row_number() OVER (PARTITION BY np.nprobe, c.query_id
                              ORDER BY c.cosine DESC, c.nbr_id ASC) AS rk
    FROM (SELECT unnest([1, 2, 4]) AS nprobe) np
    JOIN cand c ON c.probe_rank <= np.nprobe) WHERE rk <= 5),
e AS (
  SELECT query_id, nbr_id FROM (
    SELECT q.query_id, c.vec_id AS nbr_id,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY floor(list_dot_product(q.q_vec, c.vec) /
                                             (sqrt(list_dot_product(q.q_vec, q.q_vec)) *
                                              sqrt(list_dot_product(c.vec, c.vec))) *
                                             1000000.0) / 1000000.0 DESC,
                                       c.vec_id ASC) AS rk
    FROM q, v c WHERE q.query_id != c.vec_id) WHERE rk <= 5),
ne AS (SELECT query_id, count(*) AS n_exact FROM e GROUP BY query_id),
na AS (SELECT nprobe, query_id, count(*) AS n_approx FROM approx GROUP BY nprobe, query_id),
nh AS (
  SELECT a.nprobe, a.query_id, count(*) AS n_hit
  FROM approx a JOIN e ON a.query_id = e.query_id AND a.nbr_id = e.nbr_id
  GROUP BY a.nprobe, a.query_id),
grid AS (
  SELECT np.nprobe, ne.query_id, ne.n_exact
  FROM (SELECT unnest([1, 2, 4]) AS nprobe) np CROSS JOIN ne)
SELECT g.nprobe, g.query_id, g.n_exact,
       coalesce(na.n_approx, 0) AS n_approx,
       coalesce(nh.n_hit, 0) AS n_hit,
       floor(coalesce(nh.n_hit, 0) * 1.0 / g.n_exact * 1000000.0) / 1000000.0
         AS recall_at_5
FROM grid g
LEFT JOIN na ON g.nprobe = na.nprobe AND g.query_id = na.query_id
LEFT JOIN nh ON g.nprobe = nh.nprobe AND g.query_id = nh.query_id
ORDER BY g.nprobe, g.query_id
"""

_KMEANS_K = 8
_KMEANS_ITER = 2


def q_embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means over the corpus embeddings — the learned coarse
    quantizer for IVF (operators/clustering.py). Exact integer micro-space
    arithmetic makes the assignment AND the squared distance hash-stable:
    the only float op per iteration is one division whose floor is proven
    stable (clustering.py docstring). k=8 seeds by (md5(id), id); two
    Lloyd iterations; output = final (vec_id, cluster, dist2)."""
    from dataplatform_cdc_pipeline_spark.operators.clustering import kmeans_assign

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_assign(emb, k=_KMEANS_K, n_iter=_KMEANS_ITER)


# Shared kmeans CTE chain (two unrolled Lloyd iterations): pts (integer
# micro-units) → c0 (seed centroids) → a1 → c1 → a2 → c2 → d3 (final
# distances). All arithmetic BIGINT except the centroid mean's
# floor(SUM/COUNT) — same stability argument as Spark
# (operators/clustering.py). Reused by the three kmeans-family oracles.
_KMEANS_CTES = f"""pts AS (
  SELECT vec_id, pos - 1 AS pos,
         CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) AS xi
  FROM (SELECT vec_id, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS pos FROM embeddings)),
seeds AS (
  SELECT vec_id, cluster FROM (
    SELECT vec_id,
           row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
             AS cluster
    FROM embeddings) WHERE cluster < {_KMEANS_K}),
c0 AS (SELECT s.cluster, p.pos, p.xi AS m FROM seeds s JOIN pts p USING (vec_id)),
d1 AS (SELECT p.vec_id, c.cluster, SUM((p.xi - c.m) * (p.xi - c.m)) AS d
       FROM pts p JOIN c0 c USING (pos) GROUP BY 1, 2),
a1 AS (SELECT vec_id, cluster FROM (
         SELECT vec_id, cluster,
                row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rk
         FROM d1) WHERE rk = 1),
c1 AS (SELECT a.cluster, p.pos, CAST(floor(SUM(p.xi) / COUNT(*)) AS BIGINT) AS m
       FROM pts p JOIN a1 a USING (vec_id) GROUP BY 1, 2),
d2 AS (SELECT p.vec_id, c.cluster, SUM((p.xi - c.m) * (p.xi - c.m)) AS d
       FROM pts p JOIN c1 c USING (pos) GROUP BY 1, 2),
a2 AS (SELECT vec_id, cluster FROM (
         SELECT vec_id, cluster,
                row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rk
         FROM d2) WHERE rk = 1),
c2 AS (SELECT a.cluster, p.pos, CAST(floor(SUM(p.xi) / COUNT(*)) AS BIGINT) AS m
       FROM pts p JOIN a2 a USING (vec_id) GROUP BY 1, 2),
d3 AS (SELECT p.vec_id, c.cluster, SUM((p.xi - c.m) * (p.xi - c.m)) AS d
       FROM pts p JOIN c2 c USING (pos) GROUP BY 1, 2)"""

#: final assignment (cells) on top of the chain
_KMEANS_A3 = """a3 AS (SELECT vec_id, cluster AS cell FROM (
         SELECT vec_id, cluster,
                row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rk
         FROM d3) WHERE rk = 1)"""

SQL_EMBEDDING_KMEANS = f"""
WITH {_KMEANS_CTES}
SELECT vec_id, cluster, CAST(d AS BIGINT) AS dist2 FROM (
  SELECT vec_id, cluster, d,
         row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rk
  FROM d3) WHERE rk = 1
ORDER BY vec_id
"""


def q_embedding_ivf_learned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a LEARNED coarse quantizer, end to end: k-means fits
    the cells (exact integer micro-space, operators/clustering.py), the
    final integer centroids become the routing index (de-quantized by one
    exact /1e6 division — deterministic), and the probe reads nprobe=2
    cells. This is the production IVF shape — label-routed
    `embedding_ivf_topk` stands in for a prior clustering; here the index
    is built by the engine itself, and the whole chain stays
    hash-oracle-checked."""
    from dataplatform_cdc_pipeline_spark.operators.clustering import (
        centroid_frame,
        kmeans_fit,
    )
    from dataplatform_cdc_pipeline_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    assigned, cents = kmeans_fit(emb, k=_KMEANS_K, n_iter=_KMEANS_ITER)
    celled = emb.join(
        assigned.select("vec_id", F.col("cluster").alias("cell")), "vec_id"
    )
    queries = celled.filter(F.col("vec_id") < 10)
    return ivf_topk(
        celled,
        queries,
        k=5,
        cell_col="cell",
        nprobe=2,
        centroids=centroid_frame(spark, cents),
    )


# shared kmeans chain → learned cells (a3) + de-quantized centroids
# (cent) → the standard IVF probe at nprobe=2.
SQL_EMBEDDING_IVF_LEARNED = f"""
WITH {_KMEANS_CTES},
{_KMEANS_A3},
cent AS (SELECT cluster AS cell, list(CAST(m AS DOUBLE) / 1000000.0 ORDER BY pos)
           AS centroid
         FROM c2 GROUP BY cluster),
v AS (SELECT e.vec_id, a3.cell, list_transform(e.embedding, x -> x::DOUBLE) AS vec
      FROM embeddings e JOIN a3 USING (vec_id)),
q AS (SELECT vec_id AS query_id, vec AS q_vec FROM v WHERE vec_id < 10),
routed AS (
  SELECT query_id, q_vec, cell FROM (
    SELECT q.query_id, q.q_vec, c.cell,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY list_dot_product(q.q_vec, c.centroid) /
                      (sqrt(list_dot_product(q.q_vec, q.q_vec)) *
                       sqrt(list_dot_product(c.centroid, c.centroid))) DESC,
                      c.cell ASC) AS rk
    FROM q CROSS JOIN cent c) WHERE rk <= 2),
scored AS (
  SELECT r.query_id, c.vec_id AS nbr_id,
         floor(list_dot_product(r.q_vec, c.vec) /
               (sqrt(list_dot_product(r.q_vec, r.q_vec)) *
                sqrt(list_dot_product(c.vec, c.vec))) * 1000000.0) / 1000000.0 AS cosine
  FROM routed r JOIN v c ON r.cell = c.cell AND r.query_id != c.vec_id),
ranked AS (
  SELECT query_id, nbr_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, nbr_id ASC) AS rk
  FROM scored)
SELECT query_id, rk, nbr_id, cosine FROM ranked WHERE rk <= 5
"""


_SEMDEDUP_T = 0.4


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication: k-means cells bound the
    pairwise work; within a cell a vector is dropped when its cosine to a
    lower-id cellmate reaches τ=0.4 (prune-against-earlier). Output =
    every vector with its learned cell and the keep decision — the
    whole chain (clustering + in-cell pruning) hash-oracle-checked."""
    from dataplatform_cdc_pipeline_spark.operators.clustering import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb, k=_KMEANS_K, n_iter=_KMEANS_ITER, threshold=_SEMDEDUP_T
    )


SQL_SEMANTIC_DEDUP = f"""
WITH {_KMEANS_CTES},
{_KMEANS_A3},
v AS (SELECT e.vec_id, a3.cell, list_transform(e.embedding, x -> x::DOUBLE) AS vec
      FROM embeddings e JOIN a3 USING (vec_id)),
dropped AS (
  SELECT DISTINCT a.vec_id
  FROM v a JOIN v b ON a.cell = b.cell AND b.vec_id < a.vec_id
  WHERE floor(list_dot_product(a.vec, b.vec) /
              (sqrt(list_dot_product(a.vec, a.vec)) *
               sqrt(list_dot_product(b.vec, b.vec))) * 1000000.0) / 1000000.0
        >= {_SEMDEDUP_T})
SELECT v.vec_id, v.cell, d.vec_id IS NULL AS kept
FROM v LEFT JOIN dropped d ON v.vec_id = d.vec_id
"""


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing end-to-end. The decode stub hashes the payload's
    hex encoding (multimodal.content_hash), so the full pipeline — synthetic
    payload bytes → mapInPandas Arrow batches → digest + float32 feature —
    is reproducible by the DuckDB oracle below and hash-gated."""
    from dataplatform_cdc_pipeline_spark.operators.multimodal import (
        extract_features,
        synthesize_assets,
    )

    assets = synthesize_assets(spark, n=128)
    feats = extract_features(assets)
    return feats.select(
        "asset_id",
        "media_type",
        "n_bytes",
        "content_hash",
        # float32 feature, bit-identical cross-engine: IEEE double divide
        # then float cast are both exactly specified
        F.element_at("features", 1).alias("f0"),
    )


# Oracle rebuilds the synthetic assets (multimodal.synthesize_assets) and the
# stub extractor (multimodal.content_hash / fake_feature_extractor) in pure
# SQL: payload hex = repeat(sha256('asset'||i), i%5+1), digest = sha256(hex),
# f0 = first two digest bytes / 65535 as float32.
SQL_MULTIMODAL_FEATURES = """
WITH ids AS (SELECT unnest(range(128)) AS asset_id),
a AS (
  SELECT asset_id,
         ['image','audio','video'][(asset_id % 3)::INT + 1] AS media_type,
         repeat(sha256('asset' || asset_id), (asset_id % 5)::INT + 1) AS payload_hex
  FROM ids),
f AS (
  SELECT asset_id, media_type,
         (length(payload_hex) // 2)::BIGINT AS n_bytes,
         sha256(payload_hex) AS content_hash
  FROM a)
SELECT asset_id, media_type, n_bytes, content_hash,
       (('0x' || substring(content_hash, 1, 4))::BIGINT / 65535.0)::FLOAT AS f0
FROM f
"""


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_near_dup_pairs(emb, threshold=0.4, planes=_ANN_PLANES, dims=_ANN_DIMS)


def _near_dup_sql() -> str:
    signs = hyperplane_signs(_ANN_PLANES, _ANN_DIMS)
    bucket = " || ".join(
        "(CASE WHEN list_dot_product(vec, ["
        + ", ".join(f"{s:.1f}" for s in row)
        + "]::DOUBLE[]) >= 0 THEN '1' ELSE '0' END)"
        for row in signs
    )
    cos = (
        "floor(list_dot_product(a.vec, b.vec) / "
        "(sqrt(list_dot_product(a.vec, a.vec)) * sqrt(list_dot_product(b.vec, b.vec))) * 1000000.0) / 1000000.0"
    )
    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vec FROM embeddings),
bk AS (SELECT vec_id, vec, {bucket} AS bucket FROM v)
SELECT a.vec_id AS id_a, b.vec_id AS id_b, {cos} AS cosine
FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE {cos} >= 0.4
ORDER BY id_a, id_b
"""


SQL_EMBEDDING_NEAR_DUP = _near_dup_sql()


def q_embedding_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space dedup clustering: connected components over cosine
    near-dup pairs (threshold 0.4 on the synthetic embeddings) — the same
    canonical-per-cluster machinery the text dedup uses, applied to the
    embedding modality. Output (vec_id, canonical_id) for the whole corpus."""
    from dataplatform_cdc_pipeline_spark.operators.text_dedup import dedup_clusters

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = cosine_near_dup_pairs(emb, threshold=0.4, planes=_ANN_PLANES, dims=_ANN_DIMS)
    return dedup_clusters(pairs, emb, id_col="vec_id").select(
        "vec_id", "canonical_id"
    )


def _emb_clusters_sql() -> str:
    pairs_sql = SQL_EMBEDDING_NEAR_DUP.replace("ORDER BY id_a, id_b", "")
    return f"""
WITH RECURSIVE pairs AS ({pairs_sql}),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs),
reach(node, lbl) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, r.lbl FROM edges e JOIN reach r ON e.b = r.node),
comp AS (SELECT node, min(lbl) AS canonical FROM reach GROUP BY node)
SELECT vec_id, coalesce(comp.canonical, vec_id) AS canonical_id
FROM embeddings LEFT JOIN comp ON vec_id = comp.node
ORDER BY vec_id
"""


SQL_EMBEDDING_DUP_CLUSTERS = _emb_clusters_sql()

# ---------------------------------------------------------------------------
# capstone: full training-data pipeline (filter → dedup → pack)
# ---------------------------------------------------------------------------


def q_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed LLM training-data pipeline over documents:

    1. quality filter (keep score ≥ 0.5)
    2. near-dup removal — only cluster canonicals survive (MinHash-LSH →
       connected components)
    3. concat-and-chunk packing: surviving docs in doc_id order are
       concatenated and split into 512-token chunks — `chunk_id =
       (cumulative_tokens_before) // 512`, the standard pretraining
       packing layout, as a single window cumsum (one shuffle).
    """
    from dataplatform_cdc_pipeline_spark.operators.packing import concat_and_chunk
    from dataplatform_cdc_pipeline_spark.operators.text_dedup import dedup_clusters

    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    quality = docs.withColumn("q", quality_score_expr("text")).filter(F.col("q") >= 0.5)
    pairs = scored_pairs(spark, sf_dir).filter(F.col("jaccard") >= 0.9)
    clusters = dedup_clusters(pairs, docs)
    keep = quality.join(clusters, "doc_id").filter(F.col("doc_id") == F.col("canonical_id"))
    toks = F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
    return concat_and_chunk(keep, toks, order_col="doc_id", chunk_tokens=512).select(
        "doc_id", "n_tokens", "chunk_id", "chunk_offset"
    )


_CLUSTERS_SQL_INNER = None  # built below from the clusters oracle


def _training_mix_sql() -> str:
    # reuse the quality + cluster oracles; pack with a window cumsum
    quality_filter = f"""
  SELECT doc_id FROM (
    WITH t AS (SELECT doc_id, text, {TOKS} AS toks FROM documents),
    c AS (
      SELECT doc_id,
             least(len(toks) / 100.0, 1.0) AS lc,
             least(({_stop_count_sql(LANG_PROFILES["en"])} * 1.0 / len(toks)) * 10.0, 1.0) AS sc,
             1.0 - least((len(regexp_extract_all(text, '[.,!?;:]')) * 1.0 / length(text)) * 20.0, 1.0) AS pc,
             CASE WHEN (length(text) - len(toks) + 1) * 1.0 / len(toks) BETWEEN 3.0 AND 10.0
                  THEN 1.0 ELSE 0.0 END AS lo
      FROM t)
    SELECT doc_id FROM c WHERE floor((lc * 0.4 + sc * 0.3 + pc * 0.2 + lo * 0.1) * 10000.0) / 10000.0 >= 0.5)
"""
    pairs_sql = SQL_DEDUP_MINHASH_LSH.replace("ORDER BY id_a, id_b", "")
    return f"""
WITH RECURSIVE pairs AS ({pairs_sql}),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs),
reach(node, lbl) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, r.lbl FROM edges e JOIN reach r ON e.b = r.node),
comp AS (SELECT node, min(lbl) AS canonical FROM reach GROUP BY node),
qual AS ({quality_filter}),
keep AS (
  SELECT d.doc_id, len({TOKS}) AS n_tokens
  FROM documents d
  JOIN qual USING (doc_id)
  LEFT JOIN comp ON d.doc_id = comp.node
  WHERE coalesce(comp.canonical, d.doc_id) = d.doc_id),
packed AS (
  SELECT doc_id, n_tokens,
         (coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))::BIGINT AS tokens_before
  FROM keep)
SELECT doc_id, n_tokens,
       (tokens_before // 512)::BIGINT AS chunk_id,
       (tokens_before % 512)::BIGINT AS chunk_offset
FROM packed
"""


SQL_TRAINING_MIX = _training_mix_sql()


# ---------------------------------------------------------------------------
# corpus curation: token budgeting, stratified sampling, contamination
# ---------------------------------------------------------------------------


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token budgeting: whitespace tokens vs the BPE-ish pre-tokenizer
    count (text_analysis.bpe_token_count_expr — the cheap stand-in for a
    real tokenizer when sizing a corpus)."""
    from dataplatform_cdc_pipeline_spark.operators.text_analysis import bpe_token_count_expr

    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("ws_tokens"),
        bpe_token_count_expr("text").alias("bpe_tokens"),
    )


# same pattern text: expressible in both Java regex and RE2 (SQL-escaped ')
_BPE_SQL_PATTERN = r"''(?:s|t|re|ve|m|ll|d)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+|\s+"

SQL_TOKEN_COUNTS = f"""
SELECT doc_id,
       len({TOKS}) AS ws_tokens,
       len(regexp_extract_all(text, '{_BPE_SQL_PATTERN}')) AS bpe_tokens
FROM documents ORDER BY doc_id
"""


#: stratum → keep percentage (en downsampled; everything else kept)
SAMPLE_RATES = {"en": 40}


def q_corpus_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: keep 40% of predicted-English docs,
    100% of other strata — MD5-slot membership, no RNG state."""
    from dataplatform_cdc_pipeline_spark.operators.corpus import stratified_sample

    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    return stratified_sample(docs, SAMPLE_RATES)


def _corpus_sample_sql() -> str:
    from dataplatform_cdc_pipeline_spark.functions.hashing import md5_long_sql

    counts, case = _langid_fragments()
    slot = f"{md5_long_sql('doc_id::VARCHAR', 'sample')} % 100"
    rate = "CASE " + " ".join(
        f"WHEN lang_pred = '{lg}' THEN {pct}" for lg, pct in SAMPLE_RATES.items()
    ) + " ELSE 100 END"
    return f"""
WITH t AS (SELECT doc_id, text, {TOKS} AS toks FROM documents),
s AS (SELECT doc_id, {counts} FROM t),
l AS (SELECT doc_id, {case} AS lang_pred FROM s),
h AS (SELECT doc_id, lang_pred, ({slot})::BIGINT AS sample_slot FROM l)
SELECT doc_id, lang_pred, sample_slot FROM h
WHERE sample_slot < {rate}
ORDER BY doc_id
"""


SQL_CORPUS_SAMPLE = _corpus_sample_sql()


def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination screen: training docs sharing ≥1 distinct
    word 5-gram with the held-out benchmark slice (doc_id % 20 == 0)."""
    from dataplatform_cdc_pipeline_spark.operators.corpus import contamination_pairs

    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    train = docs.filter(F.col("doc_id") % 20 != 0)
    return contamination_pairs(train, bench, n=5)


# 5-gram shingles: i ranges over max(len-4, 1) starts (short docs → 1)
_SHINGLES5 = (
    "list_transform(range(1, greatest(len(toks) - 4, 1) + 1), "
    "i -> array_to_string(toks[i:i+4], ' '))"
)

SQL_CONTAMINATION_CHECK = f"""
WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
g AS (SELECT doc_id,
             list_distinct(list_transform({_SHINGLES5}, s -> {MD5L.format(x="s")})) AS gh
      FROM t),
e AS (SELECT doc_id, unnest(gh) AS g FROM g),
b AS (SELECT doc_id AS bench_id, g FROM e WHERE doc_id % 20 = 0),
tr AS (SELECT doc_id AS train_id, g FROM e WHERE doc_id % 20 != 0)
SELECT train_id, bench_id, count(*) AS shared_ngrams
FROM tr JOIN b USING (g)
GROUP BY train_id, bench_id
HAVING count(*) >= 1
ORDER BY train_id, bench_id
"""


def q_multimodal_frame_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan (pure relational sequence + explode; the
    per-frame decode would run in extract_features afterward)."""
    from dataplatform_cdc_pipeline_spark.operators.multimodal import (
        frame_sample_plan,
        synthesize_assets,
    )

    assets = synthesize_assets(spark, n=128)
    return frame_sample_plan(assets, every_ms=1000).select(
        "asset_id", F.col("sample_ms").cast("long").alias("sample_ms")
    )


SQL_MULTIMODAL_FRAME_PLAN = """
WITH ids AS (SELECT unnest(range(128)) AS asset_id),
v AS (SELECT asset_id, 1000 * ((asset_id % 7)::INT + 1) AS duration_ms
      FROM ids WHERE (asset_id % 3) = 2)
SELECT asset_id, unnest(range(0, duration_ms, 1000))::BIGINT AS sample_ms FROM v
"""


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image resize plumbing end-to-end: aspect-preserving integer fit into
    a 96×96 box over the image subset, Arrow-batched map-only transform.
    The stub 'resize' emits sha256(payload_hex || geometry), replayable by
    the DuckDB oracle (real codecs absent — multimodal.fake_resize)."""
    from dataplatform_cdc_pipeline_spark.operators.multimodal import (
        resize_images,
        synthesize_assets,
    )

    assets = synthesize_assets(spark, n=128)
    return resize_images(assets, 96, 96).select(
        "asset_id",
        "old_width",
        "old_height",
        "new_width",
        "new_height",
        F.lower(F.hex("payload")).alias("resized_hash"),
    )


SQL_MULTIMODAL_RESIZE = """
WITH ids AS (SELECT unnest(range(128)) AS asset_id),
a AS (
  SELECT asset_id,
         repeat(sha256('asset' || asset_id), (asset_id % 5)::INT + 1) AS payload_hex,
         (64 + asset_id)::INT AS w, (48 + asset_id)::INT AS h
  FROM ids WHERE (asset_id % 3) = 0),
g AS (
  SELECT asset_id, w AS old_width, h AS old_height, payload_hex,
         CASE WHEN w <= 96 AND h <= 96 THEN w
              WHEN w * 96 >= h * 96 THEN 96
              ELSE greatest(1, (w * 96) // h) END::INT AS new_width,
         CASE WHEN w <= 96 AND h <= 96 THEN h
              WHEN w * 96 >= h * 96 THEN greatest(1, (h * 96) // w)
              ELSE 96 END::INT AS new_height
  FROM a)
SELECT asset_id, old_width, old_height, new_width, new_height,
       sha256(payload_hex || 'x' || new_width || 'x' || new_height) AS resized_hash
FROM g ORDER BY asset_id
"""


def q_multimodal_audio_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio segmentation plan: 2500 ms windows every 1000 ms (overlapping)
    with a tail-anchored final window — pure relational, decoder-free
    (multimodal.audio_segment_plan). 2500/1000 deliberately exercises the
    non-hop-aligned tail anchor."""
    from dataplatform_cdc_pipeline_spark.operators.multimodal import (
        audio_segment_plan,
        synthesize_assets,
    )

    assets = synthesize_assets(spark, n=128)
    return audio_segment_plan(assets, segment_ms=2500, hop_ms=1000)


SQL_MULTIMODAL_AUDIO_SEGMENTS = """
WITH ids AS (SELECT unnest(range(128)) AS asset_id),
v AS (SELECT asset_id, 1000 * ((asset_id % 7)::INT + 1) AS dur
      FROM ids WHERE (asset_id % 3) = 1),
s AS (SELECT asset_id, dur, greatest(dur - 2500, 0) AS last_start FROM v),
st AS (
  SELECT asset_id, dur,
         unnest(list_distinct(list_append(range(0, last_start + 1, 1000), last_start))) AS start_ms
  FROM s)
SELECT asset_id, start_ms::INT AS start_ms, least(start_ms + 2500, dur)::INT AS end_ms
FROM st ORDER BY asset_id, start_ms
"""


def q_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters: line duplication + n-gram character
    coverage, with a composite keep flag (operators.text_analysis.
    repetition_stats_frame)."""
    from dataplatform_cdc_pipeline_spark.operators.text_analysis import repetition_stats_frame

    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    return repetition_stats_frame(docs)


SQL_GOPHER_REPETITION = f"""
WITH base AS (
  SELECT doc_id, length(text)::BIGINT AS n_chars,
         list_filter(string_split(text, chr(10)), l -> l != '') AS lines,
         {TOKS} AS words
  FROM documents
),
line_counts AS (
  SELECT doc_id, line, count(*) AS cnt
  FROM (SELECT doc_id, unnest(lines) AS line FROM base)
  GROUP BY doc_id, line
),
line_stats AS (
  SELECT doc_id, sum(cnt) AS n_lines, count(*) AS n_distinct_lines,
         sum(CASE WHEN cnt > 1 THEN length(line) * cnt ELSE 0 END) AS dup_line_chars
  FROM line_counts GROUP BY doc_id
),
g2 AS (
  SELECT doc_id, max(length(gram) * cnt) AS top_2gram_chars FROM (
    SELECT doc_id, gram, count(*) AS cnt FROM (
      SELECT b.doc_id, array_to_string(b.words[i:i+1], ' ') AS gram
      FROM base b, UNNEST(range(1, len(b.words))) AS t(i))
    GROUP BY doc_id, gram)
  GROUP BY doc_id
),
g5 AS (
  SELECT doc_id,
         sum(CASE WHEN cnt > 1 THEN length(gram) * cnt ELSE 0 END) AS dup_5gram_chars
  FROM (
    SELECT doc_id, gram, count(*) AS cnt FROM (
      SELECT b.doc_id, array_to_string(b.words[i:i+4], ' ') AS gram
      FROM base b, UNNEST(range(1, len(b.words) - 3)) AS t(i))
    GROUP BY doc_id, gram)
  GROUP BY doc_id
),
j AS (
  SELECT b.doc_id,
         coalesce(ls.n_lines, 0)::BIGINT AS n_lines,
         floor(coalesce((ls.n_lines - ls.n_distinct_lines) * 1.0 / nullif(ls.n_lines, 0), 0.0)
               * 10000.0) / 10000.0 AS dup_line_frac,
         floor(coalesce(ls.dup_line_chars * 1.0 / nullif(b.n_chars, 0), 0.0)
               * 10000.0) / 10000.0 AS dup_line_char_frac,
         floor(coalesce(g2.top_2gram_chars * 1.0 / nullif(b.n_chars, 0), 0.0)
               * 10000.0) / 10000.0 AS top_2gram_char_frac,
         floor(coalesce(g5.dup_5gram_chars * 1.0 / nullif(b.n_chars, 0), 0.0)
               * 10000.0) / 10000.0 AS dup_5gram_char_frac
  FROM base b
  LEFT JOIN line_stats ls ON b.doc_id = ls.doc_id
  LEFT JOIN g2 ON b.doc_id = g2.doc_id
  LEFT JOIN g5 ON b.doc_id = g5.doc_id
)
SELECT *,
       (dup_line_frac <= 0.30 AND dup_line_char_frac <= 0.30
        AND top_2gram_char_frac <= 0.20 AND dup_5gram_char_frac <= 0.15) AS keep
FROM j ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# int8 scalar quantization (operators/quantization.py)
# ---------------------------------------------------------------------------


def q_embedding_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric top-k over the int8-quantized corpus: per-dim scales are
    an index artifact (d ints), codes are sign·floor(|m|·127/M_d), the
    score is an exact integer dot of codes with the full-precision query
    micros. The serving layout that cuts corpus bytes 4× at 100 TB."""
    from dataplatform_cdc_pipeline_spark.operators.quantization import sq8_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return sq8_topk(emb, queries, k=5)


def q_sq8_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the int8 asymmetric index vs the exact-cosine ground
    truth — the compression loss measured, not assumed (same harness shape
    as ann_recall_eval). Both rankings run as their ordinary operators;
    recall is a relational two-join fold."""
    from dataplatform_cdc_pipeline_spark.operators.quantization import sq8_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    # e feeds n_exact AND the hit semi-join — materialize the ≤50-row
    # list so brute force runs ONCE (r12 optimization, guide §1.2)
    e = (
        brute_force_topk(emb, queries, k=5)
        .select("query_id", "nbr_id")
        .localCheckpoint(eager=True)
    )
    a = sq8_topk(emb, queries, k=5).select("query_id", "nbr_id")
    n_exact = e.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    n_hit = (
        e.join(a, ["query_id", "nbr_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return n_exact.join(n_hit, "query_id", "left").select(
        "query_id",
        "n_exact",
        F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
        (
            F.floor(
                F.coalesce("n_hit", F.lit(0)).cast("double")
                / F.col("n_exact").cast("double")
                * F.lit(1_000_000.0)
            )
            / F.lit(1_000_000.0)
        ).alias("recall_at_5"),
    )


def q_embedding_ivf_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FAISS's IVF,SQ8 layout composed from this engine's parts
    (operators/quantization.ivf_sq8_topk): full-precision centroid
    routing at nprobe=2, int8 asymmetric-integer scoring within the
    probed cells — compressed storage AND partial reads, still
    hash-oracle-able end to end."""
    from dataplatform_cdc_pipeline_spark.operators.quantization import ivf_sq8_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return ivf_sq8_topk(emb, queries, k=5, nprobe=2)


SQL_EMBEDDING_IVF_SQ8 = """
WITH v AS (
  SELECT vec_id, label AS cell, list_transform(embedding, x -> x::DOUBLE) AS vec
  FROM embeddings),
u AS (
  SELECT cell, p.pos, vec[p.pos] AS x
  FROM v, (SELECT unnest(range(1, 65)) AS pos) p),
cm AS (SELECT cell, pos, avg(x) AS a FROM u GROUP BY cell, pos),
cent AS (SELECT cell, list(a ORDER BY pos) AS centroid FROM cm GROUP BY cell),
qv AS (SELECT vec_id AS query_id, vec FROM v WHERE vec_id < 10),
routed AS (
  SELECT query_id, cell FROM (
    SELECT q.query_id, c.cell,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY list_dot_product(q.vec, c.centroid) /
                      (sqrt(list_dot_product(q.vec, q.vec)) *
                       sqrt(list_dot_product(c.centroid, c.centroid))) DESC,
                      c.cell ASC) AS rk
    FROM qv q CROSS JOIN cent c) WHERE rk <= 2),
m AS (
  SELECT vec_id, pos,
         CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) AS mv
  FROM (SELECT vec_id, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS pos FROM embeddings)),
scale AS (SELECT pos, max(abs(mv)) AS mx FROM m GROUP BY pos),
codes AS (
  SELECT vec_id, m.pos,
         CASE WHEN s.mx = 0 THEN 0
              ELSE (CASE WHEN mv < 0 THEN -1 ELSE 1 END)
                   * CAST(floor(abs(mv) * 127.0 / s.mx) AS BIGINT) END AS code
  FROM m JOIN scale s ON m.pos = s.pos),
qm AS (SELECT vec_id AS query_id, pos, mv FROM m WHERE vec_id < 10),
cand AS (
  SELECT r.query_id, cv.vec_id AS nbr_id
  FROM routed r JOIN v cv ON r.cell = cv.cell AND cv.vec_id <> r.query_id),
s AS (
  SELECT cand.query_id, cand.nbr_id,
         CAST(SUM(c.code * qm.mv) AS BIGINT) AS score
  FROM cand
  JOIN codes c ON c.vec_id = cand.nbr_id
  JOIN qm ON qm.query_id = cand.query_id AND qm.pos = c.pos
  GROUP BY 1, 2),
ranked AS (
  SELECT query_id, nbr_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, nbr_id) AS rk
  FROM s)
SELECT query_id, rk, nbr_id, score FROM ranked WHERE rk <= 5
ORDER BY query_id, rk
"""


def q_incremental_ivf_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN at DELTA ingest cost (operators/ivf_index.py — the IVF,SQ8
    mirror of the persisted LSH dedup index): centroids + SQ8 scales are
    frozen at bootstrap, each batch encodes only its own rows into a
    batch/cell-partitioned code table, and probes read nprobe cells of
    the STORED index. Lifecycle: bootstrap on the base corpus (vec_id %
    10 ∉ {3,7}) → probe (hits base only) → add batch b1 twice (replay is
    idempotent via dynamic partition overwrite) → probe (b1 hits can
    ONLY come from the index — its raw vectors are never re-supplied) →
    add b2 → probe. Returns every phase's top-5 with the neighbor's
    batch tag; bit-equal to from-scratch ivf_sq8_topk fed the same
    frozen artifacts (pinned in tests/test_ivf_index.py)."""
    import tempfile

    from dataplatform_cdc_pipeline_spark import bench_phases
    from dataplatform_cdc_pipeline_spark.operators.ivf_index import (
        IncrementalIvfIndex,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter((F.col("vec_id") % 10 != 3) & (F.col("vec_id") % 10 != 7))
    b1 = emb.filter(F.col("vec_id") % 10 == 3)
    b2 = emb.filter(F.col("vec_id") % 10 == 7)
    queries = emb.filter(F.col("vec_id") < 5)
    idx = IncrementalIvfIndex(spark, tempfile.mkdtemp(prefix="ivf_ix_q_") + "/ix")
    idx.bootstrap("base", base)
    bench_phases.mark("bootstrap")
    p1 = (
        idx.probe(queries, k=5, nprobe=2)
        .withColumn("phase", F.lit(1))
        .localCheckpoint(eager=True)
    )
    bench_phases.mark("probe")
    idx.add_batch("b1", b1)
    idx.add_batch("b1", b1)  # replay — rewrites exactly its own partitions
    bench_phases.mark("delta_adds")  # accumulates (b1 + replay, then b2)
    p2 = (
        idx.probe(queries, k=5, nprobe=2)
        .withColumn("phase", F.lit(2))
        .localCheckpoint(eager=True)
    )
    bench_phases.mark("probe")
    idx.add_batch("b2", b2)
    bench_phases.mark("delta_adds")
    p3 = idx.probe(queries, k=5, nprobe=2).withColumn("phase", F.lit(3))
    return (
        p1.unionByName(p2)
        .unionByName(p3)
        .select("phase", "query_id", "rk", "nbr_id", "nbr_batch", "score")
    )


SQL_INCREMENTAL_IVF_BATCH = """
WITH v AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> x::DOUBLE) AS vec,
         CASE WHEN vec_id % 10 = 3 THEN 1
              WHEN vec_id % 10 = 7 THEN 2 ELSE 0 END AS bord
  FROM embeddings),
m AS (
  SELECT vec_id, pos,
         CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) AS mv
  FROM (SELECT vec_id, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS pos FROM embeddings)),
-- frozen artifacts, learned over the BOOTSTRAP rows only (bord = 0):
-- exact-integer centroids (floored micro-unit means) + SQ8 scales
cm AS (
  SELECT b.label AS cell, m.pos, CAST(floor(sum(m.mv) / count(*)) AS DOUBLE) AS c
  FROM m JOIN (SELECT vec_id, label FROM v WHERE bord = 0) b USING (vec_id)
  GROUP BY 1, 2),
cent AS (SELECT cell, list(c ORDER BY pos) AS centroid FROM cm GROUP BY cell),
scale AS (
  SELECT pos, max(abs(mv)) AS mx
  FROM m JOIN (SELECT vec_id FROM v WHERE bord = 0) b USING (vec_id)
  GROUP BY pos),
codes AS (
  SELECT vec_id, m.pos,
         CASE WHEN s.mx = 0 THEN 0
              ELSE (CASE WHEN mv < 0 THEN -1 ELSE 1 END)
                   * CAST(floor(abs(mv) * 127.0 / s.mx) AS BIGINT) END AS code
  FROM m JOIN scale s ON m.pos = s.pos),
-- frozen-centroid assignment of EVERY row (rank-1 of the probe order)
acell AS (
  SELECT vec_id, bord, cell FROM (
    SELECT r.vec_id, r.bord, c.cell,
           row_number() OVER (
             PARTITION BY r.vec_id
             ORDER BY list_dot_product(r.vec, c.centroid) /
                      (sqrt(list_dot_product(r.vec, r.vec)) *
                       sqrt(list_dot_product(c.centroid, c.centroid))) DESC,
                      c.cell ASC) AS rk
    FROM v r CROSS JOIN cent c) WHERE rk = 1),
qv AS (SELECT vec_id AS query_id, vec FROM v WHERE vec_id < 5),
routed AS (
  SELECT query_id, cell FROM (
    SELECT q.query_id, c.cell,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY list_dot_product(q.vec, c.centroid) /
                      (sqrt(list_dot_product(q.vec, q.vec)) *
                       sqrt(list_dot_product(c.centroid, c.centroid))) DESC,
                      c.cell ASC) AS rk
    FROM qv q CROSS JOIN cent c) WHERE rk <= 2),
qm AS (SELECT vec_id AS query_id, pos, mv FROM m WHERE vec_id < 5),
ph AS (SELECT unnest([1, 2, 3]) AS phase),
-- phase p sees batches ingested so far: bord <= p - 1
cand AS (
  SELECT ph.phase, r.query_id, a.vec_id AS nbr_id, a.bord
  FROM ph CROSS JOIN routed r
  JOIN acell a ON r.cell = a.cell AND a.vec_id <> r.query_id
  WHERE a.bord <= ph.phase - 1),
s AS (
  SELECT cand.phase, cand.query_id, cand.nbr_id, max(cand.bord) AS bord,
         CAST(SUM(c.code * qm.mv) AS BIGINT) AS score
  FROM cand
  JOIN codes c ON c.vec_id = cand.nbr_id
  JOIN qm ON qm.query_id = cand.query_id AND qm.pos = c.pos
  GROUP BY 1, 2, 3),
ranked AS (
  SELECT phase, query_id, nbr_id, bord, score,
         row_number() OVER (PARTITION BY phase, query_id
                            ORDER BY score DESC, nbr_id) AS rk
  FROM s)
SELECT phase, query_id, rk, nbr_id,
       CASE bord WHEN 1 THEN 'b1' WHEN 2 THEN 'b2' ELSE 'base' END AS nbr_batch,
       score
FROM ranked WHERE rk <= 5
ORDER BY phase, query_id, rk
"""


def q_ivf_refit_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The refit escape hatch of the persisted IVF,SQ8 index as one
    oracle-gated lifecycle: bootstrap on the base corpus (vec_id % 10 ∉
    {3,7}) → probe → a DRIFTED batch (b1 scaled ×3, exceeding the frozen
    per-dimension range) makes ``needs_refit`` fire (signal row) and, if
    added anyway, produces the documented unclamped |codes| > 127 probe
    scores (phase 2) → ``refit`` re-learns centroids + scales over the
    accumulated corpus and re-encodes every row (batch tag 'refit1') →
    the drift signal clears (signal row) and phase-3 probes rank by the
    re-learned artifacts. The oracle rebuilds BOTH artifact sets
    relationally — a refit that forgot to re-encode old rows, kept stale
    scales, or lost the drifted batch diverges the hash."""
    from dataplatform_cdc_pipeline_spark.operators.ivf_index import (
        IncrementalIvfIndex,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter((F.col("vec_id") % 10 != 3) & (F.col("vec_id") % 10 != 7))
    drifted = emb.filter(F.col("vec_id") % 10 == 3).select(
        "vec_id",
        F.transform("embedding", lambda x: x * F.lit(3.0)).alias("embedding"),
        "label",
    )
    queries = emb.filter(F.col("vec_id") < 5)
    idx = IncrementalIvfIndex(spark, tempfile.mkdtemp(prefix="ivf_refit_q_") + "/ix")
    idx.bootstrap("base", base)
    bench_phases.mark("bootstrap")

    def probe(phase: int) -> DataFrame:
        return (
            idx.probe(queries, k=5, nprobe=2)
            .select(
                F.lit(phase).alias("phase"),
                F.lit("probe").alias("kind"),
                "query_id",
                "rk",
                "nbr_id",
                "nbr_batch",
                "score",
            )
            .localCheckpoint(eager=True)
        )

    p1 = probe(1)
    bench_phases.mark("probe")
    sig_drift_pre = int(idx.needs_refit(drifted))  # 1: out of frozen range
    sig_base_pre = int(idx.needs_refit(base))  # 0: in range by construction
    bench_phases.mark("drift_check")
    idx.add_batch("b1", drifted)  # unclamped honesty: |codes| > 127
    bench_phases.mark("delta_add")
    p2 = probe(2)
    bench_phases.mark("probe")
    idx.refit("refit1", base.unionByName(drifted))
    bench_phases.mark("refit")
    sig_drift_post = int(idx.needs_refit(drifted))  # 0: scales re-learned
    bench_phases.mark("drift_check")
    p3 = probe(3)
    signals = spark.createDataFrame(
        [
            (2, "needs_refit_drifted", sig_drift_pre),
            (2, "needs_refit_base", sig_base_pre),
            (3, "needs_refit_drifted_post", sig_drift_post),
        ],
        "phase int, kind string, score long",
    ).select(
        "phase",
        "kind",
        F.lit(None).cast("long").alias("query_id"),
        F.lit(None).cast("int").alias("rk"),
        F.lit(None).cast("long").alias("nbr_id"),
        F.lit(None).cast("string").alias("nbr_batch"),
        "score",
    )
    return p1.unionByName(p2).unionByName(p3).unionByName(signals)


#: Oracle: the SQL_INCREMENTAL_IVF_BATCH machinery with TWO artifact
#: sets — A learned over the bootstrap rows, B re-learned over the full
#: corpus (the refit) — and the drift signal as max-per-dimension range
#: comparisons against each scale set (frozen_mx > 0 matches
#: scale_drift's null-ratio convention for zero dimensions).
SQL_IVF_REFIT_LIFECYCLE = """
WITH v AS (
  SELECT vec_id, label,
         CASE WHEN vec_id % 10 = 3
              THEN list_transform(embedding, x -> x::DOUBLE * 3.0)
              ELSE list_transform(embedding, x -> x::DOUBLE) END AS vec,
         CASE WHEN vec_id % 10 = 3 THEN 1 ELSE 0 END AS bord
  FROM embeddings WHERE vec_id % 10 != 7),
m AS (
  SELECT vec_id, pos, CAST(round(x * 1000000.0) AS BIGINT) AS mv
  FROM (SELECT vec_id, unnest(vec) AS x,
               generate_subscripts(vec, 1) AS pos FROM v)),
-- artifacts A: frozen at bootstrap (bord = 0 rows only)
cma AS (
  SELECT b.label AS cell, m.pos, CAST(floor(sum(m.mv) / count(*)) AS DOUBLE) AS c
  FROM m JOIN (SELECT vec_id, label FROM v WHERE bord = 0) b USING (vec_id)
  GROUP BY 1, 2),
centa AS (SELECT cell, list(c ORDER BY pos) AS centroid FROM cma GROUP BY cell),
scalea AS (
  SELECT pos, max(abs(mv)) AS mx
  FROM m JOIN (SELECT vec_id FROM v WHERE bord = 0) b USING (vec_id)
  GROUP BY pos),
codesa AS (
  SELECT vec_id, m.pos,
         CASE WHEN s.mx = 0 THEN 0
              ELSE (CASE WHEN mv < 0 THEN -1 ELSE 1 END)
                   * CAST(floor(abs(mv) * 127.0 / s.mx) AS BIGINT) END AS code
  FROM m JOIN scalea s ON m.pos = s.pos),
-- artifacts B: the refit re-learns BOTH over the accumulated corpus
cmb AS (
  SELECT b.label AS cell, m.pos, CAST(floor(sum(m.mv) / count(*)) AS DOUBLE) AS c
  FROM m JOIN (SELECT vec_id, label FROM v) b USING (vec_id)
  GROUP BY 1, 2),
centb AS (SELECT cell, list(c ORDER BY pos) AS centroid FROM cmb GROUP BY cell),
scaleb AS (SELECT pos, max(abs(mv)) AS mx FROM m GROUP BY pos),
codesb AS (
  SELECT vec_id, m.pos,
         CASE WHEN s.mx = 0 THEN 0
              ELSE (CASE WHEN mv < 0 THEN -1 ELSE 1 END)
                   * CAST(floor(abs(mv) * 127.0 / s.mx) AS BIGINT) END AS code
  FROM m JOIN scaleb s ON m.pos = s.pos),
acella AS (
  SELECT vec_id, bord, cell FROM (
    SELECT r.vec_id, r.bord, c.cell,
           row_number() OVER (
             PARTITION BY r.vec_id
             ORDER BY list_dot_product(r.vec, c.centroid) /
                      (sqrt(list_dot_product(r.vec, r.vec)) *
                       sqrt(list_dot_product(c.centroid, c.centroid))) DESC,
                      c.cell ASC) AS rk
    FROM v r CROSS JOIN centa c) WHERE rk = 1),
acellb AS (
  SELECT vec_id, bord, cell FROM (
    SELECT r.vec_id, r.bord, c.cell,
           row_number() OVER (
             PARTITION BY r.vec_id
             ORDER BY list_dot_product(r.vec, c.centroid) /
                      (sqrt(list_dot_product(r.vec, r.vec)) *
                       sqrt(list_dot_product(c.centroid, c.centroid))) DESC,
                      c.cell ASC) AS rk
    FROM v r CROSS JOIN centb c) WHERE rk = 1),
-- queries are UNSCALED (the probe frame comes from the raw table)
qv AS (
  SELECT vec_id AS query_id, list_transform(embedding, x -> x::DOUBLE) AS vec
  FROM embeddings WHERE vec_id < 5),
qm AS (
  SELECT vec_id AS query_id, pos, CAST(round(x::DOUBLE * 1000000.0) AS BIGINT) AS mv
  FROM (SELECT vec_id, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings WHERE vec_id < 5)),
routeda AS (
  SELECT query_id, cell FROM (
    SELECT q.query_id, c.cell,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY list_dot_product(q.vec, c.centroid) /
                      (sqrt(list_dot_product(q.vec, q.vec)) *
                       sqrt(list_dot_product(c.centroid, c.centroid))) DESC,
                      c.cell ASC) AS rk
    FROM qv q CROSS JOIN centa c) WHERE rk <= 2),
routedb AS (
  SELECT query_id, cell FROM (
    SELECT q.query_id, c.cell,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY list_dot_product(q.vec, c.centroid) /
                      (sqrt(list_dot_product(q.vec, q.vec)) *
                       sqrt(list_dot_product(c.centroid, c.centroid))) DESC,
                      c.cell ASC) AS rk
    FROM qv q CROSS JOIN centb c) WHERE rk <= 2),
-- phase 1: base rows only; phase 2: base + drifted; both artifacts A
cand12 AS (
  SELECT ph.phase, r.query_id, a.vec_id AS nbr_id, a.bord
  FROM (SELECT unnest([1, 2]) AS phase) ph
  CROSS JOIN routeda r
  JOIN acella a ON r.cell = a.cell AND a.vec_id <> r.query_id
  WHERE a.bord <= ph.phase - 1),
s12 AS (
  SELECT c12.phase, c12.query_id, c12.nbr_id,
         CASE c12.bord WHEN 1 THEN 'b1' ELSE 'base' END AS nbr_batch,
         CAST(SUM(c.code * qm.mv) AS BIGINT) AS score
  FROM cand12 c12
  JOIN codesa c ON c.vec_id = c12.nbr_id
  JOIN qm ON qm.query_id = c12.query_id AND qm.pos = c.pos
  GROUP BY 1, 2, 3, 4),
-- phase 3: the refit re-encoded everything under one batch tag
cand3 AS (
  SELECT r.query_id, a.vec_id AS nbr_id
  FROM routedb r JOIN acellb a ON r.cell = a.cell AND a.vec_id <> r.query_id),
s3 AS (
  SELECT 3 AS phase, cand3.query_id, cand3.nbr_id, 'refit1' AS nbr_batch,
         CAST(SUM(c.code * qm.mv) AS BIGINT) AS score
  FROM cand3
  JOIN codesb c ON c.vec_id = cand3.nbr_id
  JOIN qm ON qm.query_id = cand3.query_id AND qm.pos = c.pos
  GROUP BY 1, 2, 3, 4),
probes AS (
  SELECT phase, 'probe' AS kind, query_id, rk, nbr_id, nbr_batch, score FROM (
    SELECT *, row_number() OVER (PARTITION BY phase, query_id
                                 ORDER BY score DESC, nbr_id) AS rk
    FROM (SELECT * FROM s12 UNION ALL SELECT * FROM s3))
  WHERE rk <= 5),
driftm AS (
  SELECT pos, max(abs(mv)) AS dmx
  FROM m JOIN (SELECT vec_id FROM v WHERE bord = 1) d USING (vec_id)
  GROUP BY pos),
basem AS (
  SELECT pos, max(abs(mv)) AS bmx
  FROM m JOIN (SELECT vec_id FROM v WHERE bord = 0) d USING (vec_id)
  GROUP BY pos),
signals AS (
  SELECT 2 AS phase, 'needs_refit_drifted' AS kind,
         CAST(NULL AS BIGINT) AS query_id, CAST(NULL AS INT) AS rk,
         CAST(NULL AS BIGINT) AS nbr_id, CAST(NULL AS VARCHAR) AS nbr_batch,
         (CASE WHEN EXISTS (SELECT 1 FROM driftm d JOIN scalea s USING (pos)
                            WHERE s.mx > 0 AND d.dmx > s.mx)
               THEN 1 ELSE 0 END)::BIGINT AS score
  UNION ALL
  SELECT 2, 'needs_refit_base', NULL, NULL, NULL, NULL,
         (CASE WHEN EXISTS (SELECT 1 FROM basem b JOIN scalea s USING (pos)
                            WHERE s.mx > 0 AND b.bmx > s.mx)
               THEN 1 ELSE 0 END)::BIGINT
  UNION ALL
  SELECT 3, 'needs_refit_drifted_post', NULL, NULL, NULL, NULL,
         (CASE WHEN EXISTS (SELECT 1 FROM driftm d JOIN scaleb s USING (pos)
                            WHERE s.mx > 0 AND d.dmx > s.mx)
               THEN 1 ELSE 0 END)::BIGINT)
SELECT * FROM probes
UNION ALL
SELECT phase, kind, query_id, rk, nbr_id, nbr_batch, score FROM signals
ORDER BY phase, kind, query_id, rk
"""


def q_ivf_sq8_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the composed IVF,SQ8 index vs exact cosine — the last
    cell of the ANN evaluation matrix (LSH, IVF-by-nprobe, flat SQ8, and
    now the composition each deployment actually runs). Both rankings run
    as their ordinary operators; recall is the relational two-join fold."""
    from dataplatform_cdc_pipeline_spark.operators.quantization import ivf_sq8_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    # e feeds n_exact AND the hit semi-join — materialize the ≤50-row
    # list so brute force runs ONCE (r12 optimization, guide §1.2)
    e = (
        brute_force_topk(emb, queries, k=5)
        .select("query_id", "nbr_id")
        .localCheckpoint(eager=True)
    )
    a = ivf_sq8_topk(emb, queries, k=5, nprobe=2).select("query_id", "nbr_id")
    n_exact = e.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    n_hit = (
        e.join(a, ["query_id", "nbr_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return n_exact.join(n_hit, "query_id", "left").select(
        "query_id",
        "n_exact",
        F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
        (
            F.floor(
                F.coalesce("n_hit", F.lit(0)).cast("double")
                / F.col("n_exact").cast("double")
                * F.lit(1_000_000.0)
            )
            / F.lit(1_000_000.0)
        ).alias("recall_at_5"),
    )


# approx side = the IVF,SQ8 oracle's CTE chain cut at rk<=5; exact side =
# the brute-force cosine CTEs shared by the other recall harnesses. The
# composed oracle keeps the full IVF,SQ8 chain and continues its WITH
# list in place of the final SELECT (comma splice on the `ranked` CTE).
_IVF_SQ8_FINAL = (
    "  FROM s)\nSELECT query_id, rk, nbr_id, score FROM ranked WHERE rk <= 5\n"
    "ORDER BY query_id, rk"
)
assert _IVF_SQ8_FINAL in SQL_EMBEDDING_IVF_SQ8
SQL_IVF_SQ8_RECALL_EVAL = SQL_EMBEDDING_IVF_SQ8.replace(_IVF_SQ8_FINAL, """  FROM s),
approx AS (SELECT query_id, nbr_id FROM ranked WHERE rk <= 5),
md AS (
  SELECT a.vec_id AS query_id, b.vec_id AS nbr_id,
         floor(list_dot_product(a.dvec, b.dvec) /
               (sqrt(list_dot_product(a.dvec, a.dvec)) *
                sqrt(list_dot_product(b.dvec, b.dvec))) * 1000000.0) / 1000000.0
           AS cosine
  FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dvec
        FROM embeddings WHERE vec_id < 10) a
  JOIN (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dvec
        FROM embeddings) b ON a.vec_id <> b.vec_id),
exact AS (SELECT query_id, nbr_id FROM (
            SELECT query_id, nbr_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, nbr_id) AS rk
            FROM md) WHERE rk <= 5),
ne AS (SELECT query_id, count(*) AS n_exact FROM exact GROUP BY query_id),
nh AS (SELECT e.query_id, count(*) AS n_hit
       FROM exact e JOIN approx a ON e.query_id = a.query_id AND e.nbr_id = a.nbr_id
       GROUP BY e.query_id)
SELECT ne.query_id, ne.n_exact, coalesce(nh.n_hit, 0) AS n_hit,
       floor(coalesce(nh.n_hit, 0) * 1.0 / ne.n_exact * 1000000.0) / 1000000.0
         AS recall_at_5
FROM ne LEFT JOIN nh ON ne.query_id = nh.query_id
ORDER BY ne.query_id
""")


# Shared SQ8 CTE chain: micros (exploded integer micro-units) → per-dim
# scales → codes → asymmetric integer-dot scores → ranked top-5. The
# oracle works in EXPLODED relational form (join on pos) where Spark uses
# array zip_with — same exact bigint arithmetic, different shapes.
_SQ8_CTES = """m AS (
  SELECT vec_id, pos,
         CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) AS mv
  FROM (SELECT vec_id, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS pos FROM embeddings)),
scale AS (SELECT pos, max(abs(mv)) AS mx FROM m GROUP BY pos),
codes AS (
  SELECT vec_id, m.pos,
         CASE WHEN s.mx = 0 THEN 0
              ELSE (CASE WHEN mv < 0 THEN -1 ELSE 1 END)
                   * CAST(floor(abs(mv) * 127.0 / s.mx) AS BIGINT) END AS code
  FROM m JOIN scale s ON m.pos = s.pos),
q AS (SELECT vec_id AS query_id, pos, mv AS qm FROM m WHERE vec_id < 10),
s AS (SELECT q.query_id, c.vec_id AS nbr_id,
             CAST(SUM(c.code * q.qm) AS BIGINT) AS score
      FROM codes c JOIN q ON c.pos = q.pos AND c.vec_id <> q.query_id
      GROUP BY 1, 2),
r AS (SELECT query_id, nbr_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, nbr_id) AS rk
      FROM s)"""

SQL_EMBEDDING_SQ8_TOPK = f"""
WITH {_SQ8_CTES}
SELECT query_id, rk, nbr_id, score FROM r WHERE rk <= 5
ORDER BY query_id, rk
"""

SQL_SQ8_RECALL_EVAL = f"""
WITH {_SQ8_CTES},
approx AS (SELECT query_id, nbr_id FROM r WHERE rk <= 5),
md AS (
  SELECT a.vec_id AS query_id, b.vec_id AS nbr_id,
         floor(list_dot_product(a.vec, b.vec) /
               (sqrt(list_dot_product(a.vec, a.vec)) *
                sqrt(list_dot_product(b.vec, b.vec))) * 1000000.0) / 1000000.0
           AS cosine
  FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        FROM embeddings WHERE vec_id < 10) a
  JOIN (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        FROM embeddings) b ON a.vec_id <> b.vec_id),
exact AS (SELECT query_id, nbr_id FROM (
            SELECT query_id, nbr_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, nbr_id) AS rk
            FROM md) WHERE rk <= 5),
ne AS (SELECT query_id, count(*) AS n_exact FROM exact GROUP BY query_id),
nh AS (SELECT e.query_id, count(*) AS n_hit
       FROM exact e JOIN approx a ON e.query_id = a.query_id AND e.nbr_id = a.nbr_id
       GROUP BY e.query_id)
SELECT ne.query_id, ne.n_exact, coalesce(nh.n_hit, 0) AS n_hit,
       floor(coalesce(nh.n_hit, 0) * 1.0 / ne.n_exact * 1000000.0) / 1000000.0
         AS recall_at_5
FROM ne LEFT JOIN nh ON ne.query_id = nh.query_id
ORDER BY ne.query_id
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------


REGISTRY = {
    q_text_stats: SQL_TEXT_STATS,
    q_text_quality: SQL_TEXT_QUALITY,
    q_text_langid: SQL_TEXT_LANGID,
    q_doc_fingerprint: SQL_DOC_FINGERPRINT,
    q_dedup_exact: SQL_DEDUP_EXACT,
    q_dedup_minhash_lsh: SQL_DEDUP_MINHASH_LSH,
    q_dedup_ngram_jaccard: SQL_DEDUP_NGRAM_JACCARD,
    q_dedup_simhash: SQL_DEDUP_SIMHASH,
    q_dedup_clusters: SQL_DEDUP_CLUSTERS,
    q_training_mix: SQL_TRAINING_MIX,
    q_embedding_topk: SQL_EMBEDDING_TOPK,
    q_embedding_ann_lsh: SQL_EMBEDDING_ANN_LSH,
    q_embedding_ivf_topk: SQL_EMBEDDING_IVF_TOPK,
    q_embedding_ivf_nprobe2: SQL_EMBEDDING_IVF_NPROBE2,
    q_embedding_near_dup: SQL_EMBEDDING_NEAR_DUP,
    q_embedding_dup_clusters: SQL_EMBEDDING_DUP_CLUSTERS,
    q_multimodal_features: SQL_MULTIMODAL_FEATURES,
    q_multimodal_frame_plan: SQL_MULTIMODAL_FRAME_PLAN,
    q_token_counts: SQL_TOKEN_COUNTS,
    q_corpus_sample: SQL_CORPUS_SAMPLE,
    q_contamination_check: SQL_CONTAMINATION_CHECK,
    q_gopher_repetition: SQL_GOPHER_REPETITION,
    q_multimodal_resize: SQL_MULTIMODAL_RESIZE,
    q_multimodal_audio_segments: SQL_MULTIMODAL_AUDIO_SEGMENTS,
    q_dedup_keep_best: SQL_DEDUP_KEEP_BEST,
    q_doc_chunks: SQL_DOC_CHUNKS,
    q_bm25_search: SQL_BM25_SEARCH,
    q_incremental_bm25_batch: SQL_INCREMENTAL_BM25_BATCH,
    q_stream_bm25_index: SQL_STREAM_BM25_INDEX,
    q_bm25_index_erasure: SQL_BM25_INDEX_ERASURE,
    q_unigram_perplexity: SQL_UNIGRAM_PERPLEXITY,
    q_ann_recall_eval: SQL_ANN_RECALL_EVAL,
    q_ivf_recall_curve: SQL_IVF_RECALL_CURVE,
    q_embedding_kmeans: SQL_EMBEDDING_KMEANS,
    q_embedding_ivf_learned: SQL_EMBEDDING_IVF_LEARNED,
    q_semantic_dedup: SQL_SEMANTIC_DEDUP,
    q_embedding_sq8_topk: SQL_EMBEDDING_SQ8_TOPK,
    q_sq8_recall_eval: SQL_SQ8_RECALL_EVAL,
    q_bigram_perplexity: SQL_BIGRAM_PERPLEXITY,
    q_dedup_containment: SQL_DEDUP_CONTAINMENT,
    q_heavy_hitters_cms: SQL_HEAVY_HITTERS_CMS,
    q_embedding_ivf_sq8: SQL_EMBEDDING_IVF_SQ8,
    q_incremental_ivf_batch: SQL_INCREMENTAL_IVF_BATCH,
    q_ivf_refit_lifecycle: SQL_IVF_REFIT_LIFECYCLE,
    q_bpe_learn: SQL_BPE_LEARN,
    q_bpe_encode: SQL_BPE_ENCODE,
    q_ivf_sq8_recall_eval: SQL_IVF_SQ8_RECALL_EVAL,
    q_lsh_recall_eval: SQL_LSH_RECALL_EVAL,
    q_multimodal_packing: SQL_MULTIMODAL_PACKING,
    q_langid_confusion: SQL_LANGID_CONFUSION,
    q_corpus_dedup_funnel: SQL_CORPUS_DEDUP_FUNNEL,
    q_interdoc_repetition: SQL_INTERDOC_REPETITION,
}
