"""Training-data preparation wave: content-defined boilerplate removal,
deterministic weighted sampling, k-anonymity auditing, product
quantization (ADC search + recall), distribution-drift (PSI), seeded
global shuffle into training batches, and per-doc TF-IDF keywords.

Same conventions as queries_llm.py / queries_curation.py: MD5-derived
determinism (functions/hashing.py), exact integer arithmetic wherever an
aggregate feeds the driver's value hash, floor-scaled doubles where a
float (ln) is semantically unavoidable — the float expression is written
IDENTICALLY in both engines so IEEE evaluation lands on the same double.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dataplatform_cdc_pipeline_spark import bench_phases
from dataplatform_cdc_pipeline_spark.functions.hashing import md5_long, md5_long_sql
from dataplatform_cdc_pipeline_spark.operators.chunking import (
    BOILER_FRACTION_DIV,
    BOILER_MIN_DF,
    CDC_MOD,
    boilerplate_strip,
)
from dataplatform_cdc_pipeline_spark.queries_llm import TOKS
from dataplatform_cdc_pipeline_spark.sources.tables import load_table, spread_scan

# ---------------------------------------------------------------------------
# content-defined-chunking boilerplate strip
# ---------------------------------------------------------------------------

#: synthesized footers (the corpus is footer-free) — chosen so the CDC
#: rolling hash places a boundary INSIDE each footer's own-content gram
#: region (verified: footer A flags at token 4, footer B at token 9), so
#: their trailing chunks are offset-independent and hash-identical across
#: every doc that carries the same footer combination.
FOOTER_A = "follow this page and subscribe to our newsletter for weekly updates and offers"
FOOTER_B = "all rights reserved unauthorized reproduction of this material is strictly prohibited worldwide"


def _dirty_docs(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 4 == 0, F.lit(" " + FOOTER_A)).otherwise(
                F.lit("")
            ),
            F.when(F.col("doc_id") % 7 == 0, F.lit(" " + FOOTER_B)).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )


def q_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-content removal with CONTENT-DEFINED chunk boundaries
    (operators/chunking.py) — the CCNet/RefinedWeb-style boilerplate
    strip that fixed-offset windows cannot do, because the injected
    footers start at a different token offset in every document."""
    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    return boilerplate_strip(_dirty_docs(docs))


_DIRTY_SQL = f"""
SELECT doc_id,
       text ||
       CASE WHEN doc_id % 4 = 0 THEN ' {FOOTER_A}' ELSE '' END ||
       CASE WHEN doc_id % 7 = 0 THEN ' {FOOTER_B}' ELSE '' END AS text
FROM documents"""

_GRAM = "concat_ws(' ', t3, t2, t1, tok)"

SQL_BOILERPLATE_STRIP = f"""
WITH dirty AS ({_DIRTY_SQL}),
tok AS (
  SELECT doc_id, unnest({TOKS}) AS tok,
         generate_subscripts({TOKS}, 1) - 1 AS pos
  FROM dirty),
lagged AS (
  SELECT doc_id, pos, tok,
         lag(tok, 3) OVER w AS t3, lag(tok, 2) OVER w AS t2,
         lag(tok, 1) OVER w AS t1
  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
fl AS (
  SELECT doc_id, pos, tok,
         CASE WHEN pos >= 3 AND {md5_long_sql(_GRAM)} % {CDC_MOD} = 0
              THEN 1 ELSE 0 END AS flag
  FROM lagged),
ch AS (
  SELECT doc_id, pos, tok,
         coalesce(SUM(flag) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS chunk_id
  FROM fl),
chunks AS (
  SELECT doc_id, chunk_id, string_agg(tok, ' ' ORDER BY pos) AS chunk_text
  FROM ch GROUP BY 1, 2),
hashed AS (SELECT *, md5(chunk_text) AS h FROM chunks),
dfreq AS (SELECT h, count(DISTINCT doc_id) AS df FROM hashed GROUP BY 1),
nd AS (SELECT count(*) AS n_docs FROM dirty),
tagged AS (
  SELECT c.doc_id, c.chunk_id, c.chunk_text,
         CASE WHEN f.df >= greatest({BOILER_MIN_DF},
                                    floor(n_docs / {BOILER_FRACTION_DIV}))
              THEN 1 ELSE 0 END AS boiler
  FROM hashed c JOIN dfreq f USING (h) CROSS JOIN nd)
SELECT doc_id, count(*) AS n_chunks, sum(boiler)::BIGINT AS n_boiler,
       md5(coalesce(string_agg(CASE WHEN boiler = 0 THEN chunk_text END,
                               ' ' ORDER BY chunk_id), '')) AS cleaned_md5
FROM tagged GROUP BY doc_id
"""

# ---------------------------------------------------------------------------
# deterministic weighted sampling (A-ES / Efraimidis-Spirakis)
# ---------------------------------------------------------------------------

SAMPLE_K = 20
_TWO60 = float(1 << 60)


def q_corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, k=20, weight = n_chars —
    the Efraimidis-Spirakis A-ES scheme (key = ln(u)/w, keep the k
    largest keys), with u derived from md5(doc_id) instead of RNG state
    so every engine/run draws the SAME sample. u = (h+1)/2^60 ∈ (0, 1]
    (h is the 60-bit md5 integer; the /2^60 is a power-of-two division —
    EXACT in binary floating point), and ln(u)/w is evaluated by the
    identical expression in both engines. Plans as TakeOrderedAndProject
    (per-partition heads merged on the driver), not a global sort."""
    docs = load_table(spark, sf_dir, "documents")
    u = (md5_long(F.col("doc_id").cast("string")) + 1).cast("double") / F.lit(_TWO60)
    key_nano = F.floor(
        F.log(u) / F.col("n_chars").cast("double") * F.lit(1e9)
    ).cast("long")
    return (
        docs.select("doc_id", F.col("n_chars").alias("weight"),
                    key_nano.alias("key_nano"))
        .orderBy(F.col("key_nano").desc(), F.col("doc_id"))
        .limit(SAMPLE_K)
    )


SQL_CORPUS_WEIGHTED_SAMPLE = f"""
SELECT doc_id, n_chars AS weight,
       floor(ln((({md5_long_sql('doc_id::VARCHAR')}) + 1)::DOUBLE
                / 1152921504606846976.0)
             / n_chars::DOUBLE * 1000000000.0)::BIGINT AS key_nano
FROM documents
ORDER BY key_nano DESC, doc_id
LIMIT {SAMPLE_K}
"""

# ---------------------------------------------------------------------------
# k-anonymity audit
# ---------------------------------------------------------------------------

K_ANON = 10


def q_pii_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy audit before a corpus ships: group sizes over the
    quasi-identifier pair (nation, market segment) — any group smaller
    than k=10 re-identifies its members (Sweeney's k-anonymity). One
    map-side-combined agg; the violating share is what a release gate
    would check."""
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("group_size"))
        .withColumn(
            "is_violating", (F.col("group_size") < K_ANON).cast("int")
        )
    )


SQL_PII_K_ANONYMITY = f"""
SELECT c_nationkey, c_mktsegment, count(*) AS group_size,
       (count(*) < {K_ANON})::INT AS is_violating
FROM customer GROUP BY 1, 2
"""

# ---------------------------------------------------------------------------
# product quantization: ADC top-k + recall harness
# ---------------------------------------------------------------------------

_PQ_M = 4        # subspaces (64 dims -> 16 per subspace)
_PQ_K = 4        # codes per subspace
_PQ_ITER = 2     # Lloyd iterations per codebook
_PQ_SUBLEN = 16
_PQ_TOPK = 5
_N_QUERY_VECS = 10


def _pq_books(spark: SparkSession, sf_dir: str):
    from dataplatform_cdc_pipeline_spark.operators.pq import pq_fit

    emb = load_table(spark, sf_dir, "embeddings")
    return emb, pq_fit(emb, m=_PQ_M, k=_PQ_K, n_iter=_PQ_ITER)


def q_embedding_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN end to end (operators/pq.py): m=4
    per-subspace codebooks learned by the exact integer k-means, corpus
    encoded to 4 small codes per vector (one scan, zero shuffles), and
    top-5 per query by exact-integer ADC distance. Everything downstream
    of the floor-stable codebook fit is BIGINT — hash-oracle-checked."""
    from dataplatform_cdc_pipeline_spark.operators.pq import pq_topk

    emb, books = _pq_books(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < _N_QUERY_VECS)
    return pq_topk(emb, queries, books, k=_PQ_TOPK)


# Shared PQ CTE chain: the kmeans chain of SQL_EMBEDDING_KMEANS
# (queries_llm.py) generalized with a subspace column — one grouped
# Lloyd recursion covers all m codebooks at once.
_PQ_CTES = f"""pts AS (
  SELECT vec_id, pos - 1 AS pos,
         CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) AS xi
  FROM (SELECT vec_id, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS pos FROM embeddings)),
sp AS (SELECT vec_id, pos // {_PQ_SUBLEN} AS sub, pos % {_PQ_SUBLEN} AS spos, xi
       FROM pts),
seeds AS (
  SELECT vec_id, cluster FROM (
    SELECT vec_id,
           row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
             AS cluster
    FROM embeddings) WHERE cluster < {_PQ_K}),
c0 AS (SELECT s.cluster, p.sub, p.spos, p.xi AS m
       FROM seeds s JOIN sp p USING (vec_id)),
d1 AS (SELECT p.vec_id, p.sub, c.cluster, SUM((p.xi - c.m) * (p.xi - c.m)) AS d
       FROM sp p JOIN c0 c ON p.sub = c.sub AND p.spos = c.spos
       GROUP BY 1, 2, 3),
a1 AS (SELECT vec_id, sub, cluster FROM (
         SELECT vec_id, sub, cluster,
                row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, cluster)
                  AS rk FROM d1) WHERE rk = 1),
c1 AS (SELECT a.sub, a.cluster, p.spos,
              CAST(floor(SUM(p.xi) / COUNT(*)) AS BIGINT) AS m
       FROM sp p JOIN a1 a ON p.vec_id = a.vec_id AND p.sub = a.sub
       GROUP BY 1, 2, 3),
d2 AS (SELECT p.vec_id, p.sub, c.cluster, SUM((p.xi - c.m) * (p.xi - c.m)) AS d
       FROM sp p JOIN c1 c ON p.sub = c.sub AND p.spos = c.spos
       GROUP BY 1, 2, 3),
a2 AS (SELECT vec_id, sub, cluster FROM (
         SELECT vec_id, sub, cluster,
                row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, cluster)
                  AS rk FROM d2) WHERE rk = 1),
c2 AS (SELECT a.sub, a.cluster, p.spos,
              CAST(floor(SUM(p.xi) / COUNT(*)) AS BIGINT) AS m
       FROM sp p JOIN a2 a ON p.vec_id = a.vec_id AND p.sub = a.sub
       GROUP BY 1, 2, 3),
d3 AS (SELECT p.vec_id, p.sub, c.cluster, SUM((p.xi - c.m) * (p.xi - c.m)) AS d
       FROM sp p JOIN c2 c ON p.sub = c.sub AND p.spos = c.spos
       GROUP BY 1, 2, 3),
codes AS (SELECT vec_id, sub, cluster AS code FROM (
            SELECT vec_id, sub, cluster,
                   row_number() OVER (PARTITION BY vec_id, sub
                                      ORDER BY d, cluster) AS rk
            FROM d3) WHERE rk = 1),
qsp AS (SELECT * FROM sp WHERE vec_id < {_N_QUERY_VECS}),
dtab AS (SELECT q.vec_id AS query_id, c.sub, c.cluster AS code,
                SUM((q.xi - c.m) * (q.xi - c.m)) AS d
         FROM qsp q JOIN c2 c ON q.sub = c.sub AND q.spos = c.spos
         GROUP BY 1, 2, 3),
adc AS (SELECT t.query_id, k.vec_id AS nbr_id,
               CAST(SUM(t.d) AS BIGINT) AS adc_dist2
        FROM codes k JOIN dtab t ON k.sub = t.sub AND k.code = t.code
        WHERE k.vec_id != t.query_id GROUP BY 1, 2),
pq5 AS (SELECT query_id, rk, nbr_id, adc_dist2 FROM (
          SELECT query_id, nbr_id, adc_dist2,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY adc_dist2, nbr_id) AS rk
          FROM adc) WHERE rk <= {_PQ_TOPK})"""

SQL_EMBEDDING_PQ_TOPK = f"""
WITH {_PQ_CTES}
SELECT query_id, rk, nbr_id, adc_dist2 FROM pq5
"""


def q_pq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of PQ/ADC against the EXACT integer-L2 ground truth —
    the compression/recall trade-off is PQ's actual tuning interface.
    Both rankings are exact-integer, so the whole harness is
    hash-oracle-checked; recall is reported in exact ppm."""
    from dataplatform_cdc_pipeline_spark.operators.clustering import quantized_points
    from dataplatform_cdc_pipeline_spark.operators.pq import pq_topk

    emb, books = _pq_books(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < _N_QUERY_VECS)
    pq5 = pq_topk(emb, queries, books, k=_PQ_TOPK).select("query_id", "nbr_id")

    pts = quantized_points(emb)
    qp = quantized_points(queries).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    dist2 = F.aggregate(
        F.zip_with(F.col("qv"), F.col("v"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("query_id").orderBy(F.col("d2").asc(), F.col("vec_id").asc())
    # exact5 feeds hits AND base — materialize the tiny top-k list so
    # the brute-force integer-L2 ranking runs ONCE (r12, guide §1.2)
    exact5 = (
        pts.join(F.broadcast(qp), pts["vec_id"] != qp["query_id"])
        .select("query_id", "vec_id", dist2.alias("d2"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _PQ_TOPK)
        .select("query_id", F.col("vec_id").alias("nbr_id"))
        .localCheckpoint(eager=True)
    )
    hits = (
        exact5.join(pq5, ["query_id", "nbr_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    base = exact5.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    return (
        base.join(hits, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"),
            (F.floor(
                F.coalesce(F.col("n_hit"), F.lit(0)) * F.lit(1_000_000)
                / F.col("n_exact")
            )).cast("long").alias("recall_ppm"),
        )
    )


SQL_PQ_RECALL_EVAL = f"""
WITH {_PQ_CTES},
ed AS (SELECT q.vec_id AS query_id, p.vec_id AS nbr_id,
              SUM((q.xi - p.xi) * (q.xi - p.xi)) AS d2
       FROM pts p JOIN pts q ON q.vec_id < {_N_QUERY_VECS}
                            AND q.vec_id != p.vec_id AND q.pos = p.pos
       GROUP BY 1, 2),
e5 AS (SELECT query_id, nbr_id FROM (
         SELECT query_id, nbr_id,
                row_number() OVER (PARTITION BY query_id ORDER BY d2, nbr_id)
                  AS rk FROM ed) WHERE rk <= {_PQ_TOPK}),
nh AS (SELECT e5.query_id, count(*) AS n_hit
       FROM e5 JOIN pq5 ON e5.query_id = pq5.query_id AND e5.nbr_id = pq5.nbr_id
       GROUP BY 1),
ne AS (SELECT query_id, count(*) AS n_exact FROM e5 GROUP BY 1)
SELECT ne.query_id, ne.n_exact, coalesce(nh.n_hit, 0) AS n_hit,
       floor(coalesce(nh.n_hit, 0) * 1000000 / ne.n_exact)::BIGINT AS recall_ppm
FROM ne LEFT JOIN nh ON ne.query_id = nh.query_id
"""

# ---------------------------------------------------------------------------
# PSI distribution drift
# ---------------------------------------------------------------------------

_PSI_BINS = 10
_PSI_FOCUS = "click"


def q_events_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift check: the `value` distribution
    of one event class ('click') vs the rest, over 10 equal-width bins
    spanning the global [min, max]. Add-one smoothing keeps empty bins
    finite; the per-bin contribution (p−q)·ln(p/q) is floor-scaled nano.
    Shape: one stats agg (broadcast back), one binning pass, one
    map-side-combined groupBy — two corpus reads, no joins on data."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    stats = ev.agg(F.min("value").alias("vmin"), F.max("value").alias("vmax"))
    binned = ev.crossJoin(F.broadcast(stats)).withColumn(
        "bin",
        F.least(
            F.lit(_PSI_BINS - 1),
            F.floor(
                (F.col("value") - F.col("vmin"))
                / (F.col("vmax") - F.col("vmin"))
                * F.lit(float(_PSI_BINS))
            ),
        ).cast("int"),
    )
    counts = binned.groupBy("bin").agg(
        F.sum(
            F.when(F.col("event_type") == _PSI_FOCUS, 1).otherwise(0)
        ).alias("c_p"),
        F.sum(
            F.when(F.col("event_type") != _PSI_FOCUS, 1).otherwise(0)
        ).alias("c_q"),
    )
    # totals over the ≤10-row counts frame via a whole-frame window — a
    # crossJoin(counts.agg(...)) would RECOMPUTE counts (and rescan
    # events) for the totals leg; the single-partition window is free at
    # bin-domain size
    whole = Window.partitionBy(F.lit(1))
    with_tot = counts.withColumn("n_p", F.sum("c_p").over(whole)).withColumn(
        "n_q", F.sum("c_q").over(whole)
    )
    p = (F.col("c_p") + 1).cast("double") / (
        F.col("n_p") + _PSI_BINS
    ).cast("double")
    q = (F.col("c_q") + 1).cast("double") / (
        F.col("n_q") + _PSI_BINS
    ).cast("double")
    return with_tot.select(
        "bin",
        "c_p",
        "c_q",
        F.floor((p - q) * F.log(p / q) * F.lit(1e9)).cast("long").alias("psi_nano"),
    )


SQL_EVENTS_PSI_DRIFT = f"""
WITH ev AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
st AS (SELECT min(value) AS vmin, max(value) AS vmax FROM ev),
binned AS (
  SELECT event_type,
         least({_PSI_BINS - 1},
               floor((value - vmin) / (vmax - vmin) * {float(_PSI_BINS)}))::INT
           AS bin
  FROM ev CROSS JOIN st),
counts AS (
  SELECT bin,
         sum(CASE WHEN event_type = '{_PSI_FOCUS}' THEN 1 ELSE 0 END)::BIGINT AS c_p,
         sum(CASE WHEN event_type != '{_PSI_FOCUS}' THEN 1 ELSE 0 END)::BIGINT AS c_q
  FROM binned GROUP BY bin),
tot AS (SELECT sum(c_p)::BIGINT AS n_p, sum(c_q)::BIGINT AS n_q FROM counts)
SELECT bin, c_p, c_q,
       floor(((c_p + 1)::DOUBLE / (n_p + {_PSI_BINS})::DOUBLE
              - (c_q + 1)::DOUBLE / (n_q + {_PSI_BINS})::DOUBLE)
             * ln(((c_p + 1)::DOUBLE / (n_p + {_PSI_BINS})::DOUBLE)
                  / ((c_q + 1)::DOUBLE / (n_q + {_PSI_BINS})::DOUBLE))
             * 1000000000.0)::BIGINT AS psi_nano
FROM counts CROSS JOIN tot
"""

# ---------------------------------------------------------------------------
# seeded global shuffle -> training batches
# ---------------------------------------------------------------------------

_SHUFFLE_SEED = "shuffle42"
_BATCH_SIZE = 32


def q_training_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch shuffle for training: a SEEDED deterministic global order
    (md5(seed|doc_id) — rerunnable, no RNG state) and fixed-size batch
    ids. Uses the range-partition + driver prefix-sum formulation from
    q_doc_global_ids (queries_ext.py) — the oracle is the naive global
    row_number, which a 1000-executor cluster could not run."""
    docs = spread_scan(load_table(spark, sf_dir, "documents")).select(
        "doc_id", F.md5(F.concat(F.lit(_SHUFFLE_SEED + "|"),
                                 F.col("doc_id").cast("string"))).alias("skey")
    )
    parts = docs.repartitionByRange(8, F.col("skey"), F.col("doc_id")).withColumn(
        "__pid", F.spark_partition_id()
    )
    parts = parts.localCheckpoint(eager=True)  # pin partitioning across passes
    counts = parts.groupBy("__pid").agg(F.count(F.lit(1)).alias("n")).collect()
    offsets, acc = {}, 0
    for row in sorted(counts, key=lambda r: r["__pid"]):
        offsets[row["__pid"]] = acc
        acc += row["n"]
    off_df = spark.createDataFrame(
        [(p, o) for p, o in offsets.items()], "__pid int, __offset long"
    )
    w = Window.partitionBy("__pid").orderBy("skey", "doc_id")
    return (
        parts.join(F.broadcast(off_df), "__pid")
        .withColumn("global_idx", F.col("__offset") + F.row_number().over(w))
        .select(
            "doc_id",
            "global_idx",
            ((F.col("global_idx") - 1) / _BATCH_SIZE).cast("long").alias("batch_id"),
        )
    )


SQL_TRAINING_BATCHES = f"""
WITH s AS (
  SELECT doc_id, md5('{_SHUFFLE_SEED}|' || doc_id::VARCHAR) AS skey
  FROM documents),
r AS (SELECT doc_id, row_number() OVER (ORDER BY skey, doc_id) AS global_idx
      FROM s)
SELECT doc_id, global_idx, (global_idx - 1) // {_BATCH_SIZE} AS batch_id FROM r
"""

# ---------------------------------------------------------------------------
# TF-IDF keywords
# ---------------------------------------------------------------------------

_TFIDF_TOPK = 3


def q_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document — the classic keyword/feature
    extractor (idf = ln((N+1)/(df+1)) + 1, sklearn's smoothed form).
    One explode feeds the (doc, term) tf agg; df is a term-keyed agg of
    that (map-side combined); N rides a broadcast 1-row frame. The
    double score ranks; the REPORTED score is floor-scaled micro."""
    docs = load_table(spark, sf_dir, "documents")
    from dataplatform_cdc_pipeline_spark.operators.text_analysis import tokens_expr

    toks = docs.select("doc_id", F.explode(tokens_expr("text")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = F.log(
        (F.col("n_docs") + 1).cast("double") / (F.col("df") + 1).cast("double")
    ) + F.lit(1.0)
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn("score", F.col("tf").cast("double") * idf)
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _TFIDF_TOPK)
        .select(
            "doc_id", "rk", "term",
            F.floor(F.col("score") * F.lit(1e6)).cast("long").alias("score_micro"),
        )
    )


SQL_TFIDF_KEYWORDS = f"""
WITH tok AS (SELECT doc_id, unnest({TOKS}) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         tf.tf::DOUBLE * (ln((n_docs + 1)::DOUBLE / (df + 1)::DOUBLE) + 1.0)
           AS score
  FROM tf JOIN df USING (term) CROSS JOIN n)
SELECT doc_id, rk, term, floor(score * 1000000.0)::BIGINT AS score_micro
FROM (SELECT doc_id, term, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, term ASC) AS rk
      FROM scored)
WHERE rk <= {_TFIDF_TOPK}
"""

# ---------------------------------------------------------------------------
# media perceptual-hash dedup (multimodal family)
# ---------------------------------------------------------------------------

_PHASH_N = 128
_PHASH_GROUPS = 32
_PHASH_SLICES = 4
_PHASH_SLICE_BITS = 15
_PHASH_HAMMING_T = 2


def q_media_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate detection over MEDIA assets by perceptual hash —
    the multimodal twin of dedup_simhash. A real pipeline computes the
    64-bit pHash at the decode seam (multimodal.py's injectable stage;
    pHash libs aren't in this container), so the hash source here is the
    deterministic stand-in: base = md5_long('media|'|group), variants
    flip ONE bit — giving hamming-1/2 structure the banding must find.
    The Spark-side operator is real and scale-shaped: 4 × 15-bit slice
    keys per asset, ONE band-key shuffle builds candidates (pigeonhole-
    complete for T=2 < 4 slices), verify = JVM bit_count(xor) ≤ T.
    Cross-group 15-bit slice collisions produce candidates that FAIL
    verify — the reject path executes too."""
    ids = spark.range(_PHASH_N).select(F.col("id").alias("asset_id"))
    base = md5_long(
        F.concat(F.lit("media|"), (F.col("asset_id") % _PHASH_GROUPS).cast("string"))
    )
    flip = F.when(
        (F.col("asset_id") / _PHASH_GROUPS).cast("long") > 0,
        F.expr("shiftleft(1L, cast(asset_id % 60 as int))"),
    ).otherwise(F.lit(0).cast("long"))
    hashed = ids.select("asset_id", base.bitwiseXOR(flip).alias("phash"))
    slices = hashed.select(
        "asset_id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        "_",
                        F.lit(str(b)),
                        (
                            F.shiftright(F.col("phash"), b * _PHASH_SLICE_BITS)
                            % (1 << _PHASH_SLICE_BITS)
                        ).cast("string"),
                    )
                    for b in range(_PHASH_SLICES)
                ]
            )
        ).alias("slice_key"),
    )
    a, b = slices.alias("a"), slices.alias("b")
    pairs = (
        a.join(b, "slice_key")
        .filter(F.col("a.asset_id") < F.col("b.asset_id"))
        .select(
            F.col("a.asset_id").alias("id_a"),
            F.col("b.asset_id").alias("id_b"),
            F.bit_count(
                F.col("a.phash").bitwiseXOR(F.col("b.phash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= _PHASH_HAMMING_T)
    )
    return pairs


SQL_MEDIA_PHASH_DEDUP = f"""
WITH ids AS (SELECT unnest(range({_PHASH_N})) AS asset_id),
h AS (
  SELECT asset_id,
         xor({md5_long_sql(f"'media|' || (asset_id % {_PHASH_GROUPS})::VARCHAR")},
             CASE WHEN asset_id // {_PHASH_GROUPS} > 0
                  THEN (1::BIGINT << (asset_id % 60)) ELSE 0 END) AS phash
  FROM ids),
slices AS (
  SELECT asset_id, phash,
         unnest(list_transform(range(0, {_PHASH_SLICES}), b ->
           b::VARCHAR || '_' ||
           ((phash >> (b * {_PHASH_SLICE_BITS})) % {1 << _PHASH_SLICE_BITS})::VARCHAR))
           AS slice_key
  FROM h)
SELECT DISTINCT a.asset_id AS id_a, b.asset_id AS id_b,
       bit_count(xor(a.phash, b.phash)) AS hamming
FROM slices a JOIN slices b
  ON a.slice_key = b.slice_key AND a.asset_id < b.asset_id
WHERE bit_count(xor(a.phash, b.phash)) <= {_PHASH_HAMMING_T}
"""

# ---------------------------------------------------------------------------
# temperature-scaled domain sampling
# ---------------------------------------------------------------------------

_TEMP_ALPHA_NOTE = "alpha = 0.5 (square-root temperature)"


def q_domain_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain rebalancing (the multilingual-corpus
    p ∝ n^α recipe, α=0.5): per-domain quotas ∝ sqrt(n_d), total budget
    = half the corpus, members picked deterministically by smallest
    md5(doc_id). Unlike domain_mix_plan (explicit budgets), the mix here
    is LEARNED from the counts. sqrt is IEEE-exact in both engines; the
    quota arithmetic moves to integers immediately (floor-scaled micro)
    so the Σ sqrt never becomes an order-dependent float sum."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_d"))
    scaled = counts.withColumn(
        "s_d", F.floor(F.sqrt(F.col("n_d")) * F.lit(1e6)).cast("long")
    )
    totals = scaled.agg(
        F.sum("s_d").alias("tot_s"), F.sum("n_d").alias("n_total")
    )
    quota = scaled.crossJoin(F.broadcast(totals)).select(
        "source",
        "n_d",
        F.floor(
            F.floor(F.col("n_total") / 2) * F.col("s_d") / F.col("tot_s")
        ).cast("long").alias("quota"),
    )
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select("doc_id", "source")
        .withColumn("rk", F.row_number().over(w))
        .join(F.broadcast(quota), "source")
        .filter(F.col("rk") <= F.col("quota"))
        .select("doc_id", "source", "quota")
    )


SQL_DOMAIN_TEMPERATURE_SAMPLE = """
WITH counts AS (SELECT source, count(*) AS n_d FROM documents GROUP BY 1),
scaled AS (SELECT source, n_d, floor(sqrt(n_d) * 1000000.0)::BIGINT AS s_d
           FROM counts),
tot AS (SELECT sum(s_d)::BIGINT AS tot_s, sum(n_d)::BIGINT AS n_total
        FROM scaled),
quota AS (SELECT source, floor(floor(n_total / 2) * s_d / tot_s)::BIGINT AS quota
          FROM scaled CROSS JOIN tot),
ranked AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk
  FROM documents)
SELECT r.doc_id, r.source, q.quota
FROM ranked r JOIN quota q USING (source) WHERE r.rk <= q.quota
"""

# ---------------------------------------------------------------------------
# hybrid search: reciprocal rank fusion of BM25 and dense cosine
# ---------------------------------------------------------------------------

_RRF_K = 60
_RRF_TOP = 10
_RRF_LEG_TOP = 20
_RRF_QUERY_VEC = 0  # the corpus doc whose embedding is the dense query


def q_hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 keyword ranking fused with dense cosine
    ranking by reciprocal rank fusion (Cormack et al., SIGIR'09) —
    score = Σ 1/(60+rank), here floor(1e9/(60+rank)) per leg so the
    fused score is an exact integer. Legs: the green bm25_search
    operator (fixed term bag) and brute_force_topk against doc 0's
    embedding (doc_id and vec_id share the id space). Both legs are
    bounded top-20 frames, so the fusion join is driver-trivial at any
    corpus size — the heavy lifting stays inside the two leg operators."""
    from dataplatform_cdc_pipeline_spark.operators.search import bm25_search
    from dataplatform_cdc_pipeline_spark.operators.similarity import (
        brute_force_topk,
    )
    from dataplatform_cdc_pipeline_spark.queries_llm import BM25_TERMS

    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    emb = load_table(spark, sf_dir, "embeddings")

    bm = bm25_search(docs, BM25_TERMS, top_k=_RRF_LEG_TOP)
    w_bm = Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
    bm_rank = bm.withColumn("r_bm25", F.row_number().over(w_bm)).select(
        "doc_id", "r_bm25"
    )

    dense = brute_force_topk(
        emb, emb.filter(F.col("vec_id") == _RRF_QUERY_VEC), k=_RRF_LEG_TOP
    ).select(F.col("nbr_id").alias("doc_id"), F.col("rk").alias("r_cos"))

    fused = bm_rank.join(dense, "doc_id", "full_outer").select(
        "doc_id",
        F.coalesce(F.col("r_bm25"), F.lit(0)).alias("r_bm25"),
        F.coalesce(F.col("r_cos"), F.lit(0)).alias("r_cos"),
        (
            F.coalesce(
                F.floor(F.lit(1_000_000_000) / (F.lit(_RRF_K) + F.col("r_bm25"))),
                F.lit(0),
            )
            + F.coalesce(
                F.floor(F.lit(1_000_000_000) / (F.lit(_RRF_K) + F.col("r_cos"))),
                F.lit(0),
            )
        ).cast("long").alias("rrf_nano"),
    )
    return fused.orderBy(F.col("rrf_nano").desc(), F.col("doc_id")).limit(_RRF_TOP)


_RRF_COS = (
    "floor(list_dot_product(q.vec, c.vec) / "
    "(sqrt(list_dot_product(q.vec, q.vec)) * sqrt(list_dot_product(c.vec, c.vec)))"
    " * 1000000.0) / 1000000.0"
)


def _sql_hybrid_rrf() -> str:
    from dataplatform_cdc_pipeline_spark.queries_llm import BM25_TERMS

    terms = "(" + ", ".join(f"'{t}'" for t in BM25_TERMS) + ")"
    return f"""
WITH base AS (SELECT doc_id, {TOKS} AS toks FROM documents),
dl AS (SELECT doc_id, len(toks) AS dl, toks FROM base),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
qt AS (SELECT doc_id, dl, unnest(toks) AS term FROM dl),
qf AS (SELECT * FROM qt WHERE term IN {terms}),
tf AS (SELECT doc_id, term, dl, count(*) AS tf FROM qf GROUP BY doc_id, term, dl),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM qf GROUP BY term),
bm_scored AS (
  SELECT tf.doc_id,
         sum(ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
             * tf.tf * (1.2 + 1.0)
             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / stats.avgdl))) AS raw
  FROM tf JOIN df USING (term), stats GROUP BY tf.doc_id),
bm AS (
  SELECT doc_id, row_number() OVER (
           ORDER BY floor(raw * 1000000.0) / 1000000.0 DESC, doc_id) AS r_bm25
  FROM (SELECT * FROM bm_scored
        ORDER BY floor(raw * 1000000.0) / 1000000.0 DESC, doc_id
        LIMIT {_RRF_LEG_TOP})),
v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vec
      FROM embeddings),
qv AS (SELECT * FROM v WHERE vec_id = {_RRF_QUERY_VEC}),
dense AS (
  SELECT nbr_id AS doc_id, rk AS r_cos FROM (
    SELECT c.vec_id AS nbr_id,
           row_number() OVER (ORDER BY {_RRF_COS} DESC, c.vec_id ASC) AS rk
    FROM qv q, v c WHERE c.vec_id != q.vec_id) WHERE rk <= {_RRF_LEG_TOP}),
fused AS (
  SELECT coalesce(bm.doc_id, dense.doc_id) AS doc_id,
         coalesce(bm.r_bm25, 0) AS r_bm25,
         coalesce(dense.r_cos, 0) AS r_cos,
         (CASE WHEN bm.r_bm25 IS NOT NULL
               THEN floor(1000000000 / ({_RRF_K} + bm.r_bm25)) ELSE 0 END
          + CASE WHEN dense.r_cos IS NOT NULL
                 THEN floor(1000000000 / ({_RRF_K} + dense.r_cos)) ELSE 0 END
          )::BIGINT AS rrf_nano
  FROM bm FULL OUTER JOIN dense ON bm.doc_id = dense.doc_id)
SELECT doc_id, r_bm25, r_cos, rrf_nano FROM fused
ORDER BY rrf_nano DESC, doc_id LIMIT {_RRF_TOP}
"""

# ---------------------------------------------------------------------------
# hard negatives for contrastive training
# ---------------------------------------------------------------------------

_NEG_LO = 0.30
_NEG_HI = 0.95
_NEG_TOPK = 5


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the
    top-5 MOST similar vectors inside the band [0.30, 0.95] — similar
    enough to be hard, dissimilar enough (and below the near-dup line)
    to be true negatives. Same broadcast-queries/one-corpus-scan shape
    as brute_force_topk; the band filter runs BEFORE the ranking window,
    so only in-band rows reach the per-query shuffle."""
    from dataplatform_cdc_pipeline_spark.operators.similarity import (
        as_double_vec,
        dot_expr,
        floor6,
        norm_expr,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.select(
        F.col("vec_id").alias("nbr_id"), as_double_vec("embedding").alias("nbr_vec")
    ).withColumn("nbr_norm", norm_expr(F.col("nbr_vec")))
    qs = emb.filter(F.col("vec_id") < _N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"), as_double_vec("embedding").alias("q_vec")
    ).withColumn("q_norm", norm_expr(F.col("q_vec")))
    scored = corpus.join(
        F.broadcast(qs), F.col("query_id") != F.col("nbr_id")
    ).select(
        "query_id",
        "nbr_id",
        floor6(
            dot_expr(F.col("q_vec"), F.col("nbr_vec"))
            / (F.col("q_norm") * F.col("nbr_norm"))
        ).alias("cosine"),
    ).filter(
        (F.col("cosine") >= _NEG_LO) & (F.col("cosine") <= _NEG_HI)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("nbr_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _NEG_TOPK)
        .select("query_id", "rk", "nbr_id", "cosine")
    )


SQL_HARD_NEGATIVES = f"""
WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vec
           FROM embeddings),
q AS (SELECT * FROM v WHERE vec_id < {_N_QUERY_VECS}),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS nbr_id, {_RRF_COS} AS cosine
  FROM q, v c WHERE q.vec_id != c.vec_id),
banded AS (SELECT * FROM scored WHERE cosine >= {_NEG_LO} AND cosine <= {_NEG_HI})
SELECT query_id, rk, nbr_id, cosine FROM (
  SELECT query_id, nbr_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, nbr_id ASC) AS rk
  FROM banded) WHERE rk <= {_NEG_TOPK}
"""

# ---------------------------------------------------------------------------
# positional-index phrase search
# ---------------------------------------------------------------------------

PHRASE = ("stream", "table", "hash")


def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search via a positional inverted index: filter the
    exploded (doc, pos, term) postings to the 3 phrase terms BEFORE any
    shuffle (the same selectivity move as bm25_search), then two
    co-partitioned (doc, pos) equi-joins verify adjacency. At 100 TB the
    postings for three terms are a sliver of the corpus — nothing else
    moves. Output = per-doc phrase occurrence counts."""
    from dataplatform_cdc_pipeline_spark.operators.text_analysis import tokens_expr

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(tokens_expr("text")).alias("pos", "term")
    ).filter(F.col("term").isin(*PHRASE))
    t0 = toks.filter(F.col("term") == PHRASE[0]).select("doc_id", "pos")
    t1 = toks.filter(F.col("term") == PHRASE[1]).select(
        "doc_id", (F.col("pos") - 1).alias("pos")
    )
    t2 = toks.filter(F.col("term") == PHRASE[2]).select(
        "doc_id", (F.col("pos") - 2).alias("pos")
    )
    return (
        t0.join(t1, ["doc_id", "pos"]).join(t2, ["doc_id", "pos"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_matches"))
    )


SQL_PHRASE_SEARCH = f"""
WITH tok AS (
  SELECT doc_id, unnest({TOKS}) AS term,
         generate_subscripts({TOKS}, 1) - 1 AS pos
  FROM documents),
t0 AS (SELECT doc_id, pos FROM tok WHERE term = '{PHRASE[0]}'),
t1 AS (SELECT doc_id, pos - 1 AS pos FROM tok WHERE term = '{PHRASE[1]}'),
t2 AS (SELECT doc_id, pos - 2 AS pos FROM tok WHERE term = '{PHRASE[2]}')
SELECT doc_id, count(*) AS n_matches
FROM t0 JOIN t1 USING (doc_id, pos) JOIN t2 USING (doc_id, pos)
GROUP BY doc_id
"""

# ---------------------------------------------------------------------------
# hopping (overlapping) windows, batch
# ---------------------------------------------------------------------------

_HOP_US = 6 * 3_600_000_000  # 6 h hop
_HOP_K = 4                   # window length = 4 hops = 24 h


def q_events_hopping_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch hopping-window aggregation (24 h windows every 6 h — the
    batch twin of streaming's sliding windows): each event explodes into
    exactly the K=4 windows covering it (window index = ts_div_hop − k),
    then ONE map-side-combined agg per (window, type). Value sums ride
    exact integer micros. Fan-out is K — constant, not data-dependent."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    idx = F.expr(f"unix_micros(ts) div {_HOP_US}")
    return (
        ev.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(_HOP_K - 1)),
                    lambda k: idx - k,
                )
            ).alias("w_idx"),
            "event_type",
            F.round(F.col("value") * F.lit(1e6)).cast("long").alias("v_micros"),
        )
        .filter(F.col("w_idx") >= 0)
        .groupBy("w_idx", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("v_micros").alias("sum_value_micros"),
        )
        .select(
            (F.col("w_idx") * _HOP_US).alias("window_start_us"),
            "event_type",
            "n_events",
            "sum_value_micros",
        )
    )


SQL_EVENTS_HOPPING_WINDOWS = f"""
WITH ev AS (
  SELECT epoch_us(ts::TIMESTAMP) // {_HOP_US} AS idx, event_type,
         CAST(round(value * 1000000.0) AS BIGINT) AS v_micros
  FROM events WHERE value IS NOT NULL),
fan AS (
  SELECT idx - k AS w_idx, event_type, v_micros
  FROM ev, (SELECT unnest(range({_HOP_K})) AS k))
SELECT w_idx * {_HOP_US} AS window_start_us, event_type,
       count(*) AS n_events, sum(v_micros)::BIGINT AS sum_value_micros
FROM fan WHERE w_idx >= 0 GROUP BY 1, 2
"""

# ---------------------------------------------------------------------------
# masked read (governance)
# ---------------------------------------------------------------------------

MASK_POLICY = {
    "c_custkey": "keep",
    "c_name": "partial",
    "c_nationkey": "null",
    "c_acctbal": "bucket:100",
    "c_mktsegment": "hash",
}


def q_pii_masked_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Policy-masked read (operators/masking.py): every masking policy
    exercised on one table — keep / partial / typed NULL / bucket
    generalization / md5 pseudonym — as a pure projection (no shuffle,
    no UDF; deny-by-default for unmapped columns). The enforce-side
    twin of the pii_k_anonymity audit."""
    from dataplatform_cdc_pipeline_spark.operators.masking import masked_view

    cust = load_table(spark, sf_dir, "customer")
    return masked_view(cust, MASK_POLICY)


SQL_PII_MASKED_READ = """
SELECT c_custkey,
       substring(c_name, 1, 2) || '***' AS c_name,
       NULL::INT AS c_nationkey,
       (floor(c_acctbal / 100) * 100)::DOUBLE AS c_acctbal,
       md5(c_mktsegment) AS c_mktsegment
FROM customer
"""

# ---------------------------------------------------------------------------
# l-diversity audit (companion to k-anonymity)
# ---------------------------------------------------------------------------

_L_DIVERSE = 3


def q_pii_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity: a k-anonymous group is still unsafe when everyone in
    it shares the sensitive value (Machanavajjhala et al.) — here the
    sensitive attribute is the market segment and the quasi-identifier
    is (nation, acctbal-hundred-band). One agg computes group size AND
    distinct-sensitive count; l < 3 flags the group."""
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.groupBy(
            "c_nationkey",
            (F.floor(F.col("c_acctbal") / 1000) * 1000).alias("bal_band"),
        )
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.count_distinct("c_mktsegment").alias("l_distinct"),
        )
        .withColumn(
            "is_violating", (F.col("l_distinct") < _L_DIVERSE).cast("int")
        )
    )


SQL_PII_L_DIVERSITY = f"""
SELECT c_nationkey, (floor(c_acctbal / 1000) * 1000)::BIGINT AS bal_band,
       count(*) AS group_size,
       count(DISTINCT c_mktsegment) AS l_distinct,
       (count(DISTINCT c_mktsegment) < {_L_DIVERSE})::INT AS is_violating
FROM customer GROUP BY 1, 2
"""

# ---------------------------------------------------------------------------
# T5-style span corruption (fixed-block variant)
# ---------------------------------------------------------------------------

_SPAN_BLOCK = 3
_SPAN_MOD = 5  # ~1 in 5 blocks masked


def q_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Denoising-pretraining example construction (T5 span corruption,
    fixed-block variant: blocks of 3 tokens, a block is masked when
    md5(doc|block) % 5 == 0 — deterministic, so both engines build the
    SAME examples; T5's length-sampled greedy spans need RNG state and
    are out of relational scope, documented). The input keeps unmasked
    tokens and one <extra_id_N> sentinel per masked block (N = the
    block's masked ordinal); the target is the sentinel-prefixed masked
    content. One explode + per-doc window work + one rebuild agg."""
    from dataplatform_cdc_pipeline_spark.operators.text_analysis import tokens_expr

    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", F.posexplode(tokens_expr("text")).alias("pos", "tok")
    ).withColumn("blk", (F.col("pos") / _SPAN_BLOCK).cast("long"))
    masked = toks.withColumn(
        "m",
        (
            md5_long(
                F.concat(
                    F.col("doc_id").cast("string"), F.lit("|"),
                    F.col("blk").cast("string"),
                )
            )
            % _SPAN_MOD
            == 0
        ).cast("int"),
    )
    # masked ordinal per doc: dense_rank over masked blocks only
    blocks = masked.groupBy("doc_id", "blk").agg(
        F.max("m").alias("m"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("blk_text"),
    )
    w = Window.partitionBy("doc_id").orderBy("blk")
    ord_w = (
        F.sum("m").over(w.rowsBetween(Window.unboundedPreceding, 0)) - 1
    )
    pieces = blocks.withColumn(
        "sent",
        F.when(
            F.col("m") == 1,
            F.concat(F.lit("<extra_id_"), ord_w.cast("string"), F.lit(">")),
        ),
    )
    return pieces.groupBy("doc_id").agg(
        F.sum("m").alias("n_masked_blocks"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                "blk",
                                F.coalesce("sent", "blk_text").alias("piece"),
                            )
                        )
                    ),
                    lambda s: s["piece"],
                ),
            )
        ).alias("input_md5"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("m") == 1,
                                F.struct(
                                    "blk",
                                    F.concat_ws(
                                        " ", "sent", "blk_text"
                                    ).alias("piece"),
                                ),
                            )
                        )
                    ),
                    lambda s: s["piece"],
                ),
            )
        ).alias("target_md5"),
    )


SQL_SPAN_CORRUPTION = f"""
WITH tok AS (
  SELECT doc_id, unnest({TOKS}) AS tok,
         generate_subscripts({TOKS}, 1) - 1 AS pos
  FROM documents),
tagged AS (
  SELECT doc_id, pos, tok, pos // {_SPAN_BLOCK} AS blk,
         CASE WHEN {md5_long_sql(f"doc_id::VARCHAR || '|' || (pos // {_SPAN_BLOCK})::VARCHAR")}
                   % {_SPAN_MOD} = 0 THEN 1 ELSE 0 END AS m
  FROM tok),
blocks AS (
  SELECT doc_id, blk, max(m) AS m,
         string_agg(tok, ' ' ORDER BY pos) AS blk_text
  FROM tagged GROUP BY 1, 2),
pieces AS (
  SELECT doc_id, blk, m, blk_text,
         CASE WHEN m = 1 THEN '<extra_id_' ||
              (SUM(m) OVER (PARTITION BY doc_id ORDER BY blk
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - 1)::VARCHAR || '>' END AS sent
  FROM blocks)
SELECT doc_id, sum(m)::BIGINT AS n_masked_blocks,
       md5(string_agg(coalesce(sent, blk_text), ' ' ORDER BY blk)) AS input_md5,
       md5(coalesce(string_agg(CASE WHEN m = 1 THEN sent || ' ' || blk_text END,
                               ' ' ORDER BY blk), '')) AS target_md5
FROM pieces GROUP BY doc_id
"""

# ---------------------------------------------------------------------------
# streaming PSI drift monitor
# ---------------------------------------------------------------------------

_DRIFT_SPLIT = "2024-01-15 00:00:00"


def q_stream_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming drift monitor (streaming/drift.py): the pre-split window
    is the FROZEN reference (it fixes the bin edges); the post-split
    events drain through a Structured Streaming loop that maintains
    per-bin counts as write-once-per-batch-id state (replay rewrites
    identical content — exactly-once without sketch idempotence); the
    drained live histogram then scores PSI against the reference. The
    drained counts must equal a batch aggregation of the same rows, so
    the whole pipeline is gated by a pure-SQL oracle."""
    import tempfile as _tf

    from dataplatform_cdc_pipeline_spark.streaming.drift import (
        bin_expr,
        histogram_state,
        run_streaming_histogram,
    )

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    split = F.lit(_DRIFT_SPLIT).cast("timestamp")
    ref = ev.filter(F.col("ts") < split)
    stats = ref.agg(F.min("value").alias("vmin"), F.max("value").alias("vmax")).first()
    vmin, vmax = float(stats["vmin"]), float(stats["vmax"])

    tmp = _tf.mkdtemp(prefix="stream_psi_q_")
    live = ev.filter(F.col("ts") >= split).select("event_id", "ts", "value")
    live.repartition(4).write.parquet(f"{tmp}/src")
    bench_phases.mark("setup")  # staged source fixture ends here
    run_streaming_histogram(
        spark,
        f"{tmp}/src",
        "event_id long, ts timestamp, value double",
        value_col="value",
        state_path=f"{tmp}/state",
        checkpoint_path=f"{tmp}/ckpt",
        vmin=vmin,
        vmax=vmax,
        n_bins=_PSI_BINS,
    )
    live_counts = histogram_state(spark, f"{tmp}/state").select(
        "bin", F.col("n").alias("c_live")
    )
    ref_counts = (
        ref.select(bin_expr("value", vmin, vmax, _PSI_BINS).alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("c_ref"))
    )
    joined = (
        ref_counts.join(live_counts, "bin", "full_outer")
        .select(
            "bin",
            F.coalesce("c_ref", F.lit(0)).alias("c_ref"),
            F.coalesce("c_live", F.lit(0)).alias("c_live"),
        )
    )
    whole = Window.partitionBy(F.lit(1))
    with_tot = joined.withColumn("n_ref", F.sum("c_ref").over(whole)).withColumn(
        "n_live", F.sum("c_live").over(whole)
    )
    p = (F.col("c_ref") + 1).cast("double") / (
        F.col("n_ref") + _PSI_BINS
    ).cast("double")
    q = (F.col("c_live") + 1).cast("double") / (
        F.col("n_live") + _PSI_BINS
    ).cast("double")
    return with_tot.select(
        "bin",
        "c_ref",
        "c_live",
        F.floor((p - q) * F.log(p / q) * F.lit(1e9)).cast("long").alias("psi_nano"),
    )


SQL_STREAM_PSI_DRIFT = f"""
WITH ev AS (SELECT ts, value FROM events WHERE value IS NOT NULL),
ref AS (SELECT value FROM ev WHERE ts < TIMESTAMP '{_DRIFT_SPLIT}'),
st AS (SELECT min(value) AS vmin, max(value) AS vmax FROM ref),
rc AS (
  SELECT greatest(0, least({_PSI_BINS - 1},
           floor((value - vmin) / (vmax - vmin) * {float(_PSI_BINS)})))::INT AS bin,
         count(*) AS c_ref
  FROM ref CROSS JOIN st GROUP BY 1),
lc AS (
  SELECT greatest(0, least({_PSI_BINS - 1},
           floor((value - vmin) / (vmax - vmin) * {float(_PSI_BINS)})))::INT AS bin,
         count(*) AS c_live
  FROM ev CROSS JOIN st WHERE ts >= TIMESTAMP '{_DRIFT_SPLIT}' GROUP BY 1),
j AS (
  SELECT coalesce(rc.bin, lc.bin) AS bin,
         coalesce(c_ref, 0) AS c_ref, coalesce(c_live, 0) AS c_live
  FROM rc FULL OUTER JOIN lc ON rc.bin = lc.bin),
t AS (SELECT sum(c_ref)::BIGINT AS n_ref, sum(c_live)::BIGINT AS n_live FROM j)
SELECT bin, c_ref, c_live,
       floor(((c_ref + 1)::DOUBLE / (n_ref + {_PSI_BINS})::DOUBLE
              - (c_live + 1)::DOUBLE / (n_live + {_PSI_BINS})::DOUBLE)
             * ln(((c_ref + 1)::DOUBLE / (n_ref + {_PSI_BINS})::DOUBLE)
                  / ((c_live + 1)::DOUBLE / (n_live + {_PSI_BINS})::DOUBLE))
             * 1000000000.0)::BIGINT AS psi_nano
FROM j CROSS JOIN t
"""

# ---------------------------------------------------------------------------
# linear regression sufficient statistics (exact) + derived coefficients
# ---------------------------------------------------------------------------

_HOUR_US = 3_600_000_000


def q_regression_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type linear regression of value (milli-units) on hour-of-corpus:
    the five SUFFICIENT STATISTICS (n, Σx, Σy, Σxy, Σx²) as exact BIGINTs
    — x is centered on the corpus's min hour so every product fits int64,
    the move that lets the whole regression avoid DECIMAL division (the
    engines' decimal `/` rounding rules diverge — measured in r6's
    revenue_share work). slope/intercept/r² are then ONE double op chain
    over those exact integers, written identically in both engines, and
    floor-scaled ppm. This is regr_slope/regr_intercept/regr_r2 rebuilt
    on determinism-safe footing."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    hr = F.expr(f"unix_micros(ts) div {_HOUR_US}")
    base = ev.agg(F.min(hr).alias("h0"))
    pts = ev.crossJoin(F.broadcast(base)).select(
        "event_type",
        (hr - F.col("h0")).alias("x"),
        F.floor(F.col("value") * F.lit(1000.0)).cast("long").alias("y"),
    )
    stats = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    # the SUMS are exact int64 (bounded: x ≤ corpus hours, y ≤ 5e5 milli);
    # the n·Σ combinations would overflow int64 by sf1x (n·Σy² ~ 1e20), so
    # they move to double FIRST — same expression in the oracle, so both
    # engines land on the same IEEE values
    def d(c):
        return F.col(c).cast("double")

    num = d("n") * d("sxy") - d("sx") * d("sy")
    den = d("n") * d("sxx") - d("sx") * d("sx")
    deny = d("n") * d("syy") - d("sy") * d("sy")
    slope = num / den
    intercept = (d("sy") - slope * d("sx")) / d("n")
    r2 = num * num / (den * deny)
    return stats.select(
        "event_type", "n", "sx", "sy", "sxy", "sxx", "syy",
        F.floor(slope * F.lit(1e6)).cast("long").alias("slope_ppm"),
        F.floor(intercept * F.lit(1e6)).cast("long").alias("intercept_ppm"),
        F.floor(r2 * F.lit(1e6)).cast("long").alias("r2_ppm"),
    )


SQL_REGRESSION_SUITE = f"""
WITH base AS (
  SELECT min(epoch_us(ts::TIMESTAMP) // {_HOUR_US}) AS h0
  FROM events WHERE value IS NOT NULL),
pts AS (
  SELECT event_type,
         epoch_us(ts::TIMESTAMP) // {_HOUR_US} - h0 AS x,
         floor(value * 1000.0)::BIGINT AS y
  FROM events CROSS JOIN base WHERE value IS NOT NULL),
s AS (
  SELECT event_type, count(*) AS n, sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
         sum(x * y)::BIGINT AS sxy, sum(x * x)::BIGINT AS sxx,
         sum(y * y)::BIGINT AS syy
  FROM pts GROUP BY 1)
SELECT event_type, n, sx, sy, sxy, sxx, syy,
       floor((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
             / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
             * 1000000.0)::BIGINT AS slope_ppm,
       floor((sy::DOUBLE - (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                           / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                           * sx::DOUBLE)
             / n::DOUBLE * 1000000.0)::BIGINT AS intercept_ppm,
       floor((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
             * (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
             / ((n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                * (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE))
             * 1000000.0)::BIGINT AS r2_ppm
FROM s
"""

# ---------------------------------------------------------------------------
# Matryoshka-style dimension-truncation recall
# ---------------------------------------------------------------------------

_TRUNC_DIMS = 16


def q_dim_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-truncation trade-off (the Matryoshka/MRL question): how
    much recall@5 survives searching on only the FIRST 16 of 64 dims —
    4× less compute and bandwidth per comparison. Both rankings are the
    existing brute-force cosine operator (floored micro scores); recall
    is exact ppm. The third leg of the compression-eval family
    (sq8_recall_eval = quantization, pq_recall_eval = product codes)."""
    from dataplatform_cdc_pipeline_spark.operators.similarity import (
        brute_force_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    trunc = emb.select(
        "vec_id", F.slice("embedding", 1, _TRUNC_DIMS).alias("embedding")
    )
    queries_full = emb.filter(F.col("vec_id") < _N_QUERY_VECS)
    queries_trunc = trunc.filter(F.col("vec_id") < _N_QUERY_VECS)
    approx = brute_force_topk(trunc, queries_trunc, k=_PQ_TOPK).select(
        "query_id", "nbr_id"
    )
    # exact feeds hits AND base — materialize the tiny top-k list so
    # the full-dim brute force runs ONCE (r12 optimization, guide §1.2)
    exact = (
        brute_force_topk(emb, queries_full, k=_PQ_TOPK)
        .select("query_id", "nbr_id")
        .localCheckpoint(eager=True)
    )
    hits = (
        exact.join(approx, ["query_id", "nbr_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    base = exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    return base.join(hits, "query_id", "left").select(
        "query_id",
        "n_exact",
        F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
        F.floor(
            F.coalesce("n_hit", F.lit(0)) * F.lit(1_000_000) / F.col("n_exact")
        ).cast("long").alias("recall_ppm"),
    )


SQL_DIM_TRUNCATION_RECALL = f"""
WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vec
           FROM embeddings),
tv AS (SELECT vec_id, vec[1:{_TRUNC_DIMS}] AS vec FROM v),
e AS (SELECT query_id, nbr_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY {_RRF_COS} DESC, c.vec_id ASC) AS rk
        FROM v q, v c
        WHERE q.vec_id < {_N_QUERY_VECS} AND q.vec_id != c.vec_id)
      WHERE rk <= {_PQ_TOPK}),
a AS (SELECT query_id, nbr_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY {_RRF_COS} DESC, c.vec_id ASC) AS rk
        FROM tv q, tv c
        WHERE q.vec_id < {_N_QUERY_VECS} AND q.vec_id != c.vec_id)
      WHERE rk <= {_PQ_TOPK}),
nh AS (SELECT e.query_id, count(*) AS n_hit
       FROM e JOIN a ON e.query_id = a.query_id AND e.nbr_id = a.nbr_id
       GROUP BY 1),
ne AS (SELECT query_id, count(*) AS n_exact FROM e GROUP BY 1)
SELECT ne.query_id, ne.n_exact, coalesce(nh.n_hit, 0) AS n_hit,
       floor(coalesce(nh.n_hit, 0) * 1000000 / ne.n_exact)::BIGINT AS recall_ppm
FROM ne LEFT JOIN nh ON ne.query_id = nh.query_id
"""

# ---------------------------------------------------------------------------
# EWMA (sequential fold as an array reduce)
# ---------------------------------------------------------------------------


def q_events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially weighted moving average (α = 0.5) — the
    one rolling statistic a window frame CANNOT express (each step
    depends on the previous RESULT, not a row range). Relational
    formulation: collect the user's (ts, id)-ordered values and fold
    them with a linear array reduce — per-user work stays constant as
    users scale with data. α = 0.5 makes every multiply an exact
    exponent decrement, and both engines run the IDENTICAL sequential
    fold (Spark aggregate over slice(2..) seeded with element 1 ==
    DuckDB list_reduce), so the doubles match exactly."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    seq = ev.groupBy("user_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.unix_micros("ts").alias("ts_us"),
                        F.col("event_id").alias("eid"),
                        F.col("value").alias("v"),
                    )
                )
            ),
            lambda s: s["v"],
        ).alias("vals")
    )
    ewma = F.aggregate(
        F.slice(F.col("vals"), 2, F.size("vals") - 1),
        F.element_at(F.col("vals"), 1),
        lambda acc, x: acc * F.lit(0.5) + x * F.lit(0.5),
    )
    return seq.select(
        "user_id",
        F.size("vals").alias("n"),
        F.floor(ewma * F.lit(1e6)).cast("long").alias("ewma_micro"),
    )


SQL_EVENTS_EWMA = """
WITH seq AS (
  SELECT user_id,
         list(value::DOUBLE ORDER BY epoch_us(ts::TIMESTAMP), event_id) AS vals
  FROM events WHERE value IS NOT NULL GROUP BY user_id)
SELECT user_id, len(vals) AS n,
       floor(list_reduce(vals, (acc, x) -> acc * 0.5 + x * 0.5)
             * 1000000.0)::BIGINT AS ewma_micro
FROM seq
"""

# ---------------------------------------------------------------------------
# uncertainty sampling (hard-example mining by perplexity)
# ---------------------------------------------------------------------------

_UNCERTAIN_K = 5


def q_curation_uncertainty_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-example mining: the 5 most IMPROBABLE documents per domain
    under the corpus's own unigram LM (highest mean −ln p — the
    uncertainty-sampling move of active learning, with perplexity as
    the uncertainty signal). Pure composition of two green operators:
    unigram_logprob_frame scores, a per-source window selects."""
    from dataplatform_cdc_pipeline_spark.operators.text_analysis import (
        unigram_logprob_frame,
    )

    docs = load_table(spark, sf_dir, "documents")
    scored = unigram_logprob_frame(docs).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    w = Window.partitionBy("source").orderBy(
        F.col("avg_neg_logprob").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _UNCERTAIN_K)
        .select("source", "rk", "doc_id", "n_tokens", "avg_neg_logprob")
    )


SQL_CURATION_UNCERTAINTY_SAMPLE = f"""
WITH t AS (SELECT doc_id, unnest({TOKS}) AS term FROM documents),
vocab AS (SELECT term, count(*) AS c FROM t GROUP BY term),
totals AS (SELECT sum(c) AS T, count(*) AS V FROM vocab),
scored AS (
  SELECT t.doc_id,
         CAST(-ln((vocab.c + 1) * 1.0 / (totals.T + totals.V))
              AS DECIMAL(28,12)) AS nlp
  FROM t JOIN vocab USING (term), totals),
per_doc AS (
  SELECT doc_id, sum(nlp) AS s, count(*) AS n_tokens FROM scored GROUP BY doc_id),
ranked AS (
  SELECT d.source, p.doc_id, p.n_tokens,
         floor(p.s::DOUBLE / p.n_tokens * 1000000.0) / 1000000.0
           AS avg_neg_logprob
  FROM per_doc p JOIN documents d USING (doc_id))
SELECT source, rk, doc_id, n_tokens, avg_neg_logprob FROM (
  SELECT source, doc_id, n_tokens, avg_neg_logprob,
         row_number() OVER (PARTITION BY source
                            ORDER BY avg_neg_logprob DESC, doc_id ASC) AS rk
  FROM ranked) WHERE rk <= {_UNCERTAIN_K}
"""

# ---------------------------------------------------------------------------
# cohort lifetime value
# ---------------------------------------------------------------------------


def q_orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value matrix: customers cohorted by first-order
    month, each (cohort, month-offset) cell carrying active customers
    and revenue. Months are integer year·12+(month−1) — calendar-safe in
    both engines on midnight-UTC dates; revenue rides exact integer
    cents. Two map-side-combinable aggs: per-customer first month, then
    the cell rollup."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias("m"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    first = orders.groupBy("o_custkey").agg(F.min("m").alias("cohort_m"))
    return (
        orders.join(first, "o_custkey")
        .groupBy(
            "cohort_m", (F.col("m") - F.col("cohort_m")).alias("month_offset")
        )
        .agg(
            F.count_distinct("o_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("revenue_cents"),
        )
    )


SQL_ORDERS_COHORT_LTV = """
WITH o AS (
  SELECT o_custkey, year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders),
first AS (SELECT o_custkey, min(m) AS cohort_m FROM o GROUP BY 1)
SELECT cohort_m, m - cohort_m AS month_offset,
       count(DISTINCT o.o_custkey) AS n_customers,
       count(*) AS n_orders, sum(cents)::BIGINT AS revenue_cents
FROM o JOIN first USING (o_custkey)
GROUP BY 1, 2
"""

# ---------------------------------------------------------------------------
# leakage-safe splits: cluster-atomic assignment + leakage audit
# ---------------------------------------------------------------------------


def q_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aware train/val/test split: near-duplicate CLUSTERS assign
    atomically (the split key is the cluster's canonical id, not the
    doc's), so a near-copy of a training document can never land in
    test — the train/test contamination channel document-level splits
    leave open (and `split_leakage_audit` measures). Composes the CC
    clustering with the md5-slot split."""
    from dataplatform_cdc_pipeline_spark.operators.curation import assign_split
    from dataplatform_cdc_pipeline_spark.operators.text_dedup import dedup_clusters
    from dataplatform_cdc_pipeline_spark.queries_llm import scored_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = scored_pairs(spark, sf_dir).filter(F.col("jaccard") >= 0.9)
    clusters = dedup_clusters(pairs, docs)  # (doc_id, canonical_id)
    return assign_split(clusters, id_col="canonical_id").select(
        "doc_id", "canonical_id", "split_slot", "split"
    )


def _sql_cluster_safe_split() -> str:
    from dataplatform_cdc_pipeline_spark.queries_llm import SQL_DEDUP_CLUSTERS

    slot = md5_long_sql("canonical_id::VARCHAR", "split")
    return f"""
WITH base AS ({SQL_DEDUP_CLUSTERS}),
slotted AS (SELECT doc_id, canonical_id, {slot} % 100 AS split_slot FROM base)
SELECT doc_id, canonical_id, split_slot,
       CASE WHEN split_slot < 90 THEN 'train'
            WHEN split_slot < 95 THEN 'val' ELSE 'test' END AS split
FROM slotted
"""


def q_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much train/test contamination does the NAIVE document-level
    split leave? Every near-dup pair is tagged with its two members'
    doc-level splits; cross-split pairs ARE the leakage (a test doc with
    a train near-copy). The audit that motivates cluster_safe_split."""
    from dataplatform_cdc_pipeline_spark.operators.curation import assign_split
    from dataplatform_cdc_pipeline_spark.queries_llm import scored_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = scored_pairs(spark, sf_dir).filter(F.col("jaccard") >= 0.9)
    splits = assign_split(docs).select("doc_id", "split")
    tagged = (
        pairs.join(
            splits.select(F.col("doc_id").alias("id_a"), F.col("split").alias("sa")),
            "id_a",
        )
        .join(
            splits.select(F.col("doc_id").alias("id_b"), F.col("split").alias("sb")),
            "id_b",
        )
    )
    return (
        tagged.select(
            F.least("sa", "sb").alias("split_a"),
            F.greatest("sa", "sb").alias("split_b"),
        )
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .withColumn(
            "is_leak", (F.col("split_a") != F.col("split_b")).cast("int")
        )
    )


def _sql_split_leakage_audit() -> str:
    from dataplatform_cdc_pipeline_spark.queries_llm import SQL_DEDUP_MINHASH_LSH

    pairs = SQL_DEDUP_MINHASH_LSH.replace("ORDER BY id_a, id_b", "")
    slot = md5_long_sql("doc_id::VARCHAR", "split")
    return f"""
WITH RECURSIVE pairs AS ({pairs}),
splits AS (
  SELECT doc_id,
         CASE WHEN {slot} % 100 < 90 THEN 'train'
              WHEN {slot} % 100 < 95 THEN 'val' ELSE 'test' END AS split
  FROM documents),
tagged AS (
  SELECT least(a.split, b.split) AS split_a,
         greatest(a.split, b.split) AS split_b
  FROM pairs JOIN splits a ON pairs.id_a = a.doc_id
             JOIN splits b ON pairs.id_b = b.doc_id)
SELECT split_a, split_b, count(*) AS n_pairs,
       (split_a != split_b)::INT AS is_leak
FROM tagged GROUP BY 1, 2
"""

# ---------------------------------------------------------------------------
# packing efficiency: arrival-order vs length-sorted batching
# ---------------------------------------------------------------------------

_PACK_BATCH = 8


def _global_ranked(spark: SparkSession, df: DataFrame, sort_cols) -> DataFrame:
    """global_idx by the sort order — range partitioner + driver prefix
    offsets (the q_doc_global_ids formulation; never a one-partition
    window)."""
    parts = df.repartitionByRange(8, *sort_cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    parts = parts.localCheckpoint(eager=True)
    counts = parts.groupBy("__pid").agg(F.count(F.lit(1)).alias("n")).collect()
    offsets, acc = {}, 0
    for row in sorted(counts, key=lambda r: r["__pid"]):
        offsets[row["__pid"]] = acc
        acc += row["n"]
    off_df = spark.createDataFrame(
        [(p, o) for p, o in offsets.items()], "__pid int, __offset long"
    )
    w = Window.partitionBy("__pid").orderBy(*sort_cols)
    return (
        parts.join(F.broadcast(off_df), "__pid")
        .withColumn("global_idx", F.col("__offset") + F.row_number().over(w))
        .drop("__pid", "__offset")
    )


def q_packing_efficiency_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Why length-bucketed batching exists, measured: batch docs 8-at-a-
    time in ARRIVAL order vs LENGTH-SORTED order and compare padding
    waste (each batch pads to its longest member). One number per
    strategy: batches, padded char-slots, wasted slots, waste ppm.
    The sort-for-batching is the range-partition prefix-sum formulation
    — no single-partition window at any scale."""
    docs = spread_scan(load_table(spark, sf_dir, "documents")).select("doc_id", "n_chars")

    def waste_for(sort_cols, label: str) -> DataFrame:
        ranked = _global_ranked(spark, docs, sort_cols)
        per_batch = (
            ranked.withColumn(
                "batch_id", ((F.col("global_idx") - 1) / _PACK_BATCH).cast("long")
            )
            .groupBy("batch_id")
            .agg(
                F.count(F.lit(1)).alias("bn"),
                F.max("n_chars").alias("mx"),
                F.sum("n_chars").alias("sm"),
            )
        )
        return per_batch.agg(
            F.lit(label).alias("strategy"),
            F.count(F.lit(1)).alias("n_batches"),
            F.sum(F.col("bn") * F.col("mx")).alias("padded_slots"),
            F.sum(F.col("bn") * F.col("mx") - F.col("sm")).alias("wasted_slots"),
            F.floor(
                F.sum(F.col("bn") * F.col("mx") - F.col("sm"))
                * F.lit(1_000_000)
                / F.sum(F.col("bn") * F.col("mx"))
            ).cast("long").alias("waste_ppm"),
        )

    arrival = waste_for([F.col("doc_id")], "arrival")
    sorted_ = waste_for(
        [F.col("n_chars").desc(), F.col("doc_id")], "length_sorted"
    )
    return arrival.unionByName(sorted_)


SQL_PACKING_EFFICIENCY_EVAL = f"""
WITH a AS (
  SELECT (row_number() OVER (ORDER BY doc_id) - 1) // {_PACK_BATCH} AS batch_id,
         n_chars
  FROM documents),
ab AS (SELECT batch_id, count(*) AS bn, max(n_chars) AS mx, sum(n_chars) AS sm
       FROM a GROUP BY 1),
s AS (
  SELECT (row_number() OVER (ORDER BY n_chars DESC, doc_id) - 1)
           // {_PACK_BATCH} AS batch_id,
         n_chars
  FROM documents),
sb AS (SELECT batch_id, count(*) AS bn, max(n_chars) AS mx, sum(n_chars) AS sm
       FROM s GROUP BY 1)
SELECT 'arrival' AS strategy, count(*) AS n_batches,
       sum(bn * mx)::BIGINT AS padded_slots,
       sum(bn * mx - sm)::BIGINT AS wasted_slots,
       floor(sum(bn * mx - sm) * 1000000 / sum(bn * mx))::BIGINT AS waste_ppm
FROM ab
UNION ALL
SELECT 'length_sorted', count(*),
       sum(bn * mx)::BIGINT, sum(bn * mx - sm)::BIGINT,
       floor(sum(bn * mx - sm) * 1000000 / sum(bn * mx))::BIGINT
FROM sb
"""

# ---------------------------------------------------------------------------
# streaming sliding windows
# ---------------------------------------------------------------------------

_SLIDE_US = 3_600_000_000  # 1 h slide; window = 4 slides


def q_stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window streaming aggregation (4 h windows every 1 h —
    every event in exactly 4 overlapping windows), drained availableNow
    in complete mode; the result must equal the batch hopping-window
    formula, which IS the oracle. Completes the streaming window family:
    tumbling (stream_windowed_counts), session (stream_session_windows),
    sliding (here — state bounded at length/slide windows per group)."""
    import tempfile as _tf

    from dataplatform_cdc_pipeline_spark.streaming.windowed import (
        stream_sliding_counts,
    )

    tmp = _tf.mkdtemp(prefix="cdc_slide_q_")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    ev.write.parquet(f"{tmp}/src")
    bench_phases.mark("setup")  # staged source fixture ends here
    return stream_sliding_counts(
        spark,
        f"{tmp}/src",
        "event_id long, ts timestamp, event_type string, value double",
    )


SQL_STREAM_SLIDING_COUNTS = f"""
WITH ev AS (
  SELECT epoch_us(ts::TIMESTAMP) // {_SLIDE_US} AS idx, event_type,
         CAST(value AS DECIMAL(25,6)) AS v
  FROM events),
fan AS (
  SELECT (idx - k) * {_SLIDE_US} AS window_start_us, event_type, v
  FROM ev, (SELECT unnest(range(4)) AS k))
SELECT window_start_us, event_type, count(*) AS n,
       round(sum(v), 2)::DOUBLE AS total_value
FROM fan GROUP BY 1, 2
"""

# ---------------------------------------------------------------------------
# n-gram novelty (corpus diversity curve)
# ---------------------------------------------------------------------------


def q_text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the share of a doc's DISTINCT 3-grams that
    no earlier doc (smaller doc_id — the ingest order) has used — the
    corpus-diversity curve dedup pipelines watch (novelty collapsing to
    0 means the crawl is re-reading itself). One explode + a distinct
    (doc, gram) projection; first-seen is a gram-keyed MIN agg joined
    back — map-side combined, never quadratic."""
    from dataplatform_cdc_pipeline_spark.operators.text_analysis import tokens_expr

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(tokens_expr("text")).alias("pos", "tok")
    )
    per_doc = Window.partitionBy("doc_id").orderBy("pos")
    gram = F.concat_ws(
        " ", F.lag("tok", 2).over(per_doc), F.lag("tok", 1).over(per_doc),
        F.col("tok"),
    )
    grams = (
        toks.withColumn("gram", gram)
        .filter(F.col("pos") >= 2)
        .select("doc_id", "gram")
        .distinct()
    )
    first = grams.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    return (
        grams.join(first, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                (F.col("first_doc") == F.col("doc_id")).cast("int")
            ).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            F.floor(
                F.col("n_novel") * F.lit(1_000_000) / F.col("n_grams")
            ).cast("long").alias("novelty_ppm"),
        )
    )


SQL_TEXT_NGRAM_NOVELTY = f"""
WITH tok AS (
  SELECT doc_id, unnest({TOKS}) AS tok,
         generate_subscripts({TOKS}, 1) - 1 AS pos
  FROM documents),
lagged AS (
  SELECT doc_id, pos,
         concat_ws(' ', lag(tok, 2) OVER w, lag(tok, 1) OVER w, tok) AS gram
  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
grams AS (SELECT DISTINCT doc_id, gram FROM lagged WHERE pos >= 2),
first AS (SELECT gram, min(doc_id) AS first_doc FROM grams GROUP BY 1)
SELECT g.doc_id, count(*) AS n_grams,
       sum((f.first_doc = g.doc_id)::INT)::BIGINT AS n_novel,
       floor(sum((f.first_doc = g.doc_id)::INT) * 1000000 / count(*))::BIGINT
         AS novelty_ppm
FROM grams g JOIN first f USING (gram)
GROUP BY g.doc_id
"""

# ---------------------------------------------------------------------------
# duplication rate by domain (crawl diagnostics)
# ---------------------------------------------------------------------------


def q_dup_ratio_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which domains are re-crawling themselves: per-source document
    count, near-duplicate count (docs whose CC canonical id is another
    doc), and dup ppm — the diagnostic that decides where to point
    crawler politeness/dedup budgets. Composition of the CC clustering
    with a source rollup."""
    from dataplatform_cdc_pipeline_spark.operators.text_dedup import dedup_clusters
    from dataplatform_cdc_pipeline_spark.queries_llm import scored_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = scored_pairs(spark, sf_dir).filter(F.col("jaccard") >= 0.9)
    clusters = dedup_clusters(pairs, docs)
    return (
        clusters.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                (F.col("canonical_id") != F.col("doc_id")).cast("int")
            ).alias("n_dups"),
        )
        .select(
            "source",
            "n_docs",
            "n_dups",
            F.floor(
                F.col("n_dups") * F.lit(1_000_000) / F.col("n_docs")
            ).cast("long").alias("dup_ppm"),
        )
    )


def _sql_dup_ratio_by_source() -> str:
    from dataplatform_cdc_pipeline_spark.queries_llm import SQL_DEDUP_CLUSTERS

    return f"""
WITH base AS ({SQL_DEDUP_CLUSTERS})
SELECT d.source, count(*) AS n_docs,
       sum((b.canonical_id != b.doc_id)::INT)::BIGINT AS n_dups,
       floor(sum((b.canonical_id != b.doc_id)::INT) * 1000000
             / count(*))::BIGINT AS dup_ppm
FROM base b JOIN documents d USING (doc_id)
GROUP BY d.source
"""

# ---------------------------------------------------------------------------
# quality-vs-perplexity calibration
# ---------------------------------------------------------------------------


def q_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does the cheap rule-based quality score agree with the LM signal?
    Docs bucket into perplexity QUARTILES (quantile_cont cutoffs over
    the floored scores — a 1-row broadcast, no global sort) and each
    bucket reports doc count, mean quality (exact integer sum of the
    1e-4-floored scores — float means would be partition-order-
    dependent) and keep rate. A monotone trend = the two signals agree;
    this is the calibration read a curation pipeline does before
    trusting the cheap filter at 100 TB."""
    from dataplatform_cdc_pipeline_spark.operators.text_analysis import (
        quality_score_expr,
        unigram_logprob_frame,
    )

    docs = load_table(spark, sf_dir, "documents")
    # quality_score_expr returns floor(raw·1e4)/1e4 — an exact k/10000;
    # ROUND (not floor) of ·1e4 recovers the integer k: the re-scale can
    # sit 1 ulp under k, and flooring that would read k−1 while the
    # oracle's single floor(raw·1e4) reads k
    scored = unigram_logprob_frame(docs).join(
        docs.select(
            "doc_id",
            F.round(quality_score_expr("text") * F.lit(10_000.0))
            .cast("long").alias("q4"),
        ),
        "doc_id",
    )
    cuts = scored.agg(
        F.percentile(
            F.col("avg_neg_logprob"), F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
        ).alias("c")
    )
    bucketed = scored.crossJoin(F.broadcast(cuts)).withColumn(
        "ppl_bucket",
        F.when(F.col("avg_neg_logprob") < F.col("c")[0], 0)
        .when(F.col("avg_neg_logprob") < F.col("c")[1], 1)
        .when(F.col("avg_neg_logprob") < F.col("c")[2], 2)
        .otherwise(3),
    )
    return bucketed.groupBy("ppl_bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.floor(F.sum("q4") * F.lit(100) / F.count(F.lit(1)))
        .cast("long").alias("mean_quality_micro"),
        F.sum((F.col("q4") >= 5_000).cast("int")).alias("n_keep"),
    )


def _sql_quality_calibration() -> str:
    from dataplatform_cdc_pipeline_spark.queries_llm import (
        LANG_PROFILES,
        _stop_count_sql,
    )

    stop = _stop_count_sql(LANG_PROFILES["en"])
    return f"""
WITH t AS (SELECT doc_id, text, {TOKS} AS toks FROM documents),
qual AS (
  SELECT doc_id,
         floor((least(len(toks) / 100.0, 1.0) * 0.4
                + least(({stop} * 1.0 / len(toks)) * 10.0, 1.0) * 0.3
                + (1.0 - least((len(regexp_extract_all(text, '[.,!?;:]'))
                                * 1.0 / length(text)) * 20.0, 1.0)) * 0.2
                + CASE WHEN (length(text) - len(toks) + 1) * 1.0 / len(toks)
                            BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.0 END * 0.1)
               * 10000.0)::BIGINT AS q4
  FROM t),
tok AS (SELECT doc_id, unnest({TOKS}) AS term FROM documents),
vocab AS (SELECT term, count(*) AS c FROM tok GROUP BY term),
totals AS (SELECT sum(c) AS T, count(*) AS V FROM vocab),
nlp AS (
  SELECT tok.doc_id,
         CAST(-ln((vocab.c + 1) * 1.0 / (totals.T + totals.V))
              AS DECIMAL(28,12)) AS nlp
  FROM tok JOIN vocab USING (term), totals),
ppl AS (
  SELECT doc_id,
         floor(sum(nlp)::DOUBLE / count(*) * 1000000.0) / 1000000.0 AS s
  FROM nlp GROUP BY doc_id),
cuts AS (
  SELECT quantile_cont(s, 0.25) AS c1, quantile_cont(s, 0.5) AS c2,
         quantile_cont(s, 0.75) AS c3
  FROM ppl),
bucketed AS (
  SELECT p.doc_id,
         CASE WHEN s < c1 THEN 0 WHEN s < c2 THEN 1
              WHEN s < c3 THEN 2 ELSE 3 END AS ppl_bucket,
         q.q4
  FROM ppl p JOIN qual q USING (doc_id) CROSS JOIN cuts)
SELECT ppl_bucket, count(*) AS n_docs,
       floor(sum(q4) * 100 / count(*))::BIGINT AS mean_quality_micro,
       sum((q4 >= 5000)::INT)::BIGINT AS n_keep
FROM bucketed GROUP BY ppl_bucket
"""

# ---------------------------------------------------------------------------
# Zipf fit over the vocabulary
# ---------------------------------------------------------------------------

_ZIPF_TOP = 1000


def q_text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit: ln(freq) regressed on ln(rank) over the top-1000
    vocabulary (rank by count desc, term asc — deterministic). The
    top-k is TakeOrderedAndProject; the rank window runs on the BOUNDED
    1000-row result, never the vocabulary. Same exactness recipe as
    regression_suite: ln's floor-scaled to micro ints, exact integer
    sums, ONE identical double chain for slope/intercept/r². A healthy
    natural-language corpus fits slope ≈ −1; a synthetic or boilerplate-
    heavy corpus doesn't — a cheap corpus-health read."""
    from dataplatform_cdc_pipeline_spark.operators.text_analysis import tokens_expr

    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(tokens_expr("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("term").asc())
        .limit(_ZIPF_TOP)
    )
    w = Window.orderBy(F.col("c").desc(), F.col("term").asc())
    pts = vocab.withColumn("rank", F.row_number().over(w)).select(
        F.floor(F.log(F.col("rank").cast("double")) * F.lit(1e6))
        .cast("long").alias("x"),
        F.floor(F.log(F.col("c").cast("double")) * F.lit(1e6))
        .cast("long").alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )

    def d(c):
        return F.col(c).cast("double")

    num = d("n") * d("sxy") - d("sx") * d("sy")
    den = d("n") * d("sxx") - d("sx") * d("sx")
    deny = d("n") * d("syy") - d("sy") * d("sy")
    slope = num / den
    return s.select(
        "n",
        F.floor(slope * F.lit(1e6)).cast("long").alias("slope_ppm"),
        F.floor(
            (d("sy") - slope * d("sx")) / d("n") * F.lit(1e6)
        ).cast("long").alias("intercept_ppm"),
        F.floor(num * num / (den * deny) * F.lit(1e6))
        .cast("long").alias("r2_ppm"),
    )


SQL_TEXT_ZIPF_FIT = f"""
WITH tok AS (SELECT unnest({TOKS}) AS term FROM documents),
vocab AS (SELECT term, count(*) AS c FROM tok GROUP BY term
          ORDER BY c DESC, term ASC LIMIT {_ZIPF_TOP}),
pts AS (
  SELECT floor(ln(row_number() OVER (ORDER BY c DESC, term ASC)::DOUBLE)
               * 1000000.0)::BIGINT AS x,
         floor(ln(c::DOUBLE) * 1000000.0)::BIGINT AS y
  FROM vocab),
s AS (SELECT count(*) AS n, sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
             sum(x * y)::BIGINT AS sxy, sum(x * x)::BIGINT AS sxx,
             sum(y * y)::BIGINT AS syy
      FROM pts)
SELECT n,
       floor((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
             / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
             * 1000000.0)::BIGINT AS slope_ppm,
       floor((sy::DOUBLE - (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                           / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                           * sx::DOUBLE)
             / n::DOUBLE * 1000000.0)::BIGINT AS intercept_ppm,
       floor((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
             * (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
             / ((n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                * (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE))
             * 1000000.0)::BIGINT AS r2_ppm
FROM s
"""

# ---------------------------------------------------------------------------
# interval-overlap join (sessions x maintenance windows)
# ---------------------------------------------------------------------------

_OVERLAP_WIN_US = 6 * 3_600_000_000
_SESSION_GAP_US = 30 * 60_000_000


def q_session_window_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-OVERLAP join without a range cross product: user sessions
    (30-min-gap sessionization) against the fixed 6-hour window grid.
    Each session explodes into its candidate window INDICES
    (sequence(start div W, end div W) — fan bounded by session length /
    W), then an EQUI-join on the index replaces the inequality join; the
    exact overlap duration is computed after the match. The oracle is
    the naive inequality join — the scalable rewrite must agree row for
    row, overlap included."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gap = F.col("ts_us") - F.lag("ts_us").over(w)
    new_sess = F.when(gap.isNull() | (gap > _SESSION_GAP_US), 1).otherwise(0)
    sessions = (
        ev.withColumn("new_sess", new_sess)
        .withColumn(
            "session_id",
            F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "session_id")
        .agg(F.min("ts_us").alias("s_us"), F.max("ts_us").alias("e_us"))
    )
    fan = sessions.select(
        "user_id",
        "session_id",
        "s_us",
        "e_us",
        F.explode(
            F.sequence(
                (F.col("s_us") / _OVERLAP_WIN_US).cast("long"),
                (F.col("e_us") / _OVERLAP_WIN_US).cast("long"),
            )
        ).alias("w_idx"),
    )
    w_start = F.col("w_idx") * _OVERLAP_WIN_US
    w_end = w_start + _OVERLAP_WIN_US
    return fan.select(
        "user_id",
        "session_id",
        w_start.alias("window_start_us"),
        (
            F.least(F.col("e_us") + 1, w_end) - F.greatest(F.col("s_us"), w_start)
        ).alias("overlap_us"),
    )


SQL_SESSION_WINDOW_OVERLAP = f"""
WITH ev AS (
  SELECT event_id, user_id, epoch_us(ts::TIMESTAMP) AS ts_us FROM events),
g AS (
  SELECT event_id, user_id, ts_us,
         CASE WHEN lag(ts_us) OVER w IS NULL
                   OR ts_us - lag(ts_us) OVER w > {_SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_sess
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
sess AS (
  SELECT user_id,
         (sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         )::BIGINT AS session_id,
         ts_us
  FROM g),
spans AS (
  SELECT user_id, session_id, min(ts_us) AS s_us, max(ts_us) AS e_us
  FROM sess GROUP BY 1, 2),
grid AS (
  SELECT unnest(range((SELECT min(s_us) FROM spans) // {_OVERLAP_WIN_US},
                      (SELECT max(e_us) FROM spans) // {_OVERLAP_WIN_US} + 1))
           AS w_idx)
SELECT s.user_id, s.session_id,
       g.w_idx * {_OVERLAP_WIN_US} AS window_start_us,
       least(s.e_us + 1, (g.w_idx + 1) * {_OVERLAP_WIN_US})
         - greatest(s.s_us, g.w_idx * {_OVERLAP_WIN_US}) AS overlap_us
FROM spans s JOIN grid g
  ON s.s_us < (g.w_idx + 1) * {_OVERLAP_WIN_US}
 AND s.e_us >= g.w_idx * {_OVERLAP_WIN_US}
"""

# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# exact-substring span dedup (suffix-array family, windowed formulation)
# ---------------------------------------------------------------------------

_SPAN_W = 8  # window length in tokens (operators/substring_dedup.DEFAULT_WINDOW)


def q_dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup (operators/substring_dedup.py — the Lee et
    al. 2022 suffix-array family, windowed): every 8-token window
    occurring ≥2 times corpus-wide marks its positions duplicated;
    overlapping windows merge into maximal spans; tokens inside spans
    are REMOVED and the survivor text rebuilt. Per doc: token counts,
    duplicated-token count, span count, dup ppm, and the kept text —
    the hash gates the exact span boundaries, not just the rates
    (1015 duplicated windows / 47 hit docs at sf0.01)."""
    from dataplatform_cdc_pipeline_spark.operators.substring_dedup import (
        strip_duplicate_spans,
    )

    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    return strip_duplicate_spans(docs, _SPAN_W)


SQL_DEDUP_SUBSTRING_SPANS = f"""
WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
g AS (SELECT doc_id, u.i - 1 AS pos,
             md5(array_to_string(toks[u.i:u.i+{_SPAN_W}-1], ' ')) AS h
      FROM t, unnest(generate_series(1, len(toks)-{_SPAN_W}+1)) u(i)
      WHERE len(toks) >= {_SPAN_W}),
dup AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2),
hits AS (SELECT doc_id, pos FROM g WHERE h IN (SELECT h FROM dup)),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN max(pos + {_SPAN_W} - 1) OVER w IS NULL
                OR pos > max(pos + {_SPAN_W} - 1) OVER w + 1
              THEN 1 ELSE 0 END AS is_new
  FROM hits
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
sid AS (
  SELECT doc_id, pos,
         sum(is_new) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
  FROM isl),
spans AS (SELECT doc_id, span_id, min(pos) AS s, max(pos) + {_SPAN_W} - 1 AS e
          FROM sid GROUP BY 1, 2),
tok AS (SELECT doc_id, unnest(toks) AS tok,
               generate_subscripts(toks, 1) - 1 AS pos
        FROM t),
cov AS (
  SELECT k.doc_id, k.pos, k.tok,
         EXISTS (SELECT 1 FROM spans s
                 WHERE s.doc_id = k.doc_id AND k.pos BETWEEN s.s AND s.e)
           AS covered
  FROM tok k),
per AS (
  SELECT doc_id, count(*)::BIGINT AS n_tokens,
         sum(covered::INT)::BIGINT AS dup_tokens,
         string_agg(CASE WHEN NOT covered THEN tok END, ' ' ORDER BY pos)
           AS kept_text
  FROM cov GROUP BY 1),
ns AS (SELECT doc_id, count(*)::BIGINT AS n_spans FROM spans GROUP BY 1)
SELECT p.doc_id, p.n_tokens, p.dup_tokens,
       coalesce(ns.n_spans, 0)::BIGINT AS n_spans,
       floor(p.dup_tokens * 1000000 / p.n_tokens)::BIGINT AS dup_ppm,
       coalesce(p.kept_text, '') AS kept_text
FROM per p LEFT JOIN ns USING (doc_id)
"""


_BPE_SPAN_W = 50  # Lee et al. 2022's window length, in LEARNED-BPE tokens
_BPE_SPAN_MERGES = 3  # same merge budget as bpe_learn/bpe_encode


def q_dedup_substring_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup at PAPER-FAITHFUL parameters: spans are
    measured in learned-BPE token space with w=50 (Lee et al. 2022 §3 —
    the whitespace w=8 variant `dedup_substring_spans` is the
    toy-corpus tuning; this is the composition a 100 TB run ships).
    Pipeline: learn the merge table (operators/bpe.py), encode every
    document into its BPE symbol sequence ONCE (materialized — the
    tokenize-once invariant), then run the same window-fingerprint →
    maximal-span → strip machinery (operators/substring_dedup.py) over
    that token space via its ``tokens`` parameter. 7881 duplicated
    50-BPE-token windows across 45 docs at sf0.01 — the hash gates the
    exact BPE-space span boundaries and the surviving symbol stream."""
    from dataplatform_cdc_pipeline_spark.operators.bpe import (
        bpe_tokens_expr,
        learn_bpe_merges,
    )
    from dataplatform_cdc_pipeline_spark.operators.substring_dedup import (
        strip_duplicate_spans,
    )

    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    merges = learn_bpe_merges(docs, n_merges=_BPE_SPAN_MERGES)
    toks = docs.select(
        "doc_id", bpe_tokens_expr(merges).alias("__toks")
    ).localCheckpoint(eager=True)
    return strip_duplicate_spans(toks, _BPE_SPAN_W, tokens=F.col("__toks"))


def _sql_dedup_substring_bpe() -> str:
    from dataplatform_cdc_pipeline_spark.queries_llm import (
        _bpe_merge_sql,
        _bpe_round_sql,
    )

    def apply_keep_i(i: int, src: str) -> str:
        pat = f"' ' || (SELECT a FROM b{i}) || ' ' || (SELECT b FROM b{i}) || ' '"
        rep = f"' ' || (SELECT a || b FROM b{i}) || ' '"
        return (
            f"a{i} AS (SELECT doc_id, i, "
            f"replace(replace(seq, {pat}, {rep}), {pat}, {rep}) AS seq FROM {src})"
        )

    w = _BPE_SPAN_W
    return f"""
WITH wf AS MATERIALIZED (
  SELECT w, count(*) AS freq
  FROM (SELECT unnest({TOKS}) AS w FROM documents)
  WHERE w <> '' GROUP BY w),
v0 AS MATERIALIZED (SELECT ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS seq, freq FROM wf),
{_bpe_round_sql(1)},
{_bpe_merge_sql(1)},
{_bpe_round_sql(2)},
{_bpe_merge_sql(2)},
{_bpe_round_sql(3)},
dw AS MATERIALIZED (SELECT doc_id, w, i
       FROM (SELECT doc_id, unnest({TOKS}) AS w,
                    generate_subscripts({TOKS}, 1) AS i FROM documents)
       WHERE w <> ''),
a0 AS MATERIALIZED (SELECT doc_id, i, ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS seq FROM dw),
{apply_keep_i(1, 'a0')},
{apply_keep_i(2, 'a1')},
{apply_keep_i(3, 'a2')},
t AS MATERIALIZED (SELECT doc_id,
             flatten(list(string_split(trim(seq), ' ') ORDER BY i)) AS toks
      FROM a3 GROUP BY doc_id),
g AS MATERIALIZED (SELECT doc_id, u.i - 1 AS pos,
             md5(array_to_string(toks[u.i:u.i+{w}-1], ' ')) AS h
      FROM t, unnest(generate_series(1, len(toks)-{w}+1)) u(i)
      WHERE len(toks) >= {w}),
dup AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2),
hits AS (SELECT doc_id, pos FROM g WHERE h IN (SELECT h FROM dup)),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN max(pos + {w} - 1) OVER win IS NULL
                OR pos > max(pos + {w} - 1) OVER win + 1
              THEN 1 ELSE 0 END AS is_new
  FROM hits
  WINDOW win AS (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
sid AS (
  SELECT doc_id, pos,
         sum(is_new) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
  FROM isl),
spans AS MATERIALIZED (SELECT doc_id, span_id, min(pos) AS s, max(pos) + {w} - 1 AS e
          FROM sid GROUP BY 1, 2),
tok AS (SELECT doc_id, unnest(toks) AS tok,
               generate_subscripts(toks, 1) - 1 AS pos
        FROM t),
-- coverage via the same linear high-water union the Spark side uses (a
-- correlated EXISTS over tok×spans measured 138 s on the BPE token
-- volume — ~2.2× the whitespace token count; this form is <2 s)
mrg AS (
  SELECT doc_id, pos, tok, 0 AS is_span, NULL::BIGINT AS e FROM tok
  UNION ALL
  SELECT doc_id, s AS pos, NULL AS tok, 1 AS is_span, e FROM spans),
cov AS (
  SELECT doc_id, pos, tok, is_span,
         (is_span = 0)
         AND coalesce(max(e) OVER (
               PARTITION BY doc_id ORDER BY pos ASC, is_span DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), -1) >= pos
           AS covered
  FROM mrg),
per AS (
  SELECT doc_id, (count(*) FILTER (is_span = 0))::BIGINT AS n_tokens,
         sum((covered AND is_span = 0)::INT)::BIGINT AS dup_tokens,
         string_agg(CASE WHEN is_span = 0 AND NOT covered THEN tok END,
                    ' ' ORDER BY pos) AS kept_text
  FROM cov GROUP BY 1),
ns AS (SELECT doc_id, count(*)::BIGINT AS n_spans FROM spans GROUP BY 1)
SELECT p.doc_id, p.n_tokens, p.dup_tokens,
       coalesce(ns.n_spans, 0)::BIGINT AS n_spans,
       floor(p.dup_tokens * 1000000 / p.n_tokens)::BIGINT AS dup_ppm,
       coalesce(p.kept_text, '') AS kept_text
FROM per p LEFT JOIN ns USING (doc_id)
"""


SQL_DEDUP_SUBSTRING_BPE = _sql_dedup_substring_bpe()


# ---------------------------------------------------------------------------
# incremental corpus dedup through a persisted LSH band index
# ---------------------------------------------------------------------------


def q_incremental_dedup_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-batch corpus dedup at DELTA cost (operators/dedup_index.py):
    the MinHash-LSH band index lives as a batch-partitioned parquet
    table; each incoming crawl batch computes signatures only for its
    own docs, screens against the stored index, then publishes its band
    rows. Lifecycle here: bootstrap from the base corpus → screen batch
    b1 (doc_id%10==3) → publish b1 (twice — replay is idempotent via
    dynamic partition overwrite) → screen batch b2 (doc_id%10==7),
    whose cross pairs against b1 docs can ONLY come from the index. The
    pairs are bit-identical to from-scratch minhash_dedup_pairs over
    the union (same signature/band/Jaccard primitives)."""
    import tempfile

    from dataplatform_cdc_pipeline_spark.operators.dedup_index import (
        IncrementalLshIndex,
    )

    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    base = docs.filter(F.col("doc_id") % 10 != 3).filter(F.col("doc_id") % 10 != 7)
    d1 = docs.filter(F.col("doc_id") % 10 == 3)
    d2 = docs.filter(F.col("doc_id") % 10 == 7)
    idx = IncrementalLshIndex(spark, tempfile.mkdtemp(prefix="cdc_lshidx_") + "/ix")
    idx.add_batch("base", base)
    # screen + publish share one signature pass (r12 optimization —
    # band_rows is deterministic, so pairs and index are unchanged)
    b1_bands = idx.band_rows(d1)
    p1 = (
        idx.dedup_batch(d1, docs, threshold=0.5, bands=b1_bands)
        .withColumn("batch", F.lit("b1"))
        .localCheckpoint(eager=True)
    )
    idx.add_batch("b1", d1, bands=b1_bands)
    idx.add_batch("b1", d1)  # replay — recomputes, rewrites its own partition only
    p2 = idx.dedup_batch(d2, docs, threshold=0.5).withColumn("batch", F.lit("b2"))
    return p1.unionByName(p2)


def _sql_incremental_dedup_batch() -> str:
    from dataplatform_cdc_pipeline_spark.queries_llm import _MINHASH_FAMILY, SHINGLES

    return f"""
WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
s AS (SELECT doc_id, {SHINGLES} AS sh FROM t),
sig AS (
  SELECT doc_id, doc_id % 10 AS m,
         CASE doc_id % 10 WHEN 3 THEN 1 WHEN 7 THEN 2 ELSE 0 END AS grp,
         list_distinct(sh) AS shset,
         list_transform(range(0, 8), f ->
           list_min(list_transform(sh, g -> {_MINHASH_FAMILY}))) AS mh
  FROM s),
bands AS (
  SELECT doc_id, grp,
         unnest(list_transform(range(0, 4), b ->
           b::VARCHAR || '_' || mh[2*b + 1]::VARCHAR || '_' || mh[2*b + 2]::VARCHAR))
           AS band_key
  FROM sig),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, a.grp AS ga, b.doc_id AS id_b, b.grp AS gb
  FROM bands a JOIN bands b
    ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
labeled AS (
  SELECT 'b1' AS batch,
         CASE WHEN ga = 1 THEN id_a ELSE id_b END AS new_id,
         CASE WHEN ga = 1 THEN id_b ELSE id_a END AS other_id,
         CASE WHEN ga = 1 AND gb = 1 THEN 'intra' ELSE 'cross' END AS kind,
         id_a, id_b
  FROM cand WHERE ga <= 1 AND gb <= 1 AND (ga = 1 OR gb = 1)
  UNION ALL
  SELECT 'b2',
         CASE WHEN ga = 2 THEN id_a ELSE id_b END,
         CASE WHEN ga = 2 THEN id_b ELSE id_a END,
         CASE WHEN ga = 2 AND gb = 2 THEN 'intra' ELSE 'cross' END,
         id_a, id_b
  FROM cand WHERE ga = 2 OR gb = 2),
v AS (
  SELECT batch, new_id, other_id, kind,
         floor(len(list_intersect(sa.shset, sb.shset)) * 1.0 /
               len(list_distinct(list_concat(sa.shset, sb.shset)))
               * 1000000.0) / 1000000.0 AS jaccard
  FROM labeled JOIN sig sa ON labeled.id_a = sa.doc_id
               JOIN sig sb ON labeled.id_b = sb.doc_id)
SELECT new_id, other_id, kind, jaccard, batch
FROM v WHERE jaccard >= 0.5
"""


SQL_INCREMENTAL_DEDUP_BATCH = _sql_incremental_dedup_batch()


def q_stream_dedup_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-dup screening (streaming/dedup_stream.py): the
    documents arrive as THREE mtime-ordered micro-batches (doc_id%3 =
    0,1,2); each batch dedups against the index + archive built by the
    batches before it, then publishes its own band rows — exactly-once
    by partition rewrite. A pair's batch/new_id therefore encode the
    ARRIVAL ORDER (later doc is the new side; same-batch pairs are
    'intra'), which is what the oracle recomputes relationally."""
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from dataplatform_cdc_pipeline_spark.streaming.dedup_stream import (
        stream_incremental_dedup,
    )

    docs = spread_scan(load_table(spark, sf_dir, "documents")).select("doc_id", "text")
    tmp = _tempfile.mkdtemp(prefix="cdc_sdix_")
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
    out = stream_incremental_dedup(
        spark, src, "doc_id long, text string", f"{tmp}/work", threshold=0.5
    )
    bench_phases.mark("drain")  # screen -> publish -> archive drain
    return out


def _sql_stream_dedup_index() -> str:
    from dataplatform_cdc_pipeline_spark.queries_llm import _MINHASH_FAMILY, SHINGLES

    return f"""
WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
s AS (SELECT doc_id, {SHINGLES} AS sh FROM t),
sig AS (
  SELECT doc_id, doc_id % 3 AS grp,
         list_distinct(sh) AS shset,
         list_transform(range(0, 8), f ->
           list_min(list_transform(sh, g -> {_MINHASH_FAMILY}))) AS mh
  FROM s),
bands AS (
  SELECT doc_id, grp,
         unnest(list_transform(range(0, 4), b ->
           b::VARCHAR || '_' || mh[2*b + 1]::VARCHAR || '_' || mh[2*b + 2]::VARCHAR))
           AS band_key
  FROM sig),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, a.grp AS ga, b.doc_id AS id_b, b.grp AS gb
  FROM bands a JOIN bands b
    ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
labeled AS (
  SELECT CASE WHEN ga = gb THEN id_a WHEN ga > gb THEN id_a ELSE id_b END
           AS new_id,
         CASE WHEN ga = gb THEN id_b WHEN ga > gb THEN id_b ELSE id_a END
           AS other_id,
         CASE WHEN ga = gb THEN 'intra' ELSE 'cross' END AS kind,
         'b' || greatest(ga, gb)::VARCHAR AS batch, id_a, id_b
  FROM cand)
SELECT new_id, other_id, kind,
       floor(len(list_intersect(sa.shset, sb.shset)) * 1.0 /
             len(list_distinct(list_concat(sa.shset, sb.shset)))
             * 1000000.0) / 1000000.0 AS jaccard,
       batch
FROM labeled JOIN sig sa ON labeled.id_a = sa.doc_id
             JOIN sig sb ON labeled.id_b = sb.doc_id
WHERE floor(len(list_intersect(sa.shset, sb.shset)) * 1.0 /
            len(list_distinct(list_concat(sa.shset, sb.shset)))
            * 1000000.0) / 1000000.0 >= 0.5
"""


SQL_STREAM_DEDUP_INDEX = _sql_stream_dedup_index()


def q_decontamination_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level benchmark decontamination (operators/substring_dedup.
    decontaminate_against): every 8-token window of a TRAINING doc that
    appears verbatim in the held-out eval slice (doc_id % 5 == 0) marks
    a span; spans strip and the survivor text rebuilds. Span-level means
    a training doc QUOTING an eval doc loses the quote, not the doc —
    the Lee et al. 2022 §4 decontamination, vs contamination_check's
    doc-level shared-gram screen. Only contaminated docs are reported
    (the clean bulk passes through untouched — and unreported, so the
    result is the action list)."""
    from dataplatform_cdc_pipeline_spark.operators.substring_dedup import (
        decontaminate_against,
    )

    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    train = docs.filter(F.col("doc_id") % 5 != 0)
    bench = docs.filter(F.col("doc_id") % 5 == 0)
    return decontaminate_against(train, bench, _SPAN_W).filter(
        F.col("dup_tokens") > 0
    )


SQL_DECONTAMINATION_SPANS = f"""
WITH t0 AS (SELECT doc_id, {TOKS} AS toks FROM documents),
t AS (SELECT * FROM t0 WHERE doc_id % 5 != 0),
g AS (SELECT doc_id, u.i - 1 AS pos,
             md5(array_to_string(toks[u.i:u.i+{_SPAN_W}-1], ' ')) AS h
      FROM t, unnest(generate_series(1, len(toks)-{_SPAN_W}+1)) u(i)
      WHERE len(toks) >= {_SPAN_W}),
ref AS (SELECT DISTINCT md5(array_to_string(toks[u.i:u.i+{_SPAN_W}-1], ' ')) AS h
        FROM t0, unnest(generate_series(1, len(toks)-{_SPAN_W}+1)) u(i)
        WHERE doc_id % 5 = 0 AND len(toks) >= {_SPAN_W}),
hits AS (SELECT doc_id, pos FROM g WHERE h IN (SELECT h FROM ref)),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN max(pos + {_SPAN_W} - 1) OVER w IS NULL
                OR pos > max(pos + {_SPAN_W} - 1) OVER w + 1
              THEN 1 ELSE 0 END AS is_new
  FROM hits
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
sid AS (
  SELECT doc_id, pos,
         sum(is_new) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
  FROM isl),
spans AS (SELECT doc_id, span_id, min(pos) AS s, max(pos) + {_SPAN_W} - 1 AS e
          FROM sid GROUP BY 1, 2),
tok AS (SELECT doc_id, unnest(toks) AS tok,
               generate_subscripts(toks, 1) - 1 AS pos
        FROM t),
cov AS (
  SELECT k.doc_id, k.pos, k.tok,
         EXISTS (SELECT 1 FROM spans s
                 WHERE s.doc_id = k.doc_id AND k.pos BETWEEN s.s AND s.e)
           AS covered
  FROM tok k),
per AS (
  SELECT doc_id, count(*)::BIGINT AS n_tokens,
         sum(covered::INT)::BIGINT AS dup_tokens,
         string_agg(CASE WHEN NOT covered THEN tok END, ' ' ORDER BY pos)
           AS kept_text
  FROM cov GROUP BY 1),
ns AS (SELECT doc_id, count(*)::BIGINT AS n_spans FROM spans GROUP BY 1)
SELECT p.doc_id, p.n_tokens, p.dup_tokens,
       coalesce(ns.n_spans, 0)::BIGINT AS n_spans,
       floor(p.dup_tokens * 1000000 / p.n_tokens)::BIGINT AS dup_ppm,
       coalesce(p.kept_text, '') AS kept_text
FROM per p LEFT JOIN ns USING (doc_id)
WHERE p.dup_tokens > 0
"""


def q_dedup_soft_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup: instead of deleting near-duplicates, every doc gets a
    sampling weight 1/|cluster| (integer ppm) so each near-dup CLUSTER
    contributes one doc's worth of training mass — the duplication-aware
    reweighting some pipelines prefer over hard removal (keeps coverage,
    removes the repetition bias; pairs with the hard keep-policy twin
    `dedup_keep_best`). Composes the CC clustering with one cluster-size
    agg; effective corpus mass = Σ weights = #clusters, exactly."""
    from dataplatform_cdc_pipeline_spark.operators.text_dedup import dedup_clusters
    from dataplatform_cdc_pipeline_spark.queries_llm import scored_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = scored_pairs(spark, sf_dir).filter(F.col("jaccard") >= 0.9)
    clusters = dedup_clusters(pairs, docs)
    sizes = clusters.groupBy("canonical_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return clusters.join(sizes, "canonical_id").select(
        "doc_id",
        "canonical_id",
        "cluster_size",
        F.floor(F.lit(1_000_000) / F.col("cluster_size"))
        .cast("long")
        .alias("weight_ppm"),
    )


def _sql_dedup_soft_weights() -> str:
    from dataplatform_cdc_pipeline_spark.queries_llm import SQL_DEDUP_CLUSTERS

    return f"""
WITH clusters AS ({SQL_DEDUP_CLUSTERS}),
sizes AS (SELECT canonical_id, count(*)::BIGINT AS cluster_size
          FROM clusters GROUP BY 1)
SELECT doc_id, c.canonical_id, s.cluster_size,
       floor(1000000 / s.cluster_size)::BIGINT AS weight_ppm
FROM clusters c JOIN sizes s USING (canonical_id)
"""


SQL_DEDUP_SOFT_WEIGHTS = _sql_dedup_soft_weights()


_PROFILE_WS = (6, 8, 12)


def q_substring_dup_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The substring-dedup TUNING SURFACE (same pattern as the ANN recall
    curves): corpus duplication profile at window sizes w ∈ {6, 8, 12} —
    window counts, duplicated-window counts, docs hit, and total
    duplicated tokens per setting. Shorter windows catch more (and
    falser) repeats; the curve is what picks w before a 100 TB run."""
    from dataplatform_cdc_pipeline_spark.operators.substring_dedup import (
        duplicate_window_hits,
        spans_from_hits,
        window_hashes,
    )

    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    legs = []
    for w in _PROFILE_WS:
        g = window_hashes(docs, w)
        hits = duplicate_window_hits(docs, w)
        spans = spans_from_hits(hits, w)
        totals = g.agg(F.count(F.lit(1)).alias("n_windows")).crossJoin(
            hits.agg(
                F.count(F.lit(1)).alias("n_dup_windows"),
                F.countDistinct("doc_id").alias("n_docs_hit"),
            )
        ).crossJoin(
            spans.agg(
                F.coalesce(
                    F.sum(F.col("e") - F.col("s") + 1), F.lit(0)
                ).alias("dup_tokens")
            )
        )
        legs.append(totals.select(F.lit(w).alias("w"), "*"))
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


def _sql_substring_dup_profile() -> str:
    legs = []
    for w in _PROFILE_WS:
        legs.append(f"""
SELECT {w} AS w,
       (SELECT count(*) FROM g{w}) AS n_windows,
       (SELECT count(*) FROM hits{w}) AS n_dup_windows,
       (SELECT count(DISTINCT doc_id) FROM hits{w}) AS n_docs_hit,
       (SELECT coalesce(sum(e - s + 1), 0)::BIGINT FROM spans{w})
         AS dup_tokens""")
    ctes = []
    for w in _PROFILE_WS:
        ctes.append(f"""
g{w} AS (SELECT doc_id, u.i - 1 AS pos,
              md5(array_to_string(toks[u.i:u.i+{w}-1], ' ')) AS h
       FROM t, unnest(generate_series(1, len(toks)-{w}+1)) u(i)
       WHERE len(toks) >= {w}),
dup{w} AS (SELECT h FROM g{w} GROUP BY h HAVING count(*) >= 2),
hits{w} AS (SELECT doc_id, pos FROM g{w} WHERE h IN (SELECT h FROM dup{w})),
isl{w} AS (
  SELECT doc_id, pos,
         CASE WHEN max(pos + {w} - 1) OVER win IS NULL
                OR pos > max(pos + {w} - 1) OVER win + 1
              THEN 1 ELSE 0 END AS is_new
  FROM hits{w}
  WINDOW win AS (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
sid{w} AS (
  SELECT doc_id, pos,
         sum(is_new) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
  FROM isl{w}),
spans{w} AS (SELECT doc_id, span_id, min(pos) AS s, max(pos) + {w} - 1 AS e
           FROM sid{w} GROUP BY 1, 2)""")
    return (
        f"WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),"
        + ",".join(ctes)
        + "\nUNION ALL".join(legs)
    )


SQL_SUBSTRING_DUP_PROFILE = _sql_substring_dup_profile()


REGISTRY = {
    q_boilerplate_strip: SQL_BOILERPLATE_STRIP,
    q_corpus_weighted_sample: SQL_CORPUS_WEIGHTED_SAMPLE,
    q_pii_k_anonymity: SQL_PII_K_ANONYMITY,
    q_embedding_pq_topk: SQL_EMBEDDING_PQ_TOPK,
    q_pq_recall_eval: SQL_PQ_RECALL_EVAL,
    q_events_psi_drift: SQL_EVENTS_PSI_DRIFT,
    q_training_batches: SQL_TRAINING_BATCHES,
    q_tfidf_keywords: SQL_TFIDF_KEYWORDS,
    q_media_phash_dedup: SQL_MEDIA_PHASH_DEDUP,
    q_domain_temperature_sample: SQL_DOMAIN_TEMPERATURE_SAMPLE,
    q_hybrid_search_rrf: _sql_hybrid_rrf(),
    q_hard_negatives: SQL_HARD_NEGATIVES,
    q_phrase_search: SQL_PHRASE_SEARCH,
    q_events_hopping_windows: SQL_EVENTS_HOPPING_WINDOWS,
    q_pii_masked_read: SQL_PII_MASKED_READ,
    q_pii_l_diversity: SQL_PII_L_DIVERSITY,
    q_span_corruption: SQL_SPAN_CORRUPTION,
    q_stream_psi_drift: SQL_STREAM_PSI_DRIFT,
    q_regression_suite: SQL_REGRESSION_SUITE,
    q_dim_truncation_recall: SQL_DIM_TRUNCATION_RECALL,
    q_events_ewma: SQL_EVENTS_EWMA,
    q_curation_uncertainty_sample: SQL_CURATION_UNCERTAINTY_SAMPLE,
    q_orders_cohort_ltv: SQL_ORDERS_COHORT_LTV,
    q_cluster_safe_split: _sql_cluster_safe_split(),
    q_split_leakage_audit: _sql_split_leakage_audit(),
    q_packing_efficiency_eval: SQL_PACKING_EFFICIENCY_EVAL,
    q_stream_sliding_counts: SQL_STREAM_SLIDING_COUNTS,
    q_text_ngram_novelty: SQL_TEXT_NGRAM_NOVELTY,
    q_dup_ratio_by_source: _sql_dup_ratio_by_source(),
    q_quality_calibration: _sql_quality_calibration(),
    q_text_zipf_fit: SQL_TEXT_ZIPF_FIT,
    q_session_window_overlap: SQL_SESSION_WINDOW_OVERLAP,
    q_dedup_substring_spans: SQL_DEDUP_SUBSTRING_SPANS,
    q_dedup_substring_bpe: SQL_DEDUP_SUBSTRING_BPE,
    q_incremental_dedup_batch: SQL_INCREMENTAL_DEDUP_BATCH,
    q_stream_dedup_index: SQL_STREAM_DEDUP_INDEX,
    q_decontamination_spans: SQL_DECONTAMINATION_SPANS,
    q_dedup_soft_weights: SQL_DEDUP_SOFT_WEIGHTS,
    q_substring_dup_profile: SQL_SUBSTRING_DUP_PROFILE,
}
