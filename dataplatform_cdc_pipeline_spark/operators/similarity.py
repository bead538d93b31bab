"""Embedding similarity search: brute-force cosine top-k (baseline) and
random-hyperplane LSH bucketing (the scale path), plus cosine near-dup
pairing.

Scale design:
- **Brute force** is the correctness baseline: broadcast the (small) query
  set, one scan of the corpus, per-partition top-k via window. O(Q·N·d)
  but embarrassingly parallel — right up to a few thousand queries.
- **Hyperplane LSH**: bucket = sign-bit string of `planes` fixed random
  hyperplanes. The hyperplane matrix is DERIVED FROM MD5 in Python
  (deterministic, no RNG state), inlined as literals → the same constants
  reproduce in any engine. Candidates = same-bucket rows only: one
  shuffle on the bucket key replaces the O(N²)/O(Q·N) cross product.
- **Near-dup pairs**: same-bucket self-join + exact cosine ≥ τ verify —
  the embedding analogue of MinHash-LSH dedup.

Dot products fold left-to-right on both engines → bit-identical doubles
for float32 inputs; outputs round to 6 decimals anyway.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_PLANES = 8


def hyperplane_signs(planes: int, dims: int) -> list[list[int]]:
    """Deterministic ±1 hyperplane matrix from MD5 — identical constants in
    every engine/run (no RNG seed to drift)."""
    mat = []
    for p in range(planes):
        row = []
        for d in range(dims):
            h = hashlib.md5(f"plane{p}|dim{d}".encode()).hexdigest()
            row.append(1 if int(h[:8], 16) % 2 == 0 else -1)
        mat.append(row)
    return mat


def as_double_vec(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot_expr(a: Column, b: Column) -> Column:
    """Sequential left fold — the same accumulation order DuckDB uses."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(dot_expr(a, a))


def floor6(x: Column) -> Column:
    """Truncate to 6 decimals — deterministic across engines for
    bit-identical inputs, unlike round() whose half-up boundary handling
    differs between Spark (shortest-decimal BigDecimal) and DuckDB
    (std::round on the binary value)."""
    return F.floor(x * F.lit(1000000.0)) / F.lit(1000000.0)


def lsh_bucket_expr(vec: Column, signs: list[list[int]]) -> Column:
    """Sign-bit bucket key: one char per hyperplane ('1' if dot ≥ 0)."""
    bits = []
    for row in signs:
        plane = F.array(*[F.lit(float(s)) for s in row])
        bits.append(F.when(dot_expr(vec, plane) >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def vec_stats_udf(signs: list[list[int]]):
    """Arrow-batched (bucket, norm) — bit-identical to
    ``lsh_bucket_expr`` + ``norm_expr`` but vectorized in numpy: the
    higher-order array folds evaluate interpreted per element, which is the
    dominant per-row cost of the bucketing stage at any scale.

    Bit-exactness: the accumulation loops run SEQUENTIALLY OVER DIMENSIONS
    (vectorized over rows), i.e. the same left-fold order as those Column
    helpers and DuckDB's ``list_dot_product`` — NOT ``np.dot``, whose
    pairwise/BLAS summation could flip the sign of near-zero dots and
    re-bucket a vector. Pinned by a differential test.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    planes = np.array(signs, dtype=np.float64)  # (P, D)

    @F.pandas_udf(
        T.StructType(
            [T.StructField("bucket", T.StringType()), T.StructField("nrm", T.DoubleType())]
        )
    )
    def vs(emb):  # (pd.Series) -> pd.DataFrame; hints omitted — the string
        # annotations from `from __future__ import annotations` defeat
        # pyspark's eval-type inference for locally-imported pandas
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in emb])  # (N, D)
        n, d = mat.shape
        dots = np.zeros((n, planes.shape[0]))
        sq = np.zeros(n)
        for j in range(d):
            dots += mat[:, j : j + 1] * planes[:, j]
            sq += mat[:, j] * mat[:, j]
        bits = (dots >= 0).astype(np.uint8)
        buckets = ["".join("1" if b else "0" for b in row) for row in bits]
        return pd.DataFrame({"bucket": buckets, "nrm": np.sqrt(sq)})

    return vs


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query (baseline). Queries broadcast; one
    corpus scan; ranked window per query id."""
    from pyspark.sql import Window

    # norms precomputed per row — the pair stage does ONE fold (the dot),
    # not three (dot + two norms) per comparison
    corpus = embeddings.select(
        F.col(id_col).alias("nbr_id"), as_double_vec(vec_col).alias("nbr_vec")
    ).withColumn("nbr_norm", norm_expr(F.col("nbr_vec")))
    qs = queries.select(
        F.col(id_col).alias("query_id"), as_double_vec(vec_col).alias("q_vec")
    ).withColumn("q_norm", norm_expr(F.col("q_vec")))
    scored = corpus.join(F.broadcast(qs), F.col("query_id") != F.col("nbr_id")).select(
        "query_id",
        "nbr_id",
        floor6(
            dot_expr(F.col("q_vec"), F.col("nbr_vec")) / (F.col("q_norm") * F.col("nbr_norm"))
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("nbr_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "rk", "nbr_id", "cosine")
    )


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    planes: int = DEFAULT_PLANES,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: compare only within the query's LSH bucket.
    One shuffle on the bucket key instead of a full cross product."""
    from pyspark.sql import Window

    signs = hyperplane_signs(planes, dims)
    corpus = (
        embeddings.select(
            F.col(id_col).alias("nbr_id"),
            as_double_vec(vec_col).alias("nbr_vec"),
        )
        .withColumn("bucket", lsh_bucket_expr(F.col("nbr_vec"), signs))
        .withColumn("nbr_norm", norm_expr(F.col("nbr_vec")))
    )
    qs = (
        queries.select(F.col(id_col).alias("query_id"), as_double_vec(vec_col).alias("q_vec"))
        .withColumn("bucket", lsh_bucket_expr(F.col("q_vec"), signs))
        .withColumn("q_norm", norm_expr(F.col("q_vec")))
    )
    scored = corpus.join(
        F.broadcast(qs), (F.col("query_id") != F.col("nbr_id")) & (corpus.bucket == qs.bucket)
    ).select(
        "query_id",
        "nbr_id",
        floor6(
            dot_expr(F.col("q_vec"), F.col("nbr_vec")) / (F.col("q_norm") * F.col("nbr_norm"))
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("nbr_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "rk", "nbr_id", "cosine")
    )


def ivf_centroids(
    embeddings: DataFrame,
    cell_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Build the IVF coarse-quantizer index: per-cell mean vector + norm.

    This is an INDEX ARTIFACT, not a per-query computation — at scale you
    build it once (or maintain it incrementally as the corpus grows), write
    it next to the corpus, and broadcast it into every probe. Callers that
    issue multiple IVF queries should materialize the returned frame (e.g.
    ``.localCheckpoint(eager=True)``) and pass it to :func:`ivf_topk`.

    Returns (cell, centroid array<double>, c_norm).
    """
    dims_df = embeddings.select(
        F.col(cell_col).alias("cell"),
        F.posexplode(as_double_vec(vec_col)).alias("pos", "x"),
    )
    return (
        dims_df.groupBy("cell", "pos")
        .agg(F.avg("x").alias("c"))
        .groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select("cell", F.transform("pc", lambda s: s["c"]).alias("centroid"))
        .withColumn("c_norm", norm_expr(F.col("centroid")))
    )


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    cell_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style ANN: coarse-quantize by cell centroid, probe ``nprobe``
    cells.

    The inverted-file index here uses a deterministic coarse quantizer —
    cell = the provided partition column (a prior clustering / routing
    key), centroids = per-cell mean vectors. A query probes only the
    ``nprobe`` cells whose centroids are nearest: centroids are tiny and
    broadcast; the corpus is scanned with a cell filter, so at scale the
    probe reads nprobe/cells of the data (with the corpus physically
    partitioned by cell, that is partition pruning, not just a filter).
    Raising nprobe is the standard recall/cost lever.

    ``centroids``: a precomputed :func:`ivf_centroids` frame. When omitted
    the index is (re)built from the corpus — fine for one-shot use, but
    repeated callers should precompute.
    """
    from pyspark.sql import Window

    vecs = embeddings.select(
        F.col(id_col).alias("nbr_id"),
        F.col(cell_col).alias("cell"),
        as_double_vec(vec_col).alias("nbr_vec"),
    ).withColumn("nbr_norm", norm_expr(F.col("nbr_vec")))

    if centroids is None:
        centroids = ivf_centroids(embeddings, cell_col, vec_col)

    qs = queries.select(
        F.col(id_col).alias("query_id"), as_double_vec(vec_col).alias("q_vec")
    ).withColumn("q_norm", norm_expr(F.col("q_vec")))

    # route each query to its nearest centroid (centroids broadcast)
    routed = (
        qs.crossJoin(F.broadcast(centroids))
        .withColumn(
            "c_cos",
            dot_expr(F.col("q_vec"), F.col("centroid")) / (F.col("q_norm") * F.col("c_norm")),
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.col("c_cos").desc(), F.col("cell").asc())
            ),
        )
        .filter(F.col("rk") <= nprobe)
        .select("query_id", "q_vec", "q_norm", "cell")
    )

    scored = vecs.join(
        F.broadcast(routed), (vecs.cell == routed.cell) & (F.col("query_id") != F.col("nbr_id"))
    ).select(
        "query_id",
        "nbr_id",
        floor6(
            dot_expr(F.col("q_vec"), F.col("nbr_vec")) / (F.col("q_norm") * F.col("nbr_norm"))
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("nbr_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "rk", "nbr_id", "cosine")
    )


def ivf_topk_multi(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobes: tuple[int, ...] = (1, 2, 4),
    cell_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF top-k at SEVERAL nprobe settings from ONE probe scan — the
    recall/cost curve's data side.

    The candidate set of ``nprobe = n`` is a prefix (by probe rank) of the
    candidate set of ``max(nprobes)``, so the whole curve is derived from a
    single corpus probe at the widest setting: route queries once keeping
    the probe rank, scan the probed cells once, materialize the (small,
    per-query-bounded) candidate frame, then cut+re-rank per nprobe. At
    scale this replaces |nprobes| corpus scans with one.

    Returns (nprobe, query_id, rk, nbr_id, cosine).
    """
    from pyspark.sql import Window

    max_np = max(nprobes)
    vecs = embeddings.select(
        F.col(id_col).alias("nbr_id"),
        F.col(cell_col).alias("cell"),
        as_double_vec(vec_col).alias("nbr_vec"),
    ).withColumn("nbr_norm", norm_expr(F.col("nbr_vec")))
    if centroids is None:
        centroids = ivf_centroids(embeddings, cell_col, vec_col)
    qs = queries.select(
        F.col(id_col).alias("query_id"), as_double_vec(vec_col).alias("q_vec")
    ).withColumn("q_norm", norm_expr(F.col("q_vec")))
    routed = (
        qs.crossJoin(F.broadcast(centroids))
        .withColumn(
            "c_cos",
            dot_expr(F.col("q_vec"), F.col("centroid")) / (F.col("q_norm") * F.col("c_norm")),
        )
        .withColumn(
            "probe_rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.col("c_cos").desc(), F.col("cell").asc())
            ),
        )
        .filter(F.col("probe_rank") <= max_np)
        .select("query_id", "q_vec", "q_norm", "cell", "probe_rank")
    )
    cand = vecs.join(
        F.broadcast(routed), (vecs.cell == routed.cell) & (F.col("query_id") != F.col("nbr_id"))
    ).select(
        "query_id",
        "probe_rank",
        "nbr_id",
        floor6(
            dot_expr(F.col("q_vec"), F.col("nbr_vec")) / (F.col("q_norm") * F.col("nbr_norm"))
        ).alias("cosine"),
    )
    # one probe scan feeds every curve point (eager checkpoint, not
    # persist — invariant 11); size = probed-cell candidates per query
    cand = cand.localCheckpoint(eager=True)
    out = None
    for np_ in nprobes:
        w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("nbr_id").asc())
        leg = (
            cand.filter(F.col("probe_rank") <= np_)
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select(F.lit(np_).alias("nprobe"), "query_id", "rk", "nbr_id", "cosine")
        )
        out = leg if out is None else out.unionByName(leg)
    return out


def cosine_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    planes: int = DEFAULT_PLANES,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = 5000,  # lsh_guard.DEFAULT_MAX_BUCKET
) -> DataFrame:
    """Embedding near-duplicate pairs (a < b, cosine ≥ threshold) found
    within LSH buckets — near-identical vectors land in the same bucket
    with high probability; bucketing bounds the pairwise work.

    Degenerate buckets larger than ``max_bucket_size`` — e.g. thousands of
    zero/constant vectors sharing one sign pattern — are dropped (and
    logged) before the self-join; ``None`` disables the guard.
    """
    from dataplatform_cdc_pipeline_spark.operators.lsh_guard import cap_buckets

    # materialized once (one Arrow pass) for the guard pass and
    # both self-join sides — eager localCheckpoint, not persist(): a persist
    # pins the plan in the SQL cache manager until explicit unpersist, and
    # the returned frame's laziness means no safe unpersist point exists in
    # this function; checkpoint RDDs are ContextCleaner-reclaimed instead
    stats = vec_stats_udf(hyperplane_signs(planes, dims))(F.col(vec_col)).alias("__s")
    vecs = (
        embeddings.select(F.col(id_col), as_double_vec(vec_col).alias("vec"), stats)
        .select(id_col, "vec", F.col("__s.bucket").alias("bucket"), F.col("__s.nrm").alias("nrm"))
        .localCheckpoint(eager=True)
    )
    vecs = cap_buckets(vecs, "bucket", max_bucket_size, "embedding-near-dup")
    a, b = vecs.alias("a"), vecs.alias("b")
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            floor6(
                dot_expr(F.col("a.vec"), F.col("b.vec")) / (F.col("a.nrm") * F.col("b.nrm"))
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
