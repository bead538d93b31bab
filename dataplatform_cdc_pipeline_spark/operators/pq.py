"""Product quantization (PQ) for embedding compression + ADC search.

PQ (Jégou et al., "Product Quantization for Nearest Neighbor Search",
TPAMI 2011) splits a d-dim vector into m subspaces of d/m dims, learns a
small k-centroid codebook per subspace (k-means), and stores each vector
as m small codes — here m·ceil(log2 k) bits instead of 4·d bytes. Search
uses ADC (asymmetric distance computation): the query stays exact; its
distance to each candidate is the sum over subspaces of the precomputed
query→centroid distance for the candidate's code — an m-entry table
lookup per candidate instead of a d-dim scan.

Exactness design (same discipline as operators/clustering.py, which this
module builds on):

- Codebooks are learned by the same exact-integer Lloyd recursion as
  :func:`clustering.kmeans_fit`, run GROUPED over all m subspaces —
  integer micro-unit arithmetic, deterministic (md5, id) seeding, exact
  64-bit squared distances, floor-stable centroid updates. The SAME seed
  rows serve every subspace (seeds depend only on vec_id).
- Encoding and ADC scoring are pure integer ops: code assignment is an
  exact argmin over ≤ k integer distances; the ADC score is an exact
  BIGINT sum of m table entries. There is NO float anywhere downstream
  of the (already floor-stable) codebook fit, so results are
  hash-oracle-checkable bit for bit.

Scale shape:
- Fit: m small k-means runs (production would fit on a sample; the
  codebook is m·k·(d/m) = k·d integers — an index artifact).
- Encode: ONE corpus scan, ZERO shuffles — the m codebooks ride the
  plan as literals and each row computes its m codes map-side
  (k·d ≤ ~100k literals).
- ADC: the per-query distance table (q·m·k rows — tiny) is broadcast;
  candidates join it map-side and one (query, vec) partial-aggregated
  shuffle sums the m per-subspace entries; top-k is a bounded window.
  The corpus-side data moved is the CODES (m ints/row), not the
  vectors — that is the point of PQ at 100 TB.

Reference parity: the reference has no vector-search surface — this is
beyond-reference LLM-pipeline surface (ANN index family: LSH planes →
IVF cells → SQ8 codes → PQ codes).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dataplatform_cdc_pipeline_spark.operators.clustering import quantized_points

#: codebook: per-subspace list of (code, centroid-in-micro-units)
Codebooks = list[list[tuple[int, list[int]]]]


def _nearest(cents: list[tuple[int, list[int]]], vcol: Column) -> Column:
    """struct(dist2, code) of the nearest codebook entry for ``vcol``
    (an integer micro-unit sub-vector) — exact integer math, ties break
    on the smaller code via lexicographic struct comparison."""
    cent_lit = F.array(
        *[
            F.struct(
                F.lit(c).alias("code"),
                F.array(*[F.lit(int(x)) for x in m]).alias("m"),
            )
            for c, m in cents
        ]
    )
    dists = F.transform(
        cent_lit,
        lambda s: F.struct(
            F.aggregate(
                F.zip_with(vcol, s["m"], lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("dist2"),
            s["code"].alias("code"),
        ),
    )
    return F.array_min(dists)


def pq_fit(
    embeddings: DataFrame,
    m: int = 4,
    k: int = 4,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> Codebooks:
    """Learn m per-subspace codebooks (k centroids each) via the exact
    integer k-means. Fails loudly when d % m != 0 (ragged subspaces would
    silently skew the code budget)."""
    first = embeddings.select(F.size(vec_col).alias("d")).first()
    if first is None:
        raise ValueError("pq_fit: empty embeddings frame")
    d = first["d"]
    if d % m != 0:
        raise ValueError(f"pq_fit: dim {d} not divisible by m={m}")
    sub_len = d // m

    # Grouped Lloyd (r12 optimization, guide §1.2/§2.3): ONE seed collect
    # and ONE corpus scan per iteration update ALL m codebooks, instead of
    # m independent kmeans_fit loops (m×(1 + n_iter) corpus passes →
    # 1 + n_iter). Exactly the per-subspace recursion: the seed ids are
    # the same k rows in every subspace (smallest (md5(id), id), the same
    # rule seed_centroids applies to each slice); slicing commutes with
    # the elementwise micro-quantization; each subspace's assignment uses
    # its own codebook only (numpy argmin keeps ties on the first —
    # lowest — code, matching clustering.assign's (dist2, cluster) rule); the
    # centroid update is the identical floor(Σ/ n) integer mean per
    # (sub, cluster, pos). Equivalence with the kmeans_fit-per-slice loop
    # is pinned by a regression test.
    import numpy as np

    from dataplatform_cdc_pipeline_spark.operators.clustering import (
        seed_centroids,
    )

    pts = quantized_points(embeddings, id_col, vec_col)
    # the per-subspace seed ids are the SAME k rows in every subspace, so
    # ONE seed_centroids call over the full vectors (the seed rule stays
    # single-sited in clustering.py) sliced per subspace seeds all m books
    seeds = seed_centroids(pts, k)
    if not seeds:
        raise ValueError("pq_fit: empty embeddings frame")
    books: Codebooks = [
        [(c, v[s * sub_len : (s + 1) * sub_len]) for c, v in seeds]
        for s in range(m)
    ]

    for _ in range(n_iter):
        mats = [
            np.array([mv for _, mv in books[s]], dtype="int64") for s in range(m)
        ]
        ids_ = [[c for c, _ in books[s]] for s in range(m)]

        def partials(batches):
            import pandas as pd

            for pdf in batches:
                if not len(pdf):
                    continue
                v = np.stack(pdf["v"].to_numpy()).astype("int64")
                out = []
                for s in range(m):
                    vs = v[:, s * sub_len : (s + 1) * sub_len]
                    diff = vs[:, None, :] - mats[s][None, :, :]
                    best = (diff * diff).sum(axis=2).argmin(axis=1)
                    for i, c in enumerate(ids_[s]):
                        members = vs[best == i]
                        if len(members):
                            sm = members.sum(axis=0)  # exact int64 partial
                            out.append(
                                pd.DataFrame(
                                    {
                                        "sub": s,
                                        "cluster": int(c),
                                        "pos": np.arange(sub_len),
                                        "s": sm,
                                        "c": len(members),
                                    }
                                )
                            )
                if out:
                    yield pd.concat(out)

        rows = (
            pts.mapInPandas(partials, "sub int, cluster int, pos int, s long, c long")
            .groupBy("sub", "cluster", "pos")
            .agg(F.floor(F.sum("s") / F.sum("c")).cast("long").alias("m"))
            .groupBy("sub", "cluster")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select(
                "sub", "cluster", F.transform("pm", lambda s: s["m"]).alias("m")
            )
            .collect()  # m·k rows — index artifact
        )
        books = [
            sorted(
                (r["cluster"], list(r["m"])) for r in rows if r["sub"] == s
            )
            for s in range(m)
        ]
    return books


def pq_encode(
    embeddings: DataFrame,
    books: Codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, sub, code) — one scan, zero shuffles: every row computes
    its m codes against literal codebooks and posexplodes them."""
    m = len(books)
    if m == 0:
        raise ValueError("pq_encode: no codebooks")
    sub_len = len(books[0][0][1])
    pts = quantized_points(embeddings, id_col, vec_col)
    codes = F.array(
        *[
            _nearest(books[s], F.slice(F.col("v"), s * sub_len + 1, sub_len))["code"]
            for s in range(m)
        ]
    )
    return pts.select(
        "vec_id", F.posexplode(codes).alias("sub", "code")
    )


def pq_distance_table(
    queries: DataFrame,
    books: Codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, sub, code, d) — the ADC lookup table: the exact integer
    squared distance from each query's sub-vector to every codebook
    centroid. q·m·k rows; built map-side from codebook literals."""
    m = len(books)
    sub_len = len(books[0][0][1])
    pts = quantized_points(queries, id_col, vec_col).withColumnRenamed(
        "vec_id", "query_id"
    )
    entries = F.array(
        *[
            F.struct(
                F.lit(s).alias("sub"),
                F.lit(c).alias("code"),
                F.aggregate(
                    F.zip_with(
                        F.slice(F.col("v"), s * sub_len + 1, sub_len),
                        F.array(*[F.lit(int(x)) for x in cm]),
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                ).alias("d"),
            )
            for s in range(m)
            for c, cm in books[s]
        ]
    )
    return pts.select("query_id", F.explode(entries).alias("e")).select(
        "query_id", F.col("e.sub").alias("sub"), F.col("e.code").alias("code"),
        F.col("e.d").alias("d"),
    )


def pq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    books: Codebooks,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k candidates per query by exact-integer ADC distance.

    Codes (m small ints per corpus row) join the BROADCAST distance
    table map-side; one partially-aggregated (query, vec) shuffle sums
    the m entries; a bounded window ranks. Self-matches excluded.
    """
    from pyspark.sql import Window

    m = len(books)
    codes = pq_encode(embeddings, books, id_col, vec_col)
    dtab = pq_distance_table(queries, books, id_col, vec_col)
    scored = (
        codes.join(F.broadcast(dtab), ["sub", "code"])
        .filter(F.col("query_id") != F.col("vec_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("d").alias("adc_dist2"), F.count(F.lit(1)).alias("__n"))
    )
    # every (query, vec) pair must see all m subspace entries — a miss
    # would mean a code outside the codebook (impossible by construction;
    # guard anyway so a future regression fails loudly, not silently)
    guarded = scored.filter(F.col("__n") == m).drop("__n")
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist2").asc(), F.col("vec_id").asc()
    )
    return (
        guarded.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "rk", F.col("vec_id").alias("nbr_id"), "adc_dist2")
    )
