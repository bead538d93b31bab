"""K-means clustering over embedding columns — the learned coarse
quantizer the IVF index wants (similarity.py's `ivf_topk` routes by a
PRE-EXISTING cell column; real IVF learns its cells).

Exactness design (what makes this hash-oracle-able):
- Coordinates are quantized ONCE to integer micro-units
  (``round(x * 1e6) -> bigint``); every distance is then an EXACT
  64-bit sum of squared integer differences — no float accumulation
  order to drift between engines, partitions, or runs.
- Seeding is deterministic: the k points with the smallest
  ``(md5(id), id)`` become clusters 0..k-1 — no RNG state.
- The centroid update is ``floor(sum / count)`` per dimension. The only
  float op in the loop is that one division, and its floor is stable:
  the true quotient is a rational with denominator ≤ cluster size, so
  it is either exactly an integer or ≥ 1/count away from one — an IEEE
  division error (~1e-8 relative) can never cross the floor boundary.
- Ties (equidistant point, equal-hash seeds) break on the smaller
  cluster id — total order, both engines.

Scale shape (Lloyd's step on a cluster):
- Assignment: centroids are an index artifact — k·d integers — collected
  to the driver and shipped to executors in the task closure (MLlib's
  KMeans does the same). One corpus scan per iteration, ZERO shuffles:
  the kernel is mapInPandas + numpy int64 (compile-free; the
  Column-literal alternative measured janino-compile-bound — SCALE.md
  "k-means formulation race").
- Update: each Arrow batch emits k·d partial (cluster, pos, sum, count)
  rows — manual map-side combine — so the only exchange per iteration
  moves k·d-sized partials, not data.
- Iterations are driver-side Python over flat lineage (each round reads
  the quantized corpus, not the previous round's plan), so n_iter does
  not stack lineage.

Reference parity: the reference has no clustering operator — this is
beyond-reference surface for the LLM-data pipeline (corpus domain
discovery, IVF cell learning).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MICRO = 1_000_000.0


def micro_units_expr(col) -> F.Column:
    """array<long> of exact integer micro-units for a float-vector column
    — THE quantization convention every integer-exact operator shares
    (kmeans, SQ8, PQ, the IVF index artifacts). Single-sited so the
    persisted artifacts and the probe-side encoders can never drift."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(
        c, lambda x: F.round(x.cast("double") * F.lit(MICRO), 0).cast("long")
    )


def quantized_points(
    embeddings: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(vec_id, v: array<long>) — coordinates in exact integer micro-units."""
    return embeddings.select(
        F.col(id_col).alias("vec_id"),
        micro_units_expr(vec_col).alias("v"),
    )


def seed_centroids(pts: DataFrame, k: int) -> list[tuple[int, list[int]]]:
    """Clusters 0..k-1 = the k points with the smallest (md5(id), id).

    Distributed top-k (``orderBy().limit(k)`` plans as
    TakeOrderedAndProject: per-partition heads merged on the driver) —
    NOT a global-window row_number, which would move every row to one
    partition."""
    rows = (
        pts.select(F.md5(F.col("vec_id").cast("string")).alias("h"), "vec_id", "v")
        .orderBy("h", "vec_id")
        .limit(k)
        .collect()  # k rows — bounded by k, an index artifact
    )
    rows.sort(key=lambda r: (r["h"], r["vec_id"]))
    return [(i, list(r["v"])) for i, r in enumerate(rows)]


def _centroid_arrays(centroids: list[tuple[int, list[int]]]):
    """(cluster ids ascending, (k, d) int64 matrix) — ascending order makes
    numpy argmin's first-match tie-break equal the (dist2, cluster) rule."""
    import numpy as np

    cents = sorted(centroids)
    ids = np.array([c for c, _ in cents], dtype="int32")
    mat = np.array([m for _, m in cents], dtype="int64")
    return ids, mat


def _assign_batches(centroids: list[tuple[int, list[int]]]):
    """mapInPandas kernel: per Arrow batch, the exact (n, k) int64 distance
    matrix and its argmin. Integer arithmetic → bit-identical to the
    DuckDB oracle; no generated-code footprint (a literal-Column form
    bakes k·d literals into janino source, recompiling every iteration —
    measured compile-bound, see SCALE.md)."""
    import numpy as np

    ids, mat = _centroid_arrays(centroids)

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(pdf["v"].to_numpy()).astype("int64")  # (n, d)
            diff = v[:, None, :] - mat[None, :, :]  # (n, k, d)
            d2 = (diff * diff).sum(axis=2)  # exact int64
            best = d2.argmin(axis=1)  # first match = lowest cluster id
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "cluster": ids[best],
                    "dist2": d2[np.arange(len(best)), best],
                }
            )

    return fn


def assign(pts: DataFrame, centroids: list[tuple[int, list[int]]]) -> DataFrame:
    """(vec_id, cluster, dist2) — nearest centroid by exact squared
    distance, ties to the lowest cluster id. Map-only, zero shuffles:
    numpy does the k·d work per Arrow batch."""
    return pts.mapInPandas(_assign_batches(centroids), "vec_id long, cluster int, dist2 long")


def update_centroids(
    pts: DataFrame, centroids: list[tuple[int, list[int]]]
) -> list[tuple[int, list[int]]]:
    """floor(per-dimension mean) of each cluster's members, in micro-units.

    Assignment fuses into the scan; each Arrow batch emits k·d partial
    (cluster, pos, sum, count) rows — manual map-side combine — so one
    Lloyd iteration is one corpus scan + one (cluster, pos)-key shuffle
    of partials. A cluster that lost every member simply disappears
    (both engines)."""
    import numpy as np

    ids, mat = _centroid_arrays(centroids)

    def partials(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(pdf["v"].to_numpy()).astype("int64")
            diff = v[:, None, :] - mat[None, :, :]
            best = (diff * diff).sum(axis=2).argmin(axis=1)
            out = []
            for i, c in enumerate(ids):
                members = v[best == i]
                if len(members):
                    s = members.sum(axis=0)  # exact int64 partial
                    out.append(
                        pd.DataFrame(
                            {
                                "cluster": int(c),
                                "pos": np.arange(v.shape[1]),
                                "s": s,
                                "c": len(members),
                            }
                        )
                    )
            if out:
                yield pd.concat(out)

    rows = (
        pts.mapInPandas(partials, "cluster int, pos int, s long, c long")
        .groupBy("cluster", "pos")
        .agg(F.floor(F.sum("s") / F.sum("c")).cast("long").alias("m"))
        .groupBy("cluster")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select("cluster", F.transform("pm", lambda s: s["m"]).alias("m"))
        .collect()  # k rows — index artifact
    )
    return sorted((r["cluster"], list(r["m"])) for r in rows)


def kmeans_fit(
    embeddings: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, list[tuple[int, list[int]]]]:
    """Lloyd's k-means: seed → n_iter × (assign, update) → final assign.

    Returns (assignments, centroids): assignments = (vec_id, cluster,
    dist2) with dist2 the exact squared micro-distance to the final
    centroid — an integer, so downstream comparisons (and the driver's
    value hash) are exact; centroids = the final integer micro-unit
    centroid list, the index artifact an IVF probe routes by."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    pts = quantized_points(embeddings, id_col, vec_col)
    cents = seed_centroids(pts, k)
    if not cents:
        raise ValueError("kmeans_fit on an empty corpus (no seed points)")
    for _ in range(n_iter):
        cents = update_centroids(pts, cents)
    return assign(pts, cents), cents


def kmeans_assign(
    embeddings: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assignment-only view of :func:`kmeans_fit`."""
    return kmeans_fit(embeddings, k, n_iter, id_col, vec_col)[0]


def kmeans_cells(
    embeddings: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """embeddings + a learned `cell` column — drop-in for `ivf_topk`'s
    cell_col, turning the label-routed IVF into true learned-quantizer
    IVF."""
    a = kmeans_assign(embeddings, k, n_iter, id_col, vec_col)
    return embeddings.join(
        a.select(F.col("vec_id").alias(id_col), F.col("cluster").alias("cell")),
        id_col,
    )


def centroid_frame(spark, centroids: list[tuple[int, list[int]]]) -> DataFrame:
    """Integer micro-unit centroids → an `ivf_topk`-shaped centroid frame
    (cell, centroid array<double>, c_norm). The /1e6 de-quantization is a
    single exact-input IEEE division per coordinate — deterministic in
    any engine, so a learned-IVF probe routed by these centroids stays
    hash-oracle-able end to end."""
    from dataplatform_cdc_pipeline_spark.operators.similarity import norm_expr

    df = spark.createDataFrame(
        [(c, m) for c, m in centroids], "cell int, m array<bigint>"
    )
    return df.select(
        "cell",
        F.transform("m", lambda x: x.cast("double") / F.lit(MICRO)).alias("centroid"),
    ).withColumn("c_norm", norm_expr(F.col("centroid")))


def semantic_dedup(
    embeddings: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster the corpus with
    k-means, then within each cell drop any vector whose cosine to a
    LOWER-id in-cell vector reaches ``threshold`` (prune-against-earlier
    — the common non-iterative reading of the algorithm; a dropped
    earlier vector still suppresses its later neighbors, so this is the
    aggressive upper bound on removal).

    Returns (vec_id, cell, kept). Scale shape: the pairwise work is
    bounded per CELL, not per corpus — one shuffle on the cell key for
    the self-join; cosine floored to 6 decimals so the τ comparison is
    engine-portable.
    """
    from dataplatform_cdc_pipeline_spark.operators.similarity import (
        as_double_vec,
        dot_expr,
        floor6,
        norm_expr,
    )

    celled = kmeans_cells(embeddings, k, n_iter, id_col, vec_col)
    v = (
        celled.select(
            F.col(id_col).alias("vid"), "cell", as_double_vec(vec_col).alias("vec")
        )
        .withColumn("nrm", norm_expr(F.col("vec")))
        .localCheckpoint(eager=True)  # feeds both self-join sides
    )
    a, b = v.alias("a"), v.alias("b")
    cos = floor6(
        dot_expr(F.col("a.vec"), F.col("b.vec")) / (F.col("a.nrm") * F.col("b.nrm"))
    )
    dropped = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("b.vid") < F.col("a.vid")),
        )
        .filter(cos >= F.lit(threshold))
        .select(F.col("a.vid"))
        .distinct()
    )
    return v.join(dropped.withColumnRenamed("vid", "d_vid"), v.vid == F.col("d_vid"), "left").select(
        F.col("vid").alias(id_col),
        "cell",
        F.col("d_vid").isNull().alias("kept"),
    )
