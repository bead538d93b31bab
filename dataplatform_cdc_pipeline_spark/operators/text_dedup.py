"""Document-deduplication operators: exact, n-gram Jaccard, MinHash-LSH,
SimHash — the dedup family of a large-scale training-data pipeline.

Scale design (the point of each at 100 TB):
- **exact**: one shuffle on the content hash (groupBy), map-side partial agg.
- **MinHash + LSH**: signatures are a narrow projection computed at scan
  speed; banding explodes each doc into `bands` rows (constant factor) and
  ONE shuffle on the band key finds all candidate pairs — never the O(n²)
  cross join. Candidate verification joins shingle sets only for the
  (tiny) candidate set.
- **SimHash**: 64-bit signature per doc; near-dup candidates via banded
  bit-slices (same LSH shuffle shape), verified by hamming distance —
  `bit_count(a XOR b)`, pure JVM.

All hashes are MD5-derived (functions/hashing.py) → engine-portable
(DuckDB oracle can replay them bit-for-bit).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dataplatform_cdc_pipeline_spark.functions.hashing import md5_long
from dataplatform_cdc_pipeline_spark.operators.lsh_guard import DEFAULT_MAX_BUCKET, cap_buckets

DEFAULT_MINHASH_K = 8
DEFAULT_BANDS = 4  # rows-per-band r = K / BANDS = 2
SIMHASH_BITS = 60  # width of the portable MD5-derived hashes
SIMHASH_BANDS = 4  # 15-bit slices


def shingles_expr(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles of the lowercased, whitespace-split text.

    Documents shorter than n words yield a single shingle of all words,
    so every non-empty doc has at least one shingle.
    """
    c = F.col(text) if isinstance(text, str) else text
    words = F.split(F.lower(F.trim(c)), r"\s+")
    sz = F.size(words)
    idx = F.sequence(F.lit(1), F.greatest(sz - F.lit(n - 1), F.lit(1)))
    return F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(words, i, n))
    )


MAX_LONG = (1 << 63) - 1


def band_keys_expr(sig: Column, bands: int = DEFAULT_BANDS, k: int = DEFAULT_MINHASH_K) -> Column:
    """LSH band keys: the signature cut into `bands` slices, each slice
    concatenated into one string key."""
    r = k // bands
    return F.array(
        *[
            F.concat_ws(
                "_",
                F.lit(str(b)),
                *[F.element_at(sig, b * r + j + 1).cast("string") for j in range(r)],
            )
            for b in range(bands)
        ]
    )


def minhash_signature_udf(k: int = DEFAULT_MINHASH_K, n: int = 3):
    """Arrow-batched MinHash signature of each text's distinct word
    n-gram shingles.

    Families come in FOURS from each salted digest: family f = hex chars
    ``1 + 8*(f%4) .. +8`` of md5('mh{f//4}|shingle') — four independent
    32-bit values per digest, so k families cost k/4 MD5 evaluations per
    shingle (32-bit family values are ample for banding — a band key
    still carries r×32 bits). Null and empty texts both hash the single
    shingle ``''``. The Python/hashlib loop over Arrow batches beat both
    pure-JVM formulations of the same math by ~2× (SCALE.md, "Measured
    MinHash signature shoot-out").
    """
    if k % 4:
        raise ValueError(f"k must be a multiple of 4 (four families per digest), got {k}")
    import hashlib

    from pyspark.sql import types as T

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            words = (t or "").strip().lower().split()
            if len(words) >= n:
                shingles = {" ".join(words[i : i + n]) for i in range(len(words) - n + 1)}
            else:
                shingles = {" ".join(words)}
            mins = [MAX_LONG] * k
            for s in shingles:
                sb = s.encode()
                for j in range(k // 4):
                    d = hashlib.md5(b"mh%d|" % j + sb).hexdigest()
                    for q in range(4):
                        v = int(d[8 * q : 8 * q + 8], 16)
                        f = 4 * j + q
                        if v < mins[f]:
                            mins[f] = v
            out.append(mins)
        return pd.Series(out)

    return sig


def shingle_set_udf(n: int = 3):
    """Arrow-batched distinct word n-gram shingles (same output as
    ``array_distinct(shingles_expr(...))``, order-insensitive downstream)."""
    from pyspark.sql import types as T

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def sh(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            words = (t or "").strip().lower().split()
            if len(words) >= n:
                seen = list(dict.fromkeys(" ".join(words[i : i + n]) for i in range(len(words) - n + 1)))
            else:
                seen = [" ".join(words)]
            out.append(seen)
        return pd.Series(out)

    return sh


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup by content hash: every doc mapped to its group's
    canonical (minimum) id + group size. One hash-shuffle."""
    h = df.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_md5"))
    groups = h.groupBy("content_md5").agg(
        F.min(id_col).alias("canonical_id"), F.count(F.lit(1)).alias("group_size")
    )
    return h.join(groups, "content_md5").select(
        id_col, "content_md5", "canonical_id", "group_size"
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    bands: int = DEFAULT_BANDS,
    k: int = DEFAULT_MINHASH_K,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Candidate pairs (a < b) sharing at least one LSH band bucket.

    One explode (×bands) + one shuffle on the band key. The self-join is
    per-bucket, so cost is Σ bucket² — the LSH guarantee keeps buckets
    small for non-duplicate content; degenerate keys are dropped (and
    logged) by the ``max_bucket_size`` guard.
    """
    exploded = sigs.select(
        F.col(id_col), F.explode(band_keys_expr(F.col("minhash_sig"), bands, k)).alias("band_key")
    )
    exploded = cap_buckets(exploded, "band_key", max_bucket_size, "minhash-lsh")
    a, b = exploded.alias("a"), exploded.alias("b")
    return (
        a.join(b, (F.col("a.band_key") == F.col("b.band_key")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def jaccard_expr(set_a: Column, set_b: Column) -> Column:
    """Exact Jaccard similarity of two (distinct) shingle arrays."""
    inter = F.size(F.array_intersect(set_a, set_b)).cast("double")
    union = F.size(F.array_union(set_a, set_b)).cast("double")
    return inter / union


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.9,
    k: int = DEFAULT_MINHASH_K,
    bands: int = DEFAULT_BANDS,
    n: int = 3,
) -> DataFrame:
    """MinHash→LSH→verify: near-duplicate pairs with exact Jaccard ≥
    threshold.

    Scale shape: (1) one narrow signature scan (id + k longs — persisted,
    it feeds the band explode), (2) one shuffle on band keys → candidate
    pairs, (3) shingle sets computed ONLY for docs appearing in candidate
    pairs (semi-join pushback into the corpus scan) — the expensive
    full-text shingling never materializes for the non-duplicate bulk.
    """
    sig_col = minhash_signature_udf(k, n)(F.col(text_col))
    # Session hygiene: persist() pins the plan in the SQL cache manager
    # until an explicit unpersist — in a long multi-query session those
    # pins accumulate and decay everything (measured 2.8× across-the-board
    # in round 2). Pattern: persist the wide signature frame ONLY long
    # enough to materialize the (small, bucket-capped) candidate-pair frame
    # via an eager localCheckpoint, then release it. The checkpoint RDD is
    # not cache-manager-pinned; the ContextCleaner reclaims it once the
    # returned frame is dropped.
    sigs = df.select(F.col(id_col), sig_col.alias("minhash_sig")).persist()
    try:
        cands = lsh_candidate_pairs(sigs, id_col, bands, k).localCheckpoint(eager=True)
    finally:
        sigs.unpersist()

    cand_ids = (
        cands.select(F.col("id_a").alias(id_col))
        .union(cands.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sets_ = df.join(cand_ids, id_col, "left_semi").select(
        F.col(id_col), shingle_set_udf(n)(F.col(text_col)).alias("shingle_set")
    )
    joined = (
        cands.join(sets_.withColumnRenamed(id_col, "id_a").withColumnRenamed("shingle_set", "set_a"), "id_a")
        .join(sets_.withColumnRenamed(id_col, "id_b").withColumnRenamed("shingle_set", "set_b"), "id_b")
    )
    return (
        joined.select(
            "id_a",
            "id_b",
            # floor-truncation, not round: cross-engine-stable (see similarity.floor6)
            (F.floor(jaccard_expr(F.col("set_a"), F.col("set_b")) * F.lit(1000000.0))
             / F.lit(1000000.0)).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def dedup_clusters(
    pairs: DataFrame,
    all_ids: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over near-duplicate pairs → one canonical id
    per duplicate cluster (the grouping step after MinHash/SimHash pairing).

    Iterative min-label propagation: every node repeatedly adopts the
    smallest id reachable over the pair edges until fixpoint. Each
    iteration is one join + one groupBy (two shuffles) over the *pair*
    set — never the corpus; iteration count is the cluster diameter
    (≤ log n after path-halving via label re-join), bounded by
    ``max_iterations``. Singleton docs map to themselves.

    Returns (id, canonical_id).
    """
    # localCheckpoint (NOT just persist): every label-propagation iteration
    # joins against edges, and each action re-ANALYZES the full lineage even
    # when execution hits the cache — with an LSH+verify pair pipeline
    # upstream (wide fold expression trees) that is ~1 s of pure Catalyst
    # planning per iteration. Checkpointing truncates the lineage so each
    # iteration plans against a leaf. (Unpersisted edges were worse still:
    # the pair pipeline re-EXECUTED per iteration — 32 s at sf0.1.)
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # labels over nodes that appear in any edge
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    prev_sum = None
    prev_labels = None
    try:
        for _ in range(max_iterations):
            # candidate label for each node: min over neighbors' labels + own
            neighbor_labels = (
                edges.join(labels.withColumnRenamed("node", "dst"), "dst")
                .select(F.col("src").alias("node"), "label")
            )
            labels = (
                labels.unionByName(neighbor_labels)
                .groupBy("node")
                .agg(F.min("label").alias("label"))
                .localCheckpoint(eager=True)
            )
            # the new checkpoint is materialized (eager) — the previous
            # iteration's checkpoint blocks are dead; release them instead of
            # letting every iteration's RDD pile up until session end
            if prev_labels is not None:
                prev_labels.unpersist()
            prev_labels = labels
            # min-labels only ever decrease → Σlabel strictly decreases until
            # fixpoint; one cheap agg replaces a join-based change check
            cur_sum = labels.agg(F.sum("label")).first()[0]
            if cur_sum == prev_sum:
                break
            prev_sum = cur_sum
    finally:
        # edges fed only the loop; the final labels checkpoint is
        # self-contained — and a failed iteration must not leak the
        # checkpoint blocks for the rest of the process (same contract
        # as the r8 q_cdc_merge_dlq cache fix)
        edges.unpersist()
    return (
        all_ids.select(F.col(id_col))
        .join(labels.withColumnRenamed("node", id_col), id_col, "left")
        .select(
            id_col, F.coalesce("label", F.col(id_col)).alias("canonical_id")
        )
    )


def simhash_udf(bits: int = SIMHASH_BITS):
    """Arrow-batched 60-bit SimHash over word tokens.

    bit_j(simhash) = 1 iff Σ_tokens (±1 by bit j of the token's 60-bit MD5
    hash, ``md5_long``) > 0; the (tokens × bits) counter matrix runs
    vectorized in numpy, each token hashed once. An empty text hashes the
    single token ``''``."""
    import hashlib

    import numpy as np
    from pyspark.sql import types as T

    js = None

    @F.pandas_udf(T.LongType())
    def sh(texts: pd.Series) -> pd.Series:
        nonlocal js
        if js is None:
            js = np.arange(bits, dtype=np.int64)
        out = []
        for t in texts:
            words = (t or "").strip().lower().split()
            if not words:
                words = [""]
            hashes = np.fromiter(
                (int(hashlib.md5(w.encode()).hexdigest()[:15], 16) for w in words),
                dtype=np.int64,
                count=len(words),
            )
            counts = (((hashes[:, None] >> js) & 1) * 2 - 1).sum(axis=0)
            out.append(int(((counts > 0).astype(np.int64) << js).sum()))
        return pd.Series(out)

    return sh


def simhash64(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    return df.select(F.col(id_col), simhash_udf(bits)(F.col(text_col)).alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = SIMHASH_BITS,
    bands: int = SIMHASH_BANDS,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Near-dup pairs by SimHash: banded bit-slices generate candidates
    (a pair within hamming ≤ bands-1 must share ≥1 identical slice),
    verified with bit_count(a XOR b) ≤ max_hamming. Degenerate slice keys
    are dropped (and logged) by the ``max_bucket_size`` guard."""
    # eager localCheckpoint, not persist(): (id, simhash) is tiny, feeds the
    # guard pass + both self-join sides (signature UDF runs once total), and
    # unlike a persist it is not cache-manager-pinned — the ContextCleaner
    # reclaims it once the returned frame is dropped (session hygiene)
    sh = simhash64(df, text_col, id_col, bits).localCheckpoint(eager=True)
    width = bits // bands
    mask = (1 << width) - 1
    slices = F.array(
        *[
            F.concat_ws(
                "_", F.lit(str(b)), F.shiftright(F.col("simhash"), b * width).bitwiseAND(F.lit(mask)).cast("string")
            )
            for b in range(bands)
        ]
    )
    exploded = sh.select(F.col(id_col), F.col("simhash"), F.explode(slices).alias("slice_key"))
    exploded = cap_buckets(exploded, "slice_key", max_bucket_size, "simhash")
    a, b = exploded.alias("a"), exploded.alias("b")
    cands = (
        a.join(b, (F.col("a.slice_key") == F.col("b.slice_key")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    return cands.select(
        "id_a",
        "id_b",
        F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)


def keep_best_per_cluster(
    clusters: DataFrame,
    quality: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "canonical_id",
    quality_col: str = "quality_score",
) -> DataFrame:
    """Dedup KEEP policy: from each near-dup cluster keep the
    highest-quality document (ties → lowest id) — what a production corpus
    pipeline actually does with dedup clusters (min-id canonicalization
    keeps an *arbitrary* duplicate; quality-argmax keeps the best one).

    ``clusters``: (id, cluster) e.g. from :func:`dedup_clusters`;
    ``quality``: (id, score) e.g. ``quality_score_expr``. One broadcast-or-
    shuffle join on id + one rn=1 window over the cluster key — clusters
    are small by construction, and the rn=1 shape gets the map-side
    WindowGroupLimit (SCALE.md skew proof), so this scales like the dedup
    itself.
    """
    j = clusters.join(quality, id_col)
    w = Window.partitionBy(cluster_col).orderBy(
        F.col(quality_col).desc_nulls_last(), F.col(id_col).asc()
    )
    counts = clusters.groupBy(cluster_col).agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        j.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .join(counts, cluster_col)
        .select(
            F.col(cluster_col),
            F.col(id_col).alias("keep_doc_id"),
            "cluster_size",
            F.col(quality_col).alias("keep_quality"),
        )
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    n: int = 3,
    max_shingle_df: int = 100,
) -> DataFrame:
    """Sub-document detection: pairs where the SMALLER document's shingle
    set is (near-)contained in the larger's —
    ``containment = |S(inner) ∩ S(outer)| / |S(inner)| ≥ threshold``.

    Jaccard-based dedup (minhash_dedup_pairs) cannot see these: a page
    quoted inside a 100× larger page has Jaccard ≈ 0.01 but containment
    ≈ 1.0 — the boilerplate-wrap / quotation / snapshot-superset case a
    corpus pipeline must catch separately.

    Scale shape — an inverted shingle index, not all-pairs: explode
    distinct shingle HASHES (the shared 60-bit MD5 primitive, so sets
    compare identically across engines), drop "stop shingles" with
    document frequency > ``max_shingle_df`` (the classic inverted-index
    posting cap: a boilerplate shingle in 10k docs would alone create
    10k² pair rows; dropping it UNDERCOUNTS shared shingles, so the cap
    is a conservative recall/cost lever, never a false-positive source),
    self-join on the hash (one shuffle, bucket sizes bounded by the cap),
    count shared per pair. Set sizes come from the UNCAPPED sets, so the
    reported containment is exact over hashed sets minus capped postings.

    Returns (inner_id, outer_id, shared, inner_sz, containment); the
    inner role goes to the smaller set (tie → lower id).
    """
    # ONE shingling pass: the exploded posting list (id, h) feeds sizes,
    # the df-cap, and BOTH sides of the self-join — without the eager
    # checkpoint the expensive shingle+hash scan re-executes per consumer
    # (4× here; the same single-pass discipline as BM25's tokenization)
    inv = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.transform(
                F.array_distinct(shingles_expr(text_col, n)), lambda s: md5_long(s)
            )
        ).alias("h"),
    ).localCheckpoint(eager=True)
    sizes = inv.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    hot = (
        inv.groupBy("h")
        .agg(F.count(F.lit(1)).alias("dfreq"))
        .filter(F.col("dfreq") > max_shingle_df)
        .select("h")
    )
    capped = inv.join(hot, "h", "left_anti")
    a, b = capped.alias("a"), capped.alias("b")
    shared = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    j = (
        shared.join(sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
    )
    inner_is_a = (F.col("sz_a") < F.col("sz_b")) | (
        (F.col("sz_a") == F.col("sz_b")) & (F.col("id_a") < F.col("id_b"))
    )
    out = j.select(
        F.when(inner_is_a, F.col("id_a")).otherwise(F.col("id_b")).alias("inner_id"),
        F.when(inner_is_a, F.col("id_b")).otherwise(F.col("id_a")).alias("outer_id"),
        "shared",
        F.when(inner_is_a, F.col("sz_a")).otherwise(F.col("sz_b")).alias("inner_sz"),
    ).withColumn(
        "containment",
        F.floor(
            F.col("shared").cast("double") / F.col("inner_sz").cast("double")
            * F.lit(1_000_000.0)
        )
        / F.lit(1_000_000.0),
    )
    return out.filter(F.col("containment") >= threshold)
