"""Tests for the LLM-data operators: text analysis, dedup family, similarity."""

from pyspark.sql import functions as F

from dataplatform_cdc_pipeline_spark.operators.similarity import (
    brute_force_topk,
    cosine_near_dup_pairs,
    hyperplane_signs,
    lsh_topk,
)
from dataplatform_cdc_pipeline_spark.operators.text_analysis import (
    language_id_expr,
    quality_score_expr,
)
from dataplatform_cdc_pipeline_spark.operators.text_dedup import (
    exact_dedup,
    minhash_dedup_pairs,
    minhash_signature_udf,
    shingle_set_udf,
    simhash64,
    simhash_near_pairs,
)


def docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups(spark):
    df = docs_df(spark, [(1, "a b c"), (2, "a b c"), (3, "x y z")])
    out = {r["doc_id"]: (r["canonical_id"], r["group_size"]) for r in exact_dedup(df).collect()}
    assert out == {1: (1, 2), 2: (1, 2), 3: (3, 1)}


def test_minhash_identical_docs_max_jaccard(spark):
    df = docs_df(spark, [(1, "the quick brown fox jumps over the lazy dog"),
                         (2, "the quick brown fox jumps over the lazy dog"),
                         (3, "completely different words entirely here now")])
    pairs = minhash_dedup_pairs(df, threshold=0.9).collect()
    assert [(r["id_a"], r["id_b"], r["jaccard"]) for r in pairs] == [(1, 2, 1.0)]


def test_minhash_near_dup_detected(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    near = base.replace("kappa", "kappa2", 1)
    df = docs_df(spark, [(1, base), (2, near), (3, "unrelated text entirely")])
    pairs = minhash_dedup_pairs(df, threshold=0.5).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(1, 2)]
    assert 0.5 <= pairs[0]["jaccard"] < 1.0


def test_minhash_signature_shape(spark):
    df = docs_df(spark, [(1, "one two three four five")])
    row = df.select(
        minhash_signature_udf()(F.col("text")).alias("minhash_sig"),
        shingle_set_udf()(F.col("text")).alias("shingle_set"),
    ).first()
    assert len(row["minhash_sig"]) == 8
    assert all(v >= 0 for v in row["minhash_sig"])
    assert len(row["shingle_set"]) == 3  # 5 words → 3 shingles


def test_minhash_null_text_equivalence(spark):
    """Null and empty text both hash the single shingle '' (no row is
    dropped, no error), a text shorter than n words is one shingle of all
    its words, and a k that is not a multiple of 4 is rejected when the
    UDF is built — the trailing families would otherwise stay MAX_LONG
    for every document and collide every band built on them."""
    import hashlib

    import pytest

    def expected(shingles, k=8):
        # family 4j+q: hex chars 8q..8q+8 of md5('mh{j}|' || shingle)
        digests = [[hashlib.md5(b"mh%d|" % j + s.encode()).hexdigest() for s in shingles]
                   for j in range(k // 4)]
        return [min(int(d[8 * q : 8 * q + 8], 16) for d in digests[j])
                for j in range(k // 4) for q in range(4)]

    df = spark.createDataFrame([(1, None), (2, ""), (3, "real text here"), (4, "Two  words")],
                               "doc_id long, text string")
    sigs = {r["doc_id"]: list(r["s"]) for r in df.select(
        "doc_id", minhash_signature_udf(8)(F.col("text")).alias("s")).collect()}
    assert sigs[1] == sigs[2] == expected([""])
    assert sigs[3] == expected(["real text here"])
    assert sigs[4] == expected(["two words"])
    with pytest.raises(ValueError, match="multiple of 4"):
        minhash_signature_udf(6)


def test_simhash_similarity_property(spark):
    # rich vocabulary, one word changed → hamming within the banding
    # guarantee (≤ bands-1 = 3 shares a slice by pigeonhole)
    words = [f"word{i:03d}" for i in range(120)]
    base = " ".join(words)
    near = " ".join(words[:-1] + ["changed"])
    df = docs_df(spark, [(1, base), (2, near),
                         (3, "zzz completely unrelated content qqq www eee rrr")])
    sh = {r["doc_id"]: r["simhash"] for r in simhash64(df).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(sh[1], sh[2]) <= 3 < ham(sh[1], sh[3])
    near_pairs = simhash_near_pairs(df, max_hamming=3).collect()
    assert [(r["id_a"], r["id_b"]) for r in near_pairs] == [(1, 2)]


def test_quality_and_langid(spark):
    df = docs_df(spark, [
        (1, "the cat and the dog went to the park and it was good " * 8),
        (2, "!!! ??? ;;; ... ,,, !!!"),
        (3, "der hund und die katze ist nicht zu haus und der vogel"),
    ])
    q = {r["doc_id"]: r["q"] for r in df.select("doc_id", quality_score_expr("text").alias("q")).collect()}
    assert q[1] > 0.8 and q[2] < 0.3
    langs = {r["doc_id"]: r["l"] for r in df.select("doc_id", language_id_expr("text").alias("l")).collect()}
    assert langs[1] == "en" and langs[3] == "de" and langs[2] == "und"


def test_brute_force_topk_self_similarity(spark):
    rows = [(i, [float(i == j) for j in range(4)]) for i in range(4)]
    rows.append((10, [1.0, 0.001, 0.0, 0.0]))  # near-duplicate of e0
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    top = brute_force_topk(df, df.filter(F.col("vec_id") == 0), k=1).collect()
    assert top[0]["nbr_id"] == 10 and top[0]["cosine"] > 0.999


def test_lsh_topk_recall_on_testdata(spark, sf_dir):
    from dataplatform_cdc_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, queries, k=5)
    approx = lsh_topk(emb, queries, k=5, planes=4)
    e = {(r["query_id"], r["nbr_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["nbr_id"]) for r in approx.collect()}
    assert len(a) > 0
    # LSH results are a subset of the corpus restricted to matching buckets;
    # sanity: every approx neighbor's cosine ≤ the exact top-1 for that query
    exact_best = {}
    for r in exact.collect():
        exact_best.setdefault(r["query_id"], r["cosine"])
    for r in approx.collect():
        assert r["cosine"] <= exact_best[r["query_id"]] + 1e-9


def test_cosine_near_dup_pairs(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),  # near-dup of 1
        (3, [0.0, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = cosine_near_dup_pairs(df, threshold=0.95, dims=4).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(1, 2)]


def test_hyperplane_signs_deterministic():
    a = hyperplane_signs(4, 16)
    b = hyperplane_signs(4, 16)
    assert a == b
    assert {v for row in a for v in row} == {-1, 1}


def test_global_running_sum_matches_single_partition_window(spark):
    from pyspark.sql import Window

    from dataplatform_cdc_pipeline_spark.operators.packing import global_running_sum

    df = spark.range(0, 5000).select(
        F.col("id").alias("k"), (F.col("id") % 97 + 1).alias("v")
    )
    fast = global_running_sum(df, "k", F.col("v"), "run", num_partitions=16)
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, -1)
    slow = df.withColumn("run", F.coalesce(F.sum("v").over(w), F.lit(0)))
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, slow.collect()))


def test_bucket_cap_bounds_degenerate_corpus(spark, caplog):
    """1k identical docs = one degenerate LSH bucket per band: without the
    guard that is ~500k pairs per band; with the cap the bucket is dropped,
    logged, and the pair count stays bounded."""
    import logging

    from dataplatform_cdc_pipeline_spark.operators.text_dedup import lsh_candidate_pairs

    df = docs_df(spark, [(i, "same boilerplate text every time") for i in range(1000)]
                 + [(2000, "unique text one here"), (2001, "unique text one here")])
    sigs = df.select("doc_id", minhash_signature_udf()(F.col("text")).alias("minhash_sig"))
    with caplog.at_level(logging.WARNING, logger="dataplatform_cdc_pipeline_spark.lsh_guard"):
        capped = lsh_candidate_pairs(sigs, max_bucket_size=100).collect()
    # the 1000-doc bucket is gone; the small duplicate pair survives
    assert {(r["id_a"], r["id_b"]) for r in capped} == {(2000, 2001)}
    assert any("dropped" in r.message and "minhash-lsh" in r.message for r in caplog.records)

    # guard disabled → the quadratic bucket comes back (1000 choose 2 pairs)
    uncapped = lsh_candidate_pairs(sigs, max_bucket_size=None)
    assert uncapped.count() == (1000 * 999) // 2 + 1


def test_bucket_cap_simhash_and_embeddings(spark, caplog):
    import logging

    from dataplatform_cdc_pipeline_spark.operators.text_dedup import simhash_near_pairs

    df = docs_df(spark, [(i, "same boilerplate text every time") for i in range(300)])
    with caplog.at_level(logging.WARNING, logger="dataplatform_cdc_pipeline_spark.lsh_guard"):
        assert simhash_near_pairs(df, max_bucket_size=50).count() == 0
    assert any("simhash" in r.message for r in caplog.records)

    emb = spark.createDataFrame(
        [(i, [1.0] * 8) for i in range(300)], "vec_id long, embedding array<double>"
    )
    with caplog.at_level(logging.WARNING, logger="dataplatform_cdc_pipeline_spark.lsh_guard"):
        assert cosine_near_dup_pairs(emb, dims=8, max_bucket_size=50).count() == 0
    assert any("embedding-near-dup" in r.message for r in caplog.records)


def test_vec_stats_udf_matches_column_twin(spark, sf_dir):
    """The Arrow (bucket, norm) fast path must be bit-identical to the
    Column folds (dim-sequential accumulation, not np.dot)."""
    from pyspark.sql import functions as F

    from dataplatform_cdc_pipeline_spark.operators.similarity import (
        as_double_vec,
        hyperplane_signs,
        lsh_bucket_expr,
        norm_expr,
        vec_stats_udf,
    )
    from dataplatform_cdc_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").limit(300)
    signs = hyperplane_signs(8, 64)
    both = emb.select(
        "vec_id",
        vec_stats_udf(signs)(F.col("embedding")).alias("u"),
        lsh_bucket_expr(as_double_vec("embedding"), signs).alias("cb"),
        norm_expr(as_double_vec("embedding")).alias("cn"),
    )
    bad = both.filter(
        (F.col("u.bucket") != F.col("cb")) | (F.col("u.nrm") != F.col("cn"))
    ).count()
    assert bad == 0


def test_corpus_sample_deterministic_and_stratified(spark, sf_dir):
    from dataplatform_cdc_pipeline_spark.operators.corpus import stratified_sample
    from dataplatform_cdc_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    a = sorted(r["doc_id"] for r in stratified_sample(docs, {"en": 40}).collect())
    b = sorted(r["doc_id"] for r in stratified_sample(docs, {"en": 40}).collect())
    assert a == b  # sample membership is a function of the id, not RNG
    kept = stratified_sample(docs, {"en": 40})
    en_kept = kept.filter("lang_pred = 'en'").count()
    from dataplatform_cdc_pipeline_spark.operators.text_analysis import language_id_expr
    en_total = docs.select(language_id_expr("text").alias("l")).filter("l = 'en'").count()
    assert en_total > 0 and 0.25 < en_kept / en_total < 0.55  # ~40% of the stratum
    # non-en strata fully kept
    assert kept.filter("lang_pred != 'en'").count() == docs.count() - en_total


def test_contamination_pairs_known_overlap(spark):
    from dataplatform_cdc_pipeline_spark.operators.corpus import contamination_pairs

    shared = "alpha beta gamma delta epsilon"
    train = docs_df(spark, [(1, f"{shared} zeta eta"), (2, "totally different words here now friend")])
    bench = docs_df(spark, [(100, f"intro {shared} outro")])
    out = {(r["train_id"], r["bench_id"]): r["shared_ngrams"]
           for r in contamination_pairs(train, bench, n=5).collect()}
    assert (1, 100) in out and out[(1, 100)] >= 1
    assert (2, 100) not in out


def test_bpe_token_count_exceeds_whitespace_on_punct(spark):
    from dataplatform_cdc_pipeline_spark.operators.text_analysis import bpe_token_count_expr

    df = docs_df(spark, [(1, "it's a test, isn't it? x=y+1;")])
    row = df.select(
        F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("ws"),
        bpe_token_count_expr("text").alias("bpe"),
    ).first()
    assert row["bpe"] > row["ws"]  # punctuation splits into extra tokens


def test_ivf_nprobe_improves_recall(spark, sf_dir):
    from dataplatform_cdc_pipeline_spark.operators.similarity import ivf_topk
    from dataplatform_cdc_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter("vec_id < 10")
    truth = {(r["query_id"], r["nbr_id"]) for r in brute_force_topk(emb, qs, k=5).collect()}

    def recall(nprobe):
        got = {(r["query_id"], r["nbr_id"]) for r in ivf_topk(emb, qs, k=5, nprobe=nprobe).collect()}
        return len(got & truth) / len(truth)

    r1, r2 = recall(1), recall(2)
    assert r2 >= r1  # more probes can only widen the candidate set
    assert recall(100) == 1.0  # probing every cell == exact


def test_ivf_topk_multi_equals_single_probe_runs(spark, sf_dir):
    """The one-scan curve operator derives each nprobe's result from the
    widest probe's candidate prefix — must be row-identical to running
    ivf_topk separately at every setting."""
    from dataplatform_cdc_pipeline_spark.operators.similarity import (
        ivf_centroids,
        ivf_topk,
        ivf_topk_multi,
    )
    from dataplatform_cdc_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter("vec_id < 10")
    cents = ivf_centroids(emb).localCheckpoint(eager=True)
    multi = ivf_topk_multi(emb, qs, k=5, nprobes=(1, 2, 4), centroids=cents)
    by_np = {}
    for r in multi.collect():
        by_np.setdefault(r["nprobe"], set()).add((r["query_id"], r["rk"], r["nbr_id"], r["cosine"]))
    for np_ in (1, 2, 4):
        single = {
            (r["query_id"], r["rk"], r["nbr_id"], r["cosine"])
            for r in ivf_topk(emb, qs, k=5, nprobe=np_, centroids=cents).collect()
        }
        assert by_np[np_] == single, f"nprobe={np_}"


def test_repetition_stats_edges(spark):
    """Gopher repetition metrics: duplicated lines/grams measured, empty and
    tiny docs fall back to zero fractions instead of erroring."""
    from pyspark.sql import functions as F

    from dataplatform_cdc_pipeline_spark.operators.text_analysis import repetition_stats_frame

    rows = [
        # 4 lines, 2 identical → dup_line_frac 1-3/4=0.25; "spam spam spam"
        (1, "spam spam spam\nunique line one\nspam spam spam\nunique line two"),
        (2, ""),          # empty doc
        (3, "word"),      # single word: no 2-grams, no 5-grams
        (4, "a b c d e a b c d e a b c d e"),  # heavy 5-gram repetition
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in repetition_stats_frame(df).collect()}

    assert out[1]["n_lines"] == 4
    assert abs(out[1]["dup_line_frac"] - 0.25) < 1e-9
    assert out[1]["dup_line_char_frac"] > 0.4  # 28 of 61 chars in dup lines
    assert out[1]["top_2gram_char_frac"] > 0.0

    assert out[2]["n_lines"] == 0
    assert out[2]["dup_line_frac"] == 0.0 and out[2]["dup_5gram_char_frac"] == 0.0

    assert out[3]["top_2gram_char_frac"] == 0.0 and out[3]["dup_5gram_char_frac"] == 0.0
    assert out[3]["keep"] is True

    assert out[4]["dup_5gram_char_frac"] > 0.15 and out[4]["keep"] is False


def test_chunk_documents_windows(spark):
    from dataplatform_cdc_pipeline_spark.operators.text_analysis import chunk_documents

    words = " ".join(f"w{i}" for i in range(10))  # 10 tokens
    df = docs_df(spark, [(1, words), (2, "a b"), (3, "")])
    out = chunk_documents(df, chunk_tokens=4, stride=3)
    by_doc = {}
    for r in out.collect():
        by_doc.setdefault(r["doc_id"], []).append((r["start_tok"], r["n_tokens"], r["chunk_text"]))
    for v in by_doc.values():
        v.sort()
    # aligned starts 0,3,6 (≤ last_start=6) + tail anchor 6 (dedup'd)
    assert by_doc[1] == [
        (0, 4, "w0 w1 w2 w3"),
        (3, 4, "w3 w4 w5 w6"),
        (6, 4, "w6 w7 w8 w9"),
    ]
    # shorter than one chunk → single partial chunk
    assert by_doc[2] == [(0, 2, "a b")]
    # empty text: split yields [""] → one empty chunk (same as the oracle)
    assert by_doc[3] == [(0, 1, "")]


def test_keep_best_per_cluster_policy(spark):
    from dataplatform_cdc_pipeline_spark.operators.text_dedup import keep_best_per_cluster

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (9, 9)], "doc_id long, canonical_id long"
    )
    quality = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.9), (9, 0.1)], "doc_id long, quality_score double"
    )
    out = {r["canonical_id"]: r for r in keep_best_per_cluster(clusters, quality).collect()}
    # highest quality wins; tie between 2 and 3 → lowest id; singleton kept
    assert (out[1]["keep_doc_id"], out[1]["cluster_size"], out[1]["keep_quality"]) == (2, 3, 0.9)
    assert (out[9]["keep_doc_id"], out[9]["cluster_size"]) == (9, 1)


def test_bm25_ranking_properties(spark):
    from dataplatform_cdc_pipeline_spark.operators.search import bm25_search

    df = docs_df(spark, [
        (1, "spark spark spark join fast engine"),   # high tf on rare terms
        (2, "spark is one word here among many other words entirely"),
        (3, "nothing relevant at all in this document"),
        (4, "join join query query spark"),
    ])
    out = bm25_search(df, ("spark", "join", "query"), top_k=10).collect()
    ids = [r["doc_id"] for r in out]
    assert 3 not in ids  # no query term → never scored
    assert set(ids) == {1, 2, 4}
    scores = {r["doc_id"]: r["bm25"] for r in out}
    # more matching terms / higher tf outranks a single passing mention
    assert scores[4] > scores[2] and scores[1] > scores[2]
    # descending by floored score, doc_id tiebreak
    assert ids == [i for _, i in sorted(((-scores[i], i) for i in ids))]


def test_bm25_single_tokenization_pass(spark):
    """The corpus is tokenized ONCE (reduced to (id, dl, query-term
    matches) and checkpointed); neither the stats agg nor the tf/df legs
    re-tokenize — at 100 TB a second split() pass is a second full scan."""
    from dataplatform_cdc_pipeline_spark.operators.search import bm25_search

    df = docs_df(spark, [(1, "spark join fast"), (2, "spark only")])
    out = bm25_search(df, ("spark", "join"), top_k=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "split(" not in plan  # tokenization ran at checkpoint time only
    assert plan.count("Scan ExistingRDD") >= 2  # both legs read the checkpoint
    assert [r["doc_id"] for r in out.collect()] == [1, 2]


def test_unigram_logprob_properties(spark):
    import math

    from dataplatform_cdc_pipeline_spark.operators.text_analysis import (
        unigram_logprob_frame,
    )

    # 'common' appears 8x, 'rare' once → rare-heavy doc scores higher
    df = docs_df(spark, [
        (1, "common common common common"),
        (2, "common common common rare"),
        (3, "common"),
    ])
    out = {r["doc_id"]: r for r in unigram_logprob_frame(df).collect()}
    assert out[1]["n_tokens"] == 4 and out[2]["n_tokens"] == 4
    assert out[2]["avg_neg_logprob"] > out[1]["avg_neg_logprob"]
    # hand-check doc 3: T=9 tokens, V=2, p(common)=(8+1)/(9+2)
    expect = math.floor(-math.log(9 / 11) * 1e6) / 1e6
    assert abs(out[3]["avg_neg_logprob"] - expect) < 1e-9


def test_chunk_documents_coverage_property(spark):
    """Property (hypothesis): for arbitrary doc lengths and chunk/stride
    geometry, chunks cover every token, never exceed chunk_tokens, start
    aligned-or-tail-anchored, and reassembly at stride == chunk_tokens
    (disjoint chunks) reproduces the document exactly."""
    from hypothesis import given, settings, strategies as st

    from dataplatform_cdc_pipeline_spark.operators.text_analysis import chunk_documents

    @settings(max_examples=12, deadline=None)
    @given(
        n_words=st.integers(min_value=1, max_value=40),
        chunk=st.integers(min_value=2, max_value=12),
        data=st.data(),
    )
    def check(n_words, chunk, data):
        # full coverage is only promised for stride ≤ chunk (stride >
        # chunk is deliberate sparse SAMPLING and leaves gaps by design)
        stride = data.draw(st.integers(min_value=1, max_value=chunk))
        text = " ".join(f"w{i}" for i in range(n_words))
        df = docs_df(spark, [(1, text)])
        rows = chunk_documents(df, chunk_tokens=chunk, stride=stride).collect()
        covered = set()
        for r in rows:
            assert 1 <= r["n_tokens"] <= chunk
            toks = r["chunk_text"].split() if r["chunk_text"] else [""]
            assert len(toks) == r["n_tokens"]
            assert r["start_tok"] % stride == 0 or r["start_tok"] == max(n_words - chunk, 0)
            covered.update(range(r["start_tok"], r["start_tok"] + r["n_tokens"]))
        assert covered == set(range(n_words))  # every token in ≥1 chunk

    check()


def test_chunk_documents_disjoint_reassembly(spark):
    from dataplatform_cdc_pipeline_spark.operators.text_analysis import chunk_documents

    # chunk-divisible length → stride==chunk chunks are exactly disjoint
    # and reassemble the document (the packing-mode invariant)
    text = " ".join(f"w{i}" for i in range(24))
    df = docs_df(spark, [(1, text)])
    rows = sorted(
        chunk_documents(df, chunk_tokens=8, stride=8).collect(),
        key=lambda r: r["start_tok"],
    )
    assert [r["start_tok"] for r in rows] == [0, 8, 16]
    assert " ".join(r["chunk_text"] for r in rows).split() == text.split()


# ---------------------------------------------------------------------------
# k-means (learned IVF quantizer)
# ---------------------------------------------------------------------------


def test_kmeans_assignment_exact_and_total(spark, sf_dir):
    """Every point gets exactly one cluster; dist2 is the exact integer
    squared distance to SOME centroid (non-negative, long-typed)."""
    from dataplatform_cdc_pipeline_spark.operators.clustering import kmeans_assign
    from dataplatform_cdc_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    out = kmeans_assign(emb, k=8, n_iter=2)
    rows = out.collect()
    assert len(rows) == emb.count()
    assert len({r["vec_id"] for r in rows}) == len(rows)
    assert all(0 <= r["cluster"] < 8 for r in rows)
    assert all(r["dist2"] >= 0 for r in rows)
    assert dict(out.dtypes)["dist2"] == "bigint"


def test_kmeans_iterations_do_not_increase_wss(spark, sf_dir):
    """Lloyd's invariant: total within-cluster squared distance is
    non-increasing across iterations (exact integers -> exact check,
    modulo the floor()-quantized centroid which can add at most a
    1-per-dim rounding slack; the seed step is far from optimal so the
    drop dominates)."""
    from dataplatform_cdc_pipeline_spark.operators.clustering import kmeans_assign
    from dataplatform_cdc_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")

    def wss(n_iter):
        return kmeans_assign(emb, k=8, n_iter=n_iter).agg(
            F.sum("dist2")
        ).collect()[0][0]

    w0, w1, w2 = wss(0), wss(1), wss(2)
    assert w1 <= w0
    assert w2 <= w1


def test_kmeans_deterministic_across_runs(spark, sf_dir):
    from dataplatform_cdc_pipeline_spark.operators.clustering import kmeans_assign
    from dataplatform_cdc_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    a = sorted(map(tuple, kmeans_assign(emb, k=4, n_iter=2).collect()))
    b = sorted(map(tuple, kmeans_assign(emb, k=4, n_iter=2).collect()))
    assert a == b


def test_kmeans_cells_drive_ivf(spark, sf_dir):
    """The learned cells are a drop-in IVF routing column: probing every
    learned cell reproduces exact brute-force top-k."""
    from dataplatform_cdc_pipeline_spark.operators.clustering import kmeans_cells
    from dataplatform_cdc_pipeline_spark.operators.similarity import ivf_topk
    from dataplatform_cdc_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    celled = kmeans_cells(emb, k=4, n_iter=1).localCheckpoint(eager=True)
    qs = celled.filter("vec_id < 5")
    exact = {
        (r["query_id"], r["rk"], r["nbr_id"], r["cosine"])
        for r in brute_force_topk(emb, emb.filter("vec_id < 5"), k=3).collect()
    }
    all_probe = {
        (r["query_id"], r["rk"], r["nbr_id"], r["cosine"])
        for r in ivf_topk(celled, qs, k=3, cell_col="cell", nprobe=100).collect()
    }
    assert all_probe == exact


def test_kmeans_floor_centroid_negative_means(spark):
    """floor(sum/count) on a negative mean must floor toward -inf in both
    engines; pin the Spark side with a hand-computed case."""
    from dataplatform_cdc_pipeline_spark.operators.clustering import (
        assign,
        quantized_points,
        update_centroids,
    )

    df = spark.createDataFrame(
        [(1, [-0.0000015, 0.0]), (2, [-0.0000026, 0.0])],
        "vec_id long, embedding array<float>",
    )
    pts = quantized_points(df)  # micro-units: (-2, 0), (-3, 0) after rounding
    assert [tuple(r) for r in assign(pts, [(0, [0, 0])]).collect()] == [
        (1, 0, 4),
        (2, 0, 9),
    ]
    cents = update_centroids(pts, [(0, [0, 0])])
    # mean of -2 and -3 micro = -2.5 -> floor = -3 (NOT trunc's -2)
    assert cents == [(0, [-3, 0])]


def test_semantic_dedup_prunes_within_cell_only(spark):
    """Two near-identical vectors in the same cell: the higher id is
    dropped; orthogonal vectors survive; nothing is compared across
    cells."""
    from dataplatform_cdc_pipeline_spark.operators.clustering import semantic_dedup

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.001, 0.0, 0.0]),  # near-dup of 1 -> dropped
        (3, [0.0, 1.0, 0.0, 0.0]),      # orthogonal -> kept
        (4, [0.0, 0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r["kept"] for r in semantic_dedup(df, k=2, n_iter=1, threshold=0.95).collect()}
    assert len(out) == 4
    assert out[2] is False  # pruned against vec 1
    # every drop has a lower-id justification: vec 1 always survives
    assert out[1] is True


def test_kmeans_empty_and_bad_k_fail_loudly(spark):
    import pytest

    from dataplatform_cdc_pipeline_spark.operators.clustering import kmeans_fit

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="empty corpus"):
        kmeans_fit(empty, k=4)
    some = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="k must be"):
        kmeans_fit(some, k=0)


def test_sq8_codes_range_and_zero_dim(spark):
    """Codes stay within [-127, 127]; a max-magnitude coordinate maps to
    ±127 exactly; an identically-zero dimension gets scale 0 and code 0."""
    from dataplatform_cdc_pipeline_spark.operators.quantization import (
        sq8_codes,
        sq8_scales,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 0.0, -0.5]), (2, [-2.0, 0.0, 0.25]), (3, [0.5, 0.0, 0.125])],
        "vec_id long, embedding array<float>",
    )
    scales = sq8_scales(df)
    assert scales == [2_000_000, 0, 500_000]
    rows = {r["vec_id"]: r["codes"] for r in sq8_codes(df, scales).collect()}
    assert rows[2][0] == -127 and rows[1][2] == -127  # max-|x| dims hit the rail
    assert all(c[1] == 0 for c in rows.values())  # zero dim -> code 0
    assert all(-127 <= v <= 127 for c in rows.values() for v in c)
    # half-magnitude coordinate: floor(1e6*127/2e6) = 63
    assert rows[1][0] == 63


def test_sq8_recall_reasonable(spark, sf_dir):
    """Compression loses some ranking fidelity but must stay far above
    chance: mean recall@5 of the int8 index vs exact cosine >= 0.5 at
    test scale (it is ~1.0 in practice; chance is ~5/N)."""
    from dataplatform_cdc_pipeline_spark.queries_llm import q_sq8_recall_eval

    rows = q_sq8_recall_eval(spark, sf_dir).collect()
    assert rows, "no queries evaluated"
    mean_recall = sum(r["recall_at_5"] for r in rows) / len(rows)
    assert mean_recall >= 0.5, mean_recall


def test_sq8_score_is_exact_integer_dot(spark):
    """The asymmetric score equals the hand-computed integer dot of codes
    with query micros (no float drift anywhere)."""
    from dataplatform_cdc_pipeline_spark.operators.quantization import (
        sq8_codes,
        sq8_scales,
        sq8_topk,
    )

    df = spark.createDataFrame(
        [(1, [1.0, -1.0]), (2, [0.5, 0.5]), (3, [-0.25, 0.75])],
        "vec_id long, embedding array<float>",
    )
    scales = sq8_scales(df)
    codes = {r["vec_id"]: r["codes"] for r in sq8_codes(df, scales).collect()}
    micros = {1: [1_000_000, -1_000_000], 2: [500_000, 500_000], 3: [-250_000, 750_000]}
    out = sq8_topk(df, df.filter("vec_id = 1"), k=2).collect()
    for r in out:
        expect = sum(c * q for c, q in zip(codes[r["nbr_id"]], micros[1]))
        assert r["score"] == expect


def test_kmv_merge_equals_global_sketch(spark):
    """Mergeability: unioning per-group bottom-k sketches and re-taking
    the bottom k yields EXACTLY the sketch built over the whole data —
    the algebra that lets 100 TB build per-partition and merge up."""
    from dataplatform_cdc_pipeline_spark.operators.sketches import kmv_merge, kmv_sketch

    df = spark.range(0, 5000).selectExpr(
        "id AS key", "CAST(id % 7 AS STRING) AS grp"
    )
    k = 16
    per_group = kmv_sketch(df, "key", ["grp"], k)
    merged = {(r["hv"], r["rk"]) for r in kmv_merge(per_group, ["grp"], k).collect()}
    direct = {(r["hv"], r["rk"]) for r in kmv_sketch(df, "key", None, k).collect()}
    assert merged == direct and len(direct) == k


def test_kmv_estimate_error_bound_and_exact_path(spark):
    """At 5000 distinct keys / k=64 the estimate lands within 3 standard
    errors (3/sqrt(k-2) ~ 38%); under k distinct keys the count is exact."""
    from dataplatform_cdc_pipeline_spark.operators.sketches import (
        kmv_estimate,
        kmv_sketch,
    )

    big = spark.range(0, 5000).selectExpr("id AS key")
    k = 64
    est = kmv_estimate(kmv_sketch(big, "key", None, k), None, k).collect()[0]
    assert est["n_sketch"] == k
    assert abs(est["est_distinct"] - 5000) / 5000 < 0.38, est["est_distinct"]

    small = spark.range(0, 10).selectExpr("id AS key")
    est2 = kmv_estimate(kmv_sketch(small, "key", None, k), None, k).collect()[0]
    assert est2["n_sketch"] == 10 and est2["est_distinct"] == 10


def test_kmv_duplicates_do_not_bias(spark):
    """Duplicate keys collapse before ranking: the sketch of a key set is
    identical no matter how many times each key repeats."""
    from dataplatform_cdc_pipeline_spark.operators.sketches import kmv_sketch

    import pyspark.sql.functions as F

    base = spark.range(0, 200).selectExpr("id AS key")
    dup = base.crossJoin(spark.range(0, 5)).select("key")
    k = 16
    a = {(r["hv"], r["rk"]) for r in kmv_sketch(base, "key", None, k).collect()}
    b = {(r["hv"], r["rk"]) for r in kmv_sketch(dup, "key", None, k).collect()}
    assert a == b

    import pytest as _pytest

    with _pytest.raises(ValueError, match="k must be >= 2"):
        kmv_sketch(base, "key", None, 1)


def test_bigram_logprob_properties(spark):
    """Model sanity on a controlled corpus: (1) docs with < 2 tokens drop
    out; (2) a doc made of the corpus's dominant bigram scores LOWER
    (more probable) than one pairing the same tokens in never-seen order;
    (3) n_bigrams = n_tokens - 1."""
    from dataplatform_cdc_pipeline_spark.operators.text_analysis import (
        bigram_logprob_frame,
    )

    docs = spark.createDataFrame(
        [
            (1, "the cat sat the cat sat the cat sat"),
            (2, "sat the cat cat the sat"),
            (3, "cat"),
            (4, "the cat sat"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in bigram_logprob_frame(docs).collect()}
    assert 3 not in rows  # single token -> no bigram positions
    assert rows[4]["n_bigrams"] == 2
    assert rows[1]["n_bigrams"] == 8
    # natural order beats shuffled order under the learned model
    assert rows[4]["avg_neg_logprob"] < rows[2]["avg_neg_logprob"]


def test_containment_catches_what_jaccard_misses(spark):
    """A small doc quoted inside a much larger one: containment ≈ 1.0
    while Jaccard is tiny; an unrelated doc pairs with nothing; the
    posting cap only UNDERCOUNTS (no false positives)."""
    from dataplatform_cdc_pipeline_spark.operators.text_dedup import (
        containment_pairs,
        jaccard_expr,
        shingles_expr,
    )

    quote = "the quick brown fox jumps over the lazy dog"
    big = " ".join(f"filler{i} word{i} pad{i}" for i in range(40)) + " " + quote
    docs = spark.createDataFrame(
        [(1, quote), (2, big), (3, "totally unrelated content here entirely")],
        "doc_id long, text string",
    )
    pairs = containment_pairs(docs, threshold=0.8, max_shingle_df=100).collect()
    assert len(pairs) == 1
    p = pairs[0]
    assert (p["inner_id"], p["outer_id"]) == (1, 2)
    assert p["containment"] >= 0.99
    # the same pair under Jaccard scores far below any dedup threshold
    from pyspark.sql import functions as F

    sets = {
        r["doc_id"]: r["s"]
        for r in docs.select(
            "doc_id", F.array_distinct(shingles_expr("text")).alias("s")
        ).collect()
    }
    jac = len(set(sets[1]) & set(sets[2])) / len(set(sets[1]) | set(sets[2]))
    assert jac < 0.1

    # an aggressive cap drops every posting -> conservatively no pairs
    assert containment_pairs(docs, threshold=0.8, max_shingle_df=0).collect() == []


def test_cms_overestimates_and_merges(spark):
    """CMS invariants: (1) estimate >= exact count for every item;
    (2) sketches of two halves MERGE by cell-wise addition into exactly
    the whole corpus's sketch; (3) a frequent item's estimate is tight
    when width >> distinct items."""
    from pyspark.sql import functions as F

    from dataplatform_cdc_pipeline_spark.operators.sketches import (
        cms_build,
        cms_estimate,
    )

    df = spark.range(0, 3000).select(
        F.concat(F.lit("w"), F.pmod(F.col("id") * F.col("id") + F.col("id"), F.lit(50))).alias("t")
    )
    sketch = cms_build(df, "t")
    exact = df.groupBy("t").agg(F.count(F.lit(1)).alias("n"))
    est = cms_estimate(sketch, exact, "t")
    j = {r["item"]: r["cms_n"] for r in est.collect()}
    ex = {r["t"]: r["n"] for r in exact.collect()}
    assert all(j[t] >= n for t, n in ex.items())
    # few distinct items over 256 columns: at most one row collides, so
    # the min across 4 rows is exact for (nearly) every item
    tight = sum(1 for t, n in ex.items() if j[t] == n)
    assert tight >= len(ex) - 1, (tight, len(ex))

    # mergeability: halves' cells sum to the whole's cells
    a = cms_build(spark.range(0, 1500).select(
        F.concat(F.lit("w"), F.pmod(F.col("id") * F.col("id") + F.col("id"), F.lit(50))).alias("t")), "t")
    b = cms_build(spark.range(1500, 3000).select(
        F.concat(F.lit("w"), F.pmod(F.col("id") * F.col("id") + F.col("id"), F.lit(50))).alias("t")), "t")
    merged = (
        a.unionByName(b)
        .groupBy("row", "col")
        .agg(F.sum("c").alias("c"))
    )
    whole = {(r["row"], r["col"]): r["c"] for r in sketch.collect()}
    got = {(r["row"], r["col"]): r["c"] for r in merged.collect()}
    assert got == whole


def test_blocked_fuzzy_join_single_edit_complete(spark):
    """Prefix/suffix blocking is COMPLETE for one edit on long-enough
    strings: substitution, insertion, and deletion anywhere all survive;
    distance-2 corruptions are rejected by the verify step."""
    from dataplatform_cdc_pipeline_spark.operators.linkage import blocked_fuzzy_pairs

    clean = spark.createDataFrame(
        [("warehouse-alpha-01",), ("warehouse-gamma-07",)], "name string"
    )
    dirty = spark.createDataFrame(
        [
            ("warehouse-aXpha-01",),  # substitution mid-string
            ("warehouse-alpha-012",),  # insertion (appended char)
            ("warehous-alpha-01",),  # deletion in the prefix half
            ("warehouse-gamma-XX",),  # TWO substitutions -> no match
        ],
        "name string",
    )
    pairs = blocked_fuzzy_pairs(dirty, clean, "name", "name", max_edit=1).collect()
    got = {(r["l_val"], r["r_val"]) for r in pairs}
    assert ("warehouse-aXpha-01", "warehouse-alpha-01") in got
    assert ("warehouse-alpha-012", "warehouse-alpha-01") in got
    assert ("warehous-alpha-01", "warehouse-alpha-01") in got
    assert not any(l == "warehouse-gamma-XX" for l, _ in got)


def test_ivf_sq8_probes_subset_and_scores_match_sq8(spark, sf_dir):
    """Composition invariants: (1) every IVF-SQ8 neighbor lives in one of
    the query's nprobe routed cells; (2) its score equals the flat SQ8
    score for the same (query, neighbor) — routing restricts candidates,
    never changes scoring."""
    from dataplatform_cdc_pipeline_spark.operators.quantization import (
        ivf_sq8_topk,
        sq8_scales,
        sq8_topk,
    )
    from dataplatform_cdc_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    scales = sq8_scales(emb)
    ivf = ivf_sq8_topk(emb, queries, k=5, nprobe=2, scales=scales).collect()
    flat = {
        (r["query_id"], r["nbr_id"]): r["score"]
        for r in sq8_topk(emb, queries, k=len(emb.collect()), scales=scales).collect()
    }
    cells = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    assert ivf, "no neighbors returned"
    for r in ivf:
        assert flat[(r["query_id"], r["nbr_id"])] == r["score"]
    # each query's neighbors span at most nprobe distinct cells
    from collections import defaultdict

    per_q = defaultdict(set)
    for r in ivf:
        per_q[r["query_id"]].add(cells[r["nbr_id"]])
    assert all(len(cs) <= 2 for cs in per_q.values())


def test_bpe_greedy_merge_with_adjacent_runs(spark):
    """Hand-checked BPE: corpus 'aaaa aaaa ab' — round 1 must pick
    ('a','a') with count 2·3+0... precisely: pairs in 'aaaa' are
    (a,a)×3 per word ⇒ cnt 6 (+0 from 'ab'); the greedy merge turns
    'a a a a' into 'aa aa' (BOTH disjoint occurrences — the two-pass
    replace rule), so round 2 sees (aa,aa) cnt 2."""
    from dataplatform_cdc_pipeline_spark.operators.bpe import learn_bpe_merges

    docs = spark.createDataFrame(
        [(1, "aaaa aaaa ab"), (2, "aaaa")], "doc_id long, text string"
    )
    # vocab: aaaa freq 2 (distinct words weighted by occurrences: 'aaaa'
    # appears 3 times across docs), ab freq 1
    merges = learn_bpe_merges(docs, n_merges=2)
    m1, m2 = merges
    assert (m1["left"], m1["right"], m1["merged"]) == ("a", "a", "aa")
    assert m1["cnt"] == 9  # 3 adjacent (a,a) pairs x 3 occurrences of 'aaaa'
    assert (m2["left"], m2["right"], m2["merged"]) == ("aa", "aa", "aaaa")
    assert m2["cnt"] == 3  # 'a a a a' -> 'aa aa' in every occurrence


def test_bpe_tie_breaks_lexicographically(spark):
    from dataplatform_cdc_pipeline_spark.operators.bpe import learn_bpe_merges

    docs = spark.createDataFrame([(1, "xy ab")], "doc_id long, text string")
    m = learn_bpe_merges(docs, n_merges=1)[0]
    # (a,b) and (x,y) both have cnt 1 -> lexicographic winner (a,b)
    assert (m["left"], m["right"], m["cnt"]) == ("a", "b", 1)


def test_bpe_encode_counts_shrink_monotonically(spark):
    """Encoding invariants: token count = char count with zero merges;
    every learned merge can only shrink (or hold) each doc's count; the
    'aaaa' doc shrinks 4 -> 1 after two merges (a a->aa, aa aa->aaaa)."""
    from dataplatform_cdc_pipeline_spark.operators.bpe import (
        apply_bpe,
        learn_bpe_merges,
    )

    docs = spark.createDataFrame(
        [(1, "aaaa aaaa"), (2, "aaaa ab"), (3, "zz")], "doc_id long, text string"
    )
    zero = {r["doc_id"]: r["n_bpe_tokens"] for r in apply_bpe(docs, []).collect()}
    assert zero == {1: 8, 2: 6, 3: 2}  # plain character counts
    merges = learn_bpe_merges(docs, n_merges=2)
    enc = {r["doc_id"]: r["n_bpe_tokens"] for r in apply_bpe(docs, merges).collect()}
    assert all(enc[d] <= zero[d] for d in zero)
    assert enc[1] == 2  # two words, each fully merged to one 'aaaa' symbol


def test_interdoc_repetition_flags_template_docs(spark, tmp_path, sf_dir):
    """A doc assembled from spans shared by many documents scores high
    common_frac and is dropped; a doc of unique text keeps. Run against a
    small synthetic corpus via the registered query's operator shape."""
    from dataplatform_cdc_pipeline_spark.functions.hashing import md5_long
    from dataplatform_cdc_pipeline_spark.operators.text_dedup import shingles_expr

    template = "all rights reserved contact us terms of service"
    docs = spark.createDataFrame(
        [(i, f"{template} page {i}") for i in range(1, 7)]
        + [(100, "completely unique content about aardvarks and zephyrs today")],
        "doc_id long, text string",
    )
    inv = docs.select(
        "doc_id",
        F.explode(
            F.transform(F.array_distinct(shingles_expr("text", 3)), lambda s: md5_long(s))
        ).alias("h"),
    )
    dfreq = inv.groupBy("h").agg(F.count(F.lit(1)).alias("dfreq"))
    per = (
        inv.join(dfreq, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("dfreq") > 3).cast("long")).alias("c"),
        )
        .collect()
    )
    frac = {r["doc_id"]: r["c"] / r["n"] for r in per}
    assert frac[100] == 0.0
    assert frac[1] > 0.5  # template spans shared by 6 docs dominate


def test_pagerank_int_hand_computed(spark):
    """Two exact-integer PageRank rounds on a hand-solved 3-node graph:
    edges 1->2, 1->3, 2->3, 3->1; N=3, init 333333, base 50000.
    Round 1: r=(333333, 191666, 474999); round 2: (453749, 191666, 354582)."""
    from dataplatform_cdc_pipeline_spark.operators.graph import pagerank_int

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 1)], "src long, dst long"
    )
    r1 = {r["node"]: r["rank_us"] for r in pagerank_int(edges, n_iter=1).collect()}
    assert r1 == {1: 333333, 2: 191666, 3: 474999}
    r2 = {r["node"]: r["rank_us"] for r in pagerank_int(edges, n_iter=2).collect()}
    assert r2 == {1: 453749, 2: 191666, 3: 354582}
    # hub ranking is the deliverable: the most-linked-to node leads r1
    assert max(r1, key=r1.get) == 3
    # duplicate edges collapse (distinct) — same result
    dup = edges.unionByName(edges)
    assert {r["node"]: r["rank_us"] for r in pagerank_int(dup, n_iter=2).collect()} == r2


def test_bloom_filter_no_false_negatives_and_prunes(spark):
    from dataplatform_cdc_pipeline_spark.operators.bloom import (
        bloom_build,
        bloom_might_contain,
    )
    from pyspark.sql import functions as F

    dim = spark.range(1, 101).select(F.col("id").alias("key"))
    words, m = bloom_build(dim, "key", m_bits=1 << 12, k_hashes=4)
    assert m == 1 << 12
    assert len(words) == (1 << 12) // 64 and any(w != 0 for w in words)
    # deterministic: a second build is bit-identical
    assert bloom_build(dim, "key", m_bits=1 << 12, k_hashes=4)[0] == words
    # auto-sizing: >= 16 bits per key, power of two
    _, m_auto = bloom_build(dim, "key", m_bits=None, k_hashes=4)
    assert m_auto >= 16 * 100 and (m_auto & (m_auto - 1)) == 0

    probe = spark.range(1, 2001).select(F.col("id").alias("k"))
    passed = {
        r["k"]
        for r in probe.filter(
            bloom_might_contain("k", words, m_bits=1 << 12, k_hashes=4)
        ).collect()
    }
    assert set(range(1, 101)) <= passed  # NO false negatives, ever
    assert len(passed) < 2000  # the pruning is real
    # NULL keys never pass (semi-join-consistent)
    nulls = spark.sql("select cast(null as long) as k")
    assert (
        nulls.filter(bloom_might_contain("k", words, 1 << 12, 4)).count() == 0
    )


def test_log2_histogram_mergeable_and_quantile_bound(spark):
    """Halves' histograms sum to the whole (mergeability), and the p50
    upper bound both contains the true median and honors the 2x
    relative-error guarantee of power-of-two buckets."""
    from pyspark.sql import functions as F

    from dataplatform_cdc_pipeline_spark.operators.sketches import (
        histogram_quantiles,
        log2_histogram,
    )

    df = spark.range(1, 1001).select(
        (F.col("id") % 7).alias("g"), (F.col("id") * 137).alias("vus")
    )
    whole = {
        (r["g"], r["bucket"]): r["cnt"]
        for r in log2_histogram(df, "vus", ["g"]).collect()
    }
    h1 = log2_histogram(df.filter("id % 2 = 0"), "vus", ["g"]).collect()
    h2 = log2_histogram(df.filter("id % 2 = 1"), "vus", ["g"]).collect()
    merged = {}
    for r in [*h1, *h2]:
        merged[(r["g"], r["bucket"])] = merged.get((r["g"], r["bucket"]), 0) + r["cnt"]
    assert merged == whole

    q = histogram_quantiles(log2_histogram(df, "vus", ["g"]), ["g"]).collect()
    import statistics

    vals = {g: sorted(v * 137 for v in range(1, 1001) if v % 7 == g) for g in range(7)}
    for r in q:
        true_med = statistics.median_low(vals[r["g"]])
        assert true_med <= r["p50_ub_us"] < 2 * max(true_med, 1) * 2
        assert r["n_total"] == len(vals[r["g"]])


def test_range_export_prunes_dense_data(spark, tmp_path):
    """The read-optimized range export closes the zone-map gap measured
    in SCALE.md: on DENSE uniform data (where PK-hash bucket stats prune
    nothing) a bottom-2% range read touches ~2% of range partitions,
    and equals the filtered full scan exactly."""
    from pyspark.sql import functions as F

    from dataplatform_cdc_pipeline_spark.operators.range_export import (
        read_range_pruned,
        write_range_partitioned,
    )

    df = spark.range(1, 50_001).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("value")
    )
    path = str(tmp_path / "export")
    stats = write_range_partitioned(df, path, "value", n_parts=16)
    assert len(stats) == 16
    pruned = read_range_pruned(spark, path, 1.0, 1000.0)
    expect = sorted(r["k"] for r in df.filter("value between 1.0 and 1000.0").collect())
    assert sorted(r["k"] for r in pruned.collect()) == expect
    full = spark.read.option("basePath", path).parquet(path)
    assert len(pruned.inputFiles()) <= 2 < len(full.inputFiles())
    # empty range: no partitions listed, schema intact
    assert read_range_pruned(spark, path, 1e9, 2e9).count() == 0
    # NULL values: land in range 0, never match a range read
    df2 = df.withColumn("value", F.when(F.col("k") % 2 == 0, F.col("value")))
    path2 = str(tmp_path / "export2")
    st2 = write_range_partitioned(df2, path2, "value", n_parts=4)
    assert sum(s["nulls"] for s in st2.values()) == 25_000
    got = {r["k"] for r in read_range_pruned(spark, path2, 1.0, 10.0).collect()}
    assert got == {2, 4, 6, 8, 10}


def test_triangle_counts_hand_computed(spark):
    """K4 → every vertex sits in C(3,2)=3 triangles; a path contributes
    none; reversed duplicates and self-loops canonicalize away."""
    from dataplatform_cdc_pipeline_spark.operators.graph import triangle_counts

    edges = [(u, v) for u in range(1, 5) for v in range(u + 1, 5)]
    edges += [(5, 6), (6, 7), (2, 1), (3, 3)]
    df = spark.createDataFrame(edges, "u long, v long")
    got = sorted((r["node"], r["n_triangles"]) for r in triangle_counts(df).collect())
    assert got == [(1, 3), (2, 3), (3, 3), (4, 3)]


def test_bfs_hops_hand_computed(spark):
    """Chain 1→2→3→4→5 with a shortcut 1→4 and a cycle 4→1: min-hop
    wins over path order (4 is hop 1 via the shortcut, never hop 3),
    the cycle cannot re-visit a seed, the bound truncates (5 is hop 2
    via 4→5; with max_hops=1 it is absent), and unreachable 9→10 never
    appears."""
    from dataplatform_cdc_pipeline_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (1, 4), (4, 1), (9, 10)],
        "src long, dst long",
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    got = sorted((r["node"], r["hops"]) for r in bfs_hops(edges, seeds, 4).collect())
    assert got == [(1, 0), (2, 1), (3, 2), (4, 1), (5, 2)]
    shallow = sorted(
        (r["node"], r["hops"]) for r in bfs_hops(edges, seeds, 1).collect()
    )
    assert shallow == [(1, 0), (2, 1), (4, 1)]
    # early drain: bound far beyond the diameter changes nothing
    deep = sorted((r["node"], r["hops"]) for r in bfs_hops(edges, seeds, 99).collect())
    assert deep == got
