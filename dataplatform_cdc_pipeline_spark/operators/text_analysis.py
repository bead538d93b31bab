"""Text-analysis operators for large-scale training-data pipelines.

Beyond-reference surface (BASELINE.json north star): language-ID, quality
scoring, token counting, document fingerprinting. The expressions are
native Columns — JVM-side, codegen-able — so a 100 TB documents table
processes at scan speed with full predicate pushdown/column pruning; the
two per-document frames whose hashing/3-gram folds would run interpreted
(``text_stats_frame``, ``fingerprint_frame``) are one Arrow-batched pass
each.

All hashing is MD5-derived (functions/hashing.py) so results are
reproducible bit-for-bit in any engine (DuckDB oracles).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Public common-word profiles for the n-gram/stopword language heuristic.
# Order matters: deterministic argmax precedence.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "it", "you", "that"),
    "de": ("der", "die", "das", "und", "ist", "ich", "nicht", "ein", "zu", "mit"),
    "fr": ("le", "la", "les", "et", "un", "une", "est", "je", "pas", "pour"),
    "es": ("el", "los", "las", "y", "es", "no", "que", "por", "con", "para"),
    "zh": ("的", "一", "是", "不", "了", "人", "我", "在", "有", "他"),
}

PUNCT_PATTERN = r"[.,!?;:]"


def tokens_expr(text: Column | str) -> Column:
    """Whitespace tokenization of the lowercased text."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.lower(F.trim(c)), r"\s+")


def stopword_hits(tokens: Column, words: tuple[str, ...]) -> Column:
    """Occurrences (with duplicates) of profile words in the token array."""
    wordset = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(tokens, lambda t: F.array_contains(wordset, t)))


def token_stats_columns(text: Column | str = "text") -> dict[str, Column]:
    """Token/char statistics: the building blocks of quality scoring."""
    from dataplatform_cdc_pipeline_spark.operators.text_dedup import shingles_expr

    c = F.col(text) if isinstance(text, str) else text
    toks = tokens_expr(c)
    n_tokens = F.size(toks)
    n_chars = F.length(c)
    sh = shingles_expr(c, 3)
    # Gopher-style repetition signal: duplicate word-3gram fraction
    rep_ratio = F.lit(1.0) - F.size(F.array_distinct(sh)).cast("double") / F.size(sh).cast(
        "double"
    )
    return {
        "n_tokens": n_tokens,
        "n_chars_measured": n_chars,
        "rep_ratio": F.floor(rep_ratio * F.lit(10000.0)) / F.lit(10000.0),
        # floor-scaled, not rounded — see quality_score_expr for why
        "avg_token_len": F.floor(
            (n_chars - n_tokens + 1).cast("double") / n_tokens.cast("double") * F.lit(10000.0)
        )
        / F.lit(10000.0),
        "punct_count": F.size(F.regexp_extract_all(c, F.lit(PUNCT_PATTERN), 0)),
        "digit_count": F.size(F.regexp_extract_all(c, F.lit(r"[0-9]"), 0)),
        "stopword_count": stopword_hits(toks, LANG_PROFILES["en"]),
    }


#: GPT-2-style pre-tokenizer, simplified to the subset expressible in BOTH
#: Java regex (Spark) and RE2 (DuckDB): contraction suffixes, then
#: optionally-space-prefixed letter runs / digit runs / symbol runs, then
#: residual whitespace. (The original's `\s+(?!\S)` lookahead is not RE2-
#: expressible; the practical effect on token COUNTS is nil because the
#: residual `\s+` alternative still consumes the gap as one token.)
BPE_TOKEN_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+|\s+"


def bpe_token_count_expr(text: Column | str = "text") -> Column:
    """Approximate LLM token count: matches of the BPE-ish pre-tokenizer
    (the standard cheap stand-in for a real tokenizer when budgeting a
    corpus — whitespace token counts undercount code/punctuation-heavy
    text). Pure Column expression, scan-speed at 100 TB."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(BPE_TOKEN_PATTERN), 0))


def text_stats_frame(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, token/char statistics) in one Arrow-batched pass.

    The values are those of :func:`token_stats_columns` (used inside
    quality_score_expr) — same split/shingle rules, and floor-scaled
    doubles are plain IEEE arithmetic in both runtimes — without that
    form's interpreted higher-order 3-gram fold. The ``text_stats`` query
    pins them to its DuckDB oracle.
    """
    import math
    import re as _re

    from pyspark.sql import types as T

    punct_re = _re.compile(r"[.,!?;:]")
    digit_re = _re.compile(r"[0-9]")
    stop = frozenset(LANG_PROFILES["en"])
    schema = T.StructType(
        [
            T.StructField("n_tokens", T.IntegerType()),
            T.StructField("n_chars_measured", T.IntegerType()),
            T.StructField("rep_ratio", T.DoubleType()),
            T.StructField("avg_token_len", T.DoubleType()),
            T.StructField("punct_count", T.IntegerType()),
            T.StructField("digit_count", T.IntegerType()),
            T.StructField("stopword_count", T.IntegerType()),
        ]
    )

    @F.pandas_udf(schema)
    def ts(texts):
        rows = []
        for t in texts:
            t = t or ""
            words = t.strip().lower().split()
            if not words:
                words = [""]  # split("\\s+") of empty text yields [""] in Spark
            n_tok = len(words)
            n_chars = len(t)
            if n_tok >= 3:
                grams = [" ".join(words[i : i + 3]) for i in range(n_tok - 2)]
            else:
                grams = [" ".join(words)]
            rep = 1.0 - len(set(grams)) / len(grams)
            rows.append(
                (
                    n_tok,
                    n_chars,
                    math.floor(rep * 10000.0) / 10000.0,
                    math.floor((n_chars - n_tok + 1) / n_tok * 10000.0) / 10000.0,
                    len(punct_re.findall(t)),
                    len(digit_re.findall(t)),
                    sum(1 for w in words if w in stop),
                )
            )
        return pd.DataFrame(
            rows,
            columns=[
                "n_tokens",
                "n_chars_measured",
                "rep_ratio",
                "avg_token_len",
                "punct_count",
                "digit_count",
                "stopword_count",
            ],
        )

    return df.select(F.col(id_col), ts(F.col(text_col)).alias("_s")).select(id_col, "_s.*")


def quality_score_expr(text: Column | str = "text") -> Column:
    """Composite [0,1] quality score from length / stopword / punct ratios.

    Deterministic arithmetic (documented weights) so any engine can
    recompute it; the components mirror common LLM-corpus filters
    (C4/Gopher-style length + symbol-ratio + stopword heuristics).
    """
    s = token_stats_columns(text)
    n_tokens = s["n_tokens"].cast("double")
    length_component = F.least(n_tokens / F.lit(100.0), F.lit(1.0))
    stop_ratio = s["stopword_count"].cast("double") / n_tokens
    stop_component = F.least(stop_ratio * F.lit(10.0), F.lit(1.0))
    punct_ratio = s["punct_count"].cast("double") / s["n_chars_measured"].cast("double")
    punct_component = F.lit(1.0) - F.least(punct_ratio * F.lit(20.0), F.lit(1.0))
    # compare the RAW ratio (the rounded display value would add a second
    # cross-engine rounding boundary)
    raw_avg_len = (s["n_chars_measured"] - s["n_tokens"] + 1).cast("double") / n_tokens
    len_ok = ((raw_avg_len >= F.lit(3.0)) & (raw_avg_len <= F.lit(10.0))).cast("double")
    score = (
        length_component * 0.4 + stop_component * 0.3 + punct_component * 0.2 + len_ok * 0.1
    )
    # floor-scaling, NOT round: the unrounded double is bit-identical across
    # engines (pure IEEE per-row arithmetic), so floor(x*1e4) is too —
    # whereas round() half-up boundaries differ between Spark's
    # shortest-decimal BigDecimal and DuckDB's std::round (seen: 8/5000
    # docs flipping 0.8372 vs 0.8373 at sf0.1)
    return F.floor(score * F.lit(10000.0)) / F.lit(10000.0)


def language_scores(text: Column | str = "text") -> dict[str, Column]:
    """Per-language stopword-profile hit counts."""
    toks = tokens_expr(text)
    return {lang: stopword_hits(toks, words) for lang, words in LANG_PROFILES.items()}


def language_id_expr(text: Column | str = "text") -> Column:
    """Predicted language = argmax profile hits, ties broken by profile
    order (en > de > fr > es > zh), 'und' when nothing matches."""
    scores = language_scores(text)
    best = F.greatest(*scores.values())
    expr = None
    # CASE chain, first match wins → profile order breaks ties
    for lang, score in scores.items():
        cond = (score > 0) & (score == best)
        expr = F.when(cond, F.lit(lang)) if expr is None else expr.when(cond, F.lit(lang))
    return expr.otherwise(F.lit("und"))


def fingerprint_frame(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, document fingerprints) in one Arrow-batched hashlib pass:
    full-content MD5, its 60-bit integer hash (``md5_long``), and a
    word-window rolling fingerprint (min/max of the 3-gram hashes — the
    winnowing endpoints). The ``doc_fingerprint`` query pins them to its
    DuckDB oracle.
    """
    import hashlib

    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("content_md5", T.StringType()),
            T.StructField("content_hash64", T.LongType()),
            T.StructField("min_gram_hash", T.LongType()),
            T.StructField("max_gram_hash", T.LongType()),
        ]
    )

    @F.pandas_udf(out_schema)
    def fp(texts: pd.Series) -> pd.DataFrame:
        rows = []
        for t in texts:
            raw = (t or "").encode()
            md5_hex = hashlib.md5(raw).hexdigest()
            words = (t or "").strip().lower().split()
            if len(words) >= 3:
                grams = [" ".join(words[i : i + 3]) for i in range(len(words) - 2)]
            else:
                grams = [" ".join(words)]
            hashes = [int(hashlib.md5(g.encode()).hexdigest()[:15], 16) for g in grams]
            rows.append(
                (md5_hex, int(md5_hex[:15], 16), min(hashes), max(hashes))
            )
        return pd.DataFrame(rows, columns=["content_md5", "content_hash64", "min_gram_hash", "max_gram_hash"])

    return df.select(F.col(id_col), fp(F.col(text_col)).alias("_fp")).select(id_col, "_fp.*")


def top_ngrams(
    df: DataFrame, n: int = 2, k: int = 50, text_col: str = "text"
) -> DataFrame:
    """Corpus-wide top-k word n-grams by occurrence count — the LM-count /
    vocabulary-mining primitive.

    Shape at scale: explode (narrow, ×tokens) → ONE groupBy shuffle with
    map-side partial counts (hot n-grams combine before the exchange) →
    top-k via TakeOrderedAndProject (per-partition heaps, no global sort).
    The (count DESC, gram ASC) order is total, so the k-boundary is
    deterministic across engines.
    """
    from dataplatform_cdc_pipeline_spark.operators.text_dedup import shingles_expr

    grams = df.select(F.explode(shingles_expr(text_col, n)).alias("gram"))
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("gram").asc())
        .limit(k)
    )


def doc_frequency(
    df: DataFrame, top: int = 100, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Vocabulary document-frequency stats: for the ``top`` most common
    tokens, (token, df, idf_ppm) where ``idf_ppm = N·10⁶ div df`` — the
    inverse-document-frequency in exact BIGINT ppm (no cross-engine libm
    log discrepancies). Distinct-per-doc explode → one count shuffle; the
    corpus size N joins in as a broadcast 1-row aggregate."""
    tokens = df.select(
        F.col(id_col), F.explode(F.array_distinct(tokens_expr(F.col(text_col)))).alias("token")
    )
    dfreq = tokens.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        dfreq.crossJoin(F.broadcast(n_docs))
        .withColumn("idf_ppm", F.expr("(n_docs * 1000000) div df"))
        .select("token", "df", "idf_ppm")
        .orderBy(F.col("df").desc(), F.col("token").asc())
        .limit(top)
    )


def repetition_stats_frame(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition filters (beyond the 3-gram ``rep_ratio``):
    line-level duplication and top/duplicate n-gram character coverage —
    the standard signals for dropping boilerplate/spam from an LLM corpus.

    Per document (fractions floor-scaled to 4 decimals):

    - ``n_lines``            non-empty lines
    - ``dup_line_frac``      1 − distinct_lines / lines
    - ``dup_line_char_frac`` chars in lines occurring >1× / total chars
    - ``top_2gram_char_frac`` maximal char coverage over word 2-grams
      (max of count × gram length) / total chars
    - ``dup_5gram_char_frac`` chars covered by word 5-grams occurring >1×
      / total chars
    - ``keep``               Gopher-ish thresholds (≤0.30 dup lines by
      count and chars, ≤0.20 top-2-gram, ≤0.15 dup-5-gram coverage)

    Scale shape: three explode→groupBy legs, each shuffling on
    ``(doc_id, line|gram)`` then re-keying to ``doc_id`` — partial
    aggregation applies map-side, nothing is corpus-pairwise, and the
    final assembly is three co-keyed joins on ``doc_id``. No Python on
    the hot path.
    """
    words = tokens_expr(F.col(text_col))
    base = df.select(
        F.col(id_col),
        F.length(text_col).cast("long").alias("n_chars"),
        F.filter(F.split(F.col(text_col), "\n"), lambda l: l != F.lit("")).alias("lines"),
        words.alias("words"),
    )

    def grams(n: int):
        # one gram per window start: concat_ws(' ', slice(words, i, n));
        # guarded — sequence(1, 0) would DESCEND, not return empty
        return F.when(
            F.size("words") >= n,
            F.transform(
                F.sequence(F.lit(1), F.size("words") - F.lit(n - 1)),
                lambda i: F.concat_ws(" ", F.slice("words", i, F.lit(n))),
            ),
        ).otherwise(F.array().cast("array<string>"))

    line_counts = (
        base.select(id_col, F.explode("lines").alias("line"))
        .groupBy(id_col, "line")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    line_stats = line_counts.groupBy(id_col).agg(
        F.sum("cnt").alias("n_lines"),
        F.count(F.lit(1)).alias("n_distinct_lines"),
        F.sum(F.when(F.col("cnt") > 1, F.length("line") * F.col("cnt")).otherwise(F.lit(0))).alias(
            "dup_line_chars"
        ),
    )
    top2 = (
        base.select(id_col, F.explode(grams(2)).alias("gram"))
        .groupBy(id_col, "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy(id_col)
        .agg(F.max(F.length("gram") * F.col("cnt")).alias("top_2gram_chars"))
    )
    dup5 = (
        base.select(id_col, F.explode(grams(5)).alias("gram"))
        .groupBy(id_col, "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy(id_col)
        .agg(
            F.sum(
                F.when(F.col("cnt") > 1, F.length("gram") * F.col("cnt")).otherwise(F.lit(0))
            ).alias("dup_5gram_chars")
        )
    )

    def frac(num, den):
        return F.floor(
            F.coalesce(num.cast("double") / F.nullif(den.cast("double"), F.lit(0.0)), F.lit(0.0))
            * F.lit(10000.0)
        ) / F.lit(10000.0)

    out = (
        base.select(id_col, "n_chars")
        .join(line_stats, id_col, "left")
        .join(top2, id_col, "left")
        .join(dup5, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_lines", F.lit(0)).cast("long").alias("n_lines"),
            frac(
                F.coalesce(F.col("n_lines") - F.col("n_distinct_lines"), F.lit(0)),
                F.coalesce("n_lines", F.lit(0)),
            ).alias("dup_line_frac"),
            frac(F.coalesce("dup_line_chars", F.lit(0)), F.col("n_chars")).alias(
                "dup_line_char_frac"
            ),
            frac(F.coalesce("top_2gram_chars", F.lit(0)), F.col("n_chars")).alias(
                "top_2gram_char_frac"
            ),
            frac(F.coalesce("dup_5gram_chars", F.lit(0)), F.col("n_chars")).alias(
                "dup_5gram_char_frac"
            ),
        )
        .withColumn(
            "keep",
            (F.col("dup_line_frac") <= 0.30)
            & (F.col("dup_line_char_frac") <= 0.30)
            & (F.col("top_2gram_char_frac") <= 0.20)
            & (F.col("dup_5gram_char_frac") <= 0.15),
        )
    )
    return out


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Token-window chunking: overlapping fixed-size chunks per document —
    the standard pre-training / RAG segmentation shape.

    Pure relational (sequence + explode + slice), mirroring
    multimodal.audio_segment_plan: aligned starts ``0, stride, 2·stride …``
    plus a final window anchored at ``n_tokens − chunk_tokens`` so the tail
    is always covered by a full-length chunk (documents shorter than one
    chunk yield a single partial chunk). Exact integer arithmetic — no
    float boundaries, so a SQL oracle replays the chunking bit-for-bit.
    Coverage semantics (property-tested): ``stride ≤ chunk_tokens`` covers
    every token (overlapping windows); ``stride == chunk_tokens`` packs
    disjoint chunks; ``stride > chunk_tokens`` is sparse SAMPLING and
    intentionally leaves gaps.

    100 TB posture: map-only (no shuffle); output rows ≈ input tokens /
    stride, each carrying only its chunk text — the full token array never
    leaves the stage.
    """
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(words)
    last_start = F.greatest(n - F.lit(chunk_tokens), F.lit(0))
    aligned = F.sequence(F.lit(0), last_start, F.lit(stride))
    starts = F.array_distinct(F.concat(aligned, F.array(last_start)))
    return (
        df.select(
            F.col(id_col),
            words.alias("__w"),
            n.alias("__n"),
            F.explode(starts).alias("start_tok"),
        )
        .select(
            F.col(id_col),
            "start_tok",
            F.least(F.lit(chunk_tokens), F.col("__n") - F.col("start_tok")).alias("n_tokens"),
            F.concat_ws(" ", F.slice("__w", F.col("start_tok") + 1, F.lit(chunk_tokens))).alias(
                "chunk_text"
            ),
        )
    )


def bigram_logprob_frame(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lam: float = 0.7,
) -> DataFrame:
    """Interpolated-bigram perplexity proxy — one model class up from
    :func:`unigram_logprob_frame` (the KenLM ladder: unigram → n-gram):

        p(v|u) = λ·(c(uv)+1)/(c(u)+V) + (1−λ)·(c(v)+1)/(T+V)
        score(d) = mean over adjacent pairs of −ln p(v|u)

    add-one smoothing on both terms; docs with < 2 tokens have no bigram
    positions and drop out (callers union the unigram score for those).

    Scale shape: ONE posexplode; adjacent pairs come from lag() over
    (doc, pos) — per-doc window work, no self-join; bigram counts are a
    (u,v)-keyed agg joined back by key (map-side combined); unigram
    counts join twice (u and v sides) — Spark broadcasts when small;
    totals ride a broadcast 1-row frame. Per-pair −ln p goes through
    DECIMAL(28,12) so per-doc sums are exact and partition-order-
    independent (same exactness discipline as the unigram scorer).
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col), F.posexplode(tokens_expr(text_col)).alias("__pos", "__v")
    )
    pairs = (
        toks.withColumn(
            "__u", F.lag("__v").over(Window.partitionBy(id_col).orderBy("__pos"))
        )
        .filter(F.col("__u").isNotNull())
        .select(id_col, "__u", "__v")
    )
    uni = toks.groupBy("__v").agg(F.count(F.lit(1)).alias("__c"))
    # NB: Spark resolves case-insensitively — totals columns must not
    # differ from the token columns by case alone
    totals = uni.agg(F.sum("__c").alias("__tot_t"), F.count(F.lit(1)).alias("__tot_v"))
    bi = pairs.groupBy("__u", "__v").agg(F.count(F.lit(1)).alias("__cuv"))
    scored = (
        pairs.join(bi, ["__u", "__v"])
        .join(uni.select(F.col("__v").alias("__u"), F.col("__c").alias("__cu")), "__u")
        .join(uni.select("__v", F.col("__c").alias("__cv")), "__v")
        .crossJoin(F.broadcast(totals))
    )
    p_bi = (F.col("__cuv") + F.lit(1)).cast("double") / (
        F.col("__cu") + F.col("__tot_v")
    ).cast("double")
    p_uni = (F.col("__cv") + F.lit(1)).cast("double") / (
        F.col("__tot_t") + F.col("__tot_v")
    ).cast("double")
    # (1-λ) is computed IN-ENGINE ((1.0 - 0.7) = 0.30000000000000004, not
    # the literal 0.3) so an oracle writing `1.0 - 0.7` lands on the same
    # double
    neg_lp = -F.log(F.lit(lam) * p_bi + (F.lit(1.0) - F.lit(lam)) * p_uni)
    per_doc = scored.groupBy(id_col).agg(
        F.sum(neg_lp.cast("decimal(28,12)")).alias("__s"),
        F.count(F.lit(1)).alias("n_bigrams"),
    )
    return per_doc.select(
        F.col(id_col),
        "n_bigrams",
        (
            F.floor(F.col("__s").cast("double") / F.col("n_bigrams") * F.lit(1_000_000.0))
            / F.lit(1_000_000.0)
        ).alias("avg_neg_logprob"),
    )


def unigram_logprob_frame(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Perplexity-proxy scoring: per-doc mean negative log-probability of
    its tokens under the corpus's own add-one-smoothed unigram model — the
    cheap relational stand-in for the KenLM perplexity filter (CCNet);
    high scores = improbable token mix = filter candidates.

        p(t) = (c(t) + 1) / (T + V)      c = corpus count, T = total
                                          tokens, V = vocabulary size
        score(d) = mean over tokens of −ln p(t)

    Scale shape: ONE explode feeding BOTH the count agg and the scoring
    join; the vocabulary frame is (term, count) — broadcast when small,
    shuffle-join on term otherwise (Spark picks by size); corpus totals
    ride a broadcast 1-row frame. Per-token −ln p is cast to
    DECIMAL(28,12) before summing so the per-doc sum is exact and
    partition-order-independent (float sums would differ across engines in
    the last ulps); the final mean is floor-scaled at 1e-6.
    """
    toks = df.select(F.col(id_col), F.explode(tokens_expr(text_col)).alias("__term"))
    vocab = toks.groupBy("__term").agg(F.count(F.lit(1)).alias("__c"))
    totals = vocab.agg(
        F.sum("__c").alias("__T"), F.count(F.lit(1)).alias("__V")
    )
    scored = toks.join(vocab, "__term").crossJoin(F.broadcast(totals))
    neg_lp = -F.log(
        (F.col("__c") + F.lit(1)).cast("double")
        / (F.col("__T") + F.col("__V")).cast("double")
    )
    per_doc = scored.groupBy(id_col).agg(
        F.sum(neg_lp.cast("decimal(28,12)")).alias("__s"),
        F.count(F.lit(1)).alias("n_tokens"),
    )
    return per_doc.select(
        F.col(id_col),
        "n_tokens",
        (
            F.floor(F.col("__s").cast("double") / F.col("n_tokens") * F.lit(1_000_000.0))
            / F.lit(1_000_000.0)
        ).alias("avg_neg_logprob"),
    )
