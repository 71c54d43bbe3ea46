"""Text-analysis operators: language ID, quality scoring, token counting,
fingerprinting. All pure column expressions — at 100 TB these run inside
the scan with zero extra stages.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dbldatagen_spark.functions import _materialize
from dbldatagen_spark.functions._parallel import ensure_parallelism

# Compact stopword lists for the n-gram/stopword-hit language heuristic.
# Order matters: ties resolve to the earliest language below.
LANG_STOPWORDS: Dict[str, List[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "a"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "fr": ["le", "la", "et", "les", "des", "est", "une", "dans", "pour", "que"],
    "es": ["el", "la", "que", "de", "los", "una", "por", "con", "para", "es"],
}
LANG_ORDER = ["en", "de", "fr", "es"]


def tokens_expr(text: Column) -> Column:
    """Lowercased whitespace tokens."""
    return F.split(F.lower(F.trim(text)), r"\s+")


_ALPHA_CHARS = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
_DIGIT_CHARS = "0123456789"
_PUNCT_CHARS = ".,;:!?'\"()-"


def count_chars_expr(s: Column, chars: str) -> Column:
    """Occurrences of any char of ``chars`` in ``s`` — the length delta
    over a translate-delete.  Value-identical to counting via
    ``regexp_replace`` with the complementary character class, but ~5x
    faster (one table-lookup pass, no regex engine — measured 0.96 s vs
    0.21 s for the quality trio over 50k docs)."""
    return F.length(s) - F.length(F.translate(s, chars, ""))


def token_count_expr(text: Column, *, mode: str = "whitespace") -> Column:
    """Token count: ``whitespace`` split or a BPE-ish regex lexer
    (letter-runs | digit-runs | single non-space symbol)."""
    if mode == "whitespace":
        return F.size(F.split(F.trim(text), r"\s+")).cast("long")
    if mode == "bpe":
        return F.size(
            F.regexp_extract_all(text, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0)
        ).cast("long")
    raise ValueError(f"unknown token mode {mode!r}")


def language_expr(text: Column) -> "tuple[Column, Column]":
    """``(detected_lang, stopword_hits)`` expressions over a text column —
    the building block shared by :func:`detect_language` and
    :func:`~dbldatagen_spark.functions.curation.route_by_language` so the
    two can never drift apart.

    CJK characters dominate (→ ``zh``); otherwise the language whose
    stopword list has the most *distinct* hits among the document's tokens
    wins; ties resolve in LANG_ORDER; zero hits (or NULL text) → ``und``.
    """
    toks = F.array_distinct(tokens_expr(text))
    hit_cols = {
        lang: F.size(
            F.array_intersect(toks, F.array(*[F.lit(w) for w in words]))
        )
        for lang, words in LANG_STOPWORDS.items()
    }
    best = F.greatest(*hit_cols.values())
    # One array_max over (hits, priority, code) structs instead of a
    # chained when over per-language equality tests: the winner is the
    # max hit count, ties resolve to the HIGHEST priority = earliest
    # LANG_ORDER entry — identical semantics, but each stopword
    # intersect appears once in the expression tree, which keeps the
    # generated code bounded (the chained form blew past the JVM's
    # 64 KB method limit once composed into a partitioned write's
    # sorter). NULL hits (NULL text) coalesce to -1 so they can never
    # clear the `> 0` gate.
    n_langs = len(LANG_ORDER)
    ranked = F.array_max(
        F.array(*[
            F.struct(
                F.coalesce(hit_cols[lang], F.lit(-1)).alias("n"),
                F.lit(n_langs - i).alias("r"),
                F.lit(lang).alias("code"),
            )
            for i, lang in enumerate(LANG_ORDER)
        ])
    )
    lang_expr = F.when(ranked["n"] > 0, ranked["code"]).otherwise(F.lit("und"))
    has_cjk = text.rlike("[\\u4e00-\\u9fff]")
    lang_expr = F.when(has_cjk, F.lit("zh")).otherwise(lang_expr)
    return lang_expr, best.cast("long")


def detect_language(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Heuristic language ID.

    CJK characters dominate (→ ``zh``); otherwise the language whose
    stopword list has the most *distinct* hits among the document's tokens
    wins; ties resolve in LANG_ORDER; zero hits → ``und``.
    """
    df = ensure_parallelism(df)
    lang_expr, hits = language_expr(F.col(text_col))
    return df.select(
        F.col(id_col), lang_expr.alias("detected_lang"), hits.alias("stopword_hits")
    )


def quality_metrics(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Per-document quality features + composite score in [0,1].

    Features follow the standard web-corpus filters: length, mean word
    length, alpha/digit/punct character ratios, stopword ratio, repetition
    (distinct-token ratio). The composite is a fixed linear blend —
    deterministic and explainable rather than learned.
    """
    df = ensure_parallelism(df)
    text = F.col(text_col)
    n_chars = F.length(text)
    toks = tokens_expr(text)
    n_tokens = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    alpha = count_chars_expr(text, _ALPHA_CHARS)
    digits = count_chars_expr(text, _DIGIT_CHARS)
    punct = count_chars_expr(text, _PUNCT_CHARS)
    en_stop = F.array(*[F.lit(w) for w in LANG_STOPWORDS["en"]])
    stop_hits = F.size(F.array_intersect(F.array_distinct(toks), en_stop))

    safe_tokens = F.greatest(n_tokens, F.lit(1))
    safe_chars = F.greatest(n_chars, F.lit(1))
    mean_word_len = n_chars.cast("double") / safe_tokens
    alpha_ratio = alpha.cast("double") / safe_chars
    digit_ratio = digits.cast("double") / safe_chars
    punct_ratio = punct.cast("double") / safe_chars
    distinct_ratio = n_distinct.cast("double") / safe_tokens
    stop_ratio = stop_hits.cast("double") / F.lit(float(len(LANG_STOPWORDS["en"])))

    length_score = F.least(n_tokens.cast("double") / F.lit(100.0), F.lit(1.0))
    score = (
        F.lit(0.3) * alpha_ratio
        + F.lit(0.2) * distinct_ratio
        + F.lit(0.2) * length_score
        + F.lit(0.2) * stop_ratio
        + F.lit(0.1) * (F.lit(1.0) - F.least(digit_ratio * 5, F.lit(1.0)))
    )
    return df.select(
        F.col(id_col),
        n_chars.cast("long").alias("n_chars"),
        n_tokens.cast("long").alias("n_tokens"),
        F.round(mean_word_len, 4).alias("mean_word_len"),
        F.round(alpha_ratio, 4).alias("alpha_ratio"),
        F.round(digit_ratio, 4).alias("digit_ratio"),
        F.round(punct_ratio, 4).alias("punct_ratio"),
        F.round(distinct_ratio, 4).alias("distinct_ratio"),
        F.round(score, 4).alias("quality_score"),
    )


def repetition_metrics(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Per-document repetition signals, the standard web-corpus quality
    filters alongside :func:`quality_metrics` (the duplicate-line /
    duplicate-paragraph / top-n-gram-share family popularized by published
    large-corpus curation work).

    Returns ``(id, dup_line_fraction, dup_paragraph_fraction,
    top_bigram_share)`` where the fractions are
    ``1 - distinct/total`` over non-empty trimmed lines/paragraphs and
    ``top_bigram_share`` is the most frequent word-bigram's share of all
    bigrams (0.0 for docs with < 2 tokens).

    Scale shape: the line/paragraph fractions are pure per-row expressions
    (in-scan, no shuffle). The bigram share explodes to ``(id, bigram)``
    keys and aggregates twice — both shuffles carry 8-byte hashed keys and
    partial aggregation halves them map-side; nothing quadratic, no skew
    beyond natural token skew (hash-partitioned on (id, bigram)).
    """
    df = ensure_parallelism(df)
    text = F.col(text_col)

    def _nonempty(parts: Column) -> Column:
        return F.filter(
            F.transform(parts, F.trim), lambda p: p != F.lit("")
        )

    lines = _nonempty(F.split(text, r"\n"))
    paras = _nonempty(F.split(text, r"\n\n+"))

    def _dup_fraction(parts: Column) -> Column:
        n = F.size(parts)
        return F.when(n <= 0, F.lit(0.0)).otherwise(
            F.lit(1.0)
            - F.size(F.array_distinct(parts)).cast("double") / n.cast("double")
        )

    # fractions stay unrounded: distinct/total and max/sum are single IEEE
    # divisions of integers, bit-identical across engines, while a decimal
    # rounding step is not (round-half conventions differ on exact ties
    # like 1/32 = 0.03125)
    base = df.select(
        F.col(id_col),
        _dup_fraction(lines).alias("dup_line_fraction"),
        _dup_fraction(paras).alias("dup_paragraph_fraction"),
        tokens_expr(text).alias("_toks"),
    )
    # bigrams: zip the token array against itself shifted by one; explode
    # to (id, bigram) so the frequency aggregation distributes
    bigrams = base.select(
        F.col(id_col),
        F.explode_outer(
            F.when(
                F.size("_toks") >= 2,
                F.zip_with(
                    F.slice(F.col("_toks"), 1, F.size("_toks") - 1),
                    F.slice(F.col("_toks"), 2, F.size("_toks") - 1),
                    lambda a, b: F.concat_ws(" ", a, b),
                ),
            ).otherwise(F.array()),
        ).alias("_gram"),
    )
    shares = (
        bigrams.groupBy(id_col, "_gram")
        .agg(F.count(F.lit(1)).alias("_n"))
        .groupBy(id_col)
        .agg(
            F.when(
                F.max(F.col("_gram").isNotNull().cast("int")) == 0, F.lit(0.0)
            )
            .otherwise(F.max("_n").cast("double") / F.sum("_n").cast("double"))
            .alias("_top_share")
        )
    )
    return (
        base.drop("_toks")
        .join(shares, id_col, "left")
        .select(
            F.col(id_col),
            "dup_line_fraction",
            "dup_paragraph_fraction",
            F.coalesce(F.col("_top_share"), F.lit(0.0)).alias("top_bigram_share"),
        )
    )


def document_fingerprint(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Content fingerprints: sha256 of the normalized text plus a 64-bit
    xxhash64 rolling key — the join/dedup keys for exact content identity."""
    from dbldatagen_spark.functions.dedup import normalize_text_expr

    norm = normalize_text_expr(F.col(text_col))
    return df.select(
        F.col(id_col),
        F.sha2(norm, 256).alias("sha256_hex"),
        F.xxhash64(norm).alias("hash64"),
    )


def token_vocabulary(
    df: DataFrame,
    text_col: str,
    *,
    top_k: int = 1000,
    min_count: int = 1,
) -> DataFrame:
    """Corpus vocabulary: the ``top_k`` most frequent lowercased tokens.

    explode → groupBy is the canonical wordcount: map-side partial
    aggregation collapses each partition's counts before the single
    shuffle, so the shuffle volume is per-partition-distinct tokens, not
    corpus tokens. The top-k is a TakeOrdered (no second full sort).
    Deterministic tie-break: count desc, then token asc.
    """
    # explode_outer (here and in the other token/gram explodes): plain
    # explode gets an inferred size(<array>) > 0 filter whose pushdown
    # INLINES the tokenization into a second, pre-exchange evaluation
    # (see dedup._shingle_overlap for the measured 25x case); the existing
    # post-explode predicates already drop the outer variant's NULL rows
    toks = tokens_expr(F.col(text_col))
    return (
        ensure_parallelism(df)
        .select(F.explode_outer(toks).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
        .where(F.col("n_occurrences") >= min_count)
        .orderBy(F.desc("n_occurrences"), "token")
        .limit(top_k)
    )


def ngram_counts(
    df: DataFrame,
    text_col: str,
    *,
    n: int = 2,
    top_k: int = 1000,
) -> DataFrame:
    """Top-k word n-grams by occurrence count (non-distinct — every
    occurrence counts, unlike the dedup shingles which are per-doc sets).

    The n-gram build is a pure expression (``transform`` over an index
    sequence); the only shuffle is the wordcount aggregation, with the
    same map-side-combine profile as :func:`token_vocabulary`.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    words = tokens_expr(F.col(text_col))
    with_words = ensure_parallelism(df).select(words.alias("_w"))
    idx = F.sequence(F.lit(0), F.size(F.col("_w")) - F.lit(n))
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ",
            *[F.element_at(F.col("_w"), (i + F.lit(j + 1)).cast("int")) for j in range(n)],
        ),
    )
    # the >= n short-doc guard rides the gram construction as a WHEN
    # instead of a row filter: a .where(size(_w) >= n) is pushed below
    # the projection with the whole tokenization INLINED into the
    # predicate, running the split twice per document (see
    # dedup._ngram_hash_postings).  Short docs produce a NULL gram
    # array, which the existing isNotNull filter drops.
    gated = F.when(F.size(F.col("_w")) >= F.lit(n), grams)
    return (
        with_words
        .select(F.explode_outer(gated).alias("ngram"))
        .where(F.col("ngram").isNotNull())
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "ngram")
        .limit(top_k)
    )


def assign_training_shards(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    target_tokens: int = 4096,
    num_buckets: int = 32,
) -> DataFrame:
    """Assign documents to fixed-token-budget training shards.

    Contiguous cumulative packing: documents are bucketed by
    ``id % num_buckets``, ordered by id within the bucket, and a shard
    boundary falls wherever the running token total crosses a
    ``target_tokens`` multiple (each shard's total ≈ target ± one
    document — the standard contiguous approximation of bin packing,
    chosen because it is a single window pass and deterministic).

    Scale shape: the window partitions by bucket, so there is no global
    sort — parallelism is ``num_buckets`` regardless of corpus size, and
    each bucket's pass is one shuffle-free running sum after the
    repartition. Shard ids are globally unique via (bucket, local shard).
    """
    from pyspark.sql import Window

    if target_tokens < 1 or num_buckets < 1:
        raise ValueError("target_tokens and num_buckets must be >= 1")
    # no ensure_parallelism: the window's hashpartitioning(bucket) exchange
    # immediately follows, so a round-robin repartition would just add a
    # second full shuffle of the same rows
    base = df.select(
        F.col(id_col),
        F.pmod(F.col(id_col), F.lit(num_buckets)).cast("int").alias("bucket"),
        token_count_expr(F.col(text_col)).alias("n_tokens"),
    )
    w = Window.partitionBy("bucket").orderBy(id_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = F.sum("n_tokens").over(w)
    local_shard = F.floor((cum - F.col("n_tokens")) / F.lit(target_tokens))
    return base.select(
        F.col(id_col),
        F.col("bucket"),
        F.col("n_tokens"),
        (F.col("bucket").cast("long") * F.lit(1_000_000) + local_shard)
        .alias("shard_id"),
    )


def corpus_stats(
    df: DataFrame,
    group_col: str,
    text_col: str,
    *,
    chars_col: Optional[str] = None,
    rsd: float = 0.02,
    exact: bool = True,
) -> DataFrame:
    """Per-group corpus profile with mergeable sketches.

    Always computes: row count, HyperLogLog++ approximate distinct texts
    (``approx_count_distinct``, relative error ``rsd``), and an
    approximate median of the character length (``percentile_approx``,
    a mergeable Greenwald–Khanna sketch). With ``exact=True`` it also
    computes the exact distinct count and exact median for validation.

    At 100 TB run ``exact=False``: the sketch path is one map-side-
    mergeable pass (no per-group value sets, no sort), while exact
    COUNT(DISTINCT) rewrites into an expand + two shuffles and exact
    percentile buffers every value. That asymmetry — not the accuracy
    loss, which is bounded by ``rsd`` — is why sketches win at scale.
    """
    length = (
        F.col(chars_col) if chars_col else F.length(F.col(text_col))
    ).cast("double")
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.approx_count_distinct(text_col, rsd).alias("approx_distinct"),
        F.percentile_approx(length, 0.5, 10000).alias("approx_p50_chars"),
    ]
    if exact:
        aggs += [
            F.countDistinct(text_col).cast("long").alias("exact_distinct"),
            F.percentile(length, 0.5).alias("exact_p50_chars"),
        ]
    return ensure_parallelism(df).groupBy(group_col).agg(*aggs)


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 128,
    overlap: int = 0,
) -> DataFrame:
    """Split each document into fixed-token-length training chunks
    (optionally overlapping), the standard pre-tokenization packing step.

    Pure column expressions — token split, window enumeration
    (``F.sequence``), and slicing all happen inside the scan stage with
    zero shuffles, so the operator costs one pass at any corpus size; the
    explode multiplies rows but never copies the un-chunked document.
    Chunks preserve whitespace tokenization; ``n_tokens`` < ``chunk_tokens``
    only on each document's final chunk.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(f"overlap ({overlap}) must be in [0, chunk_tokens)")
    step = chunk_tokens - overlap
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(words)
    last_idx = F.floor((n - F.lit(1)) / F.lit(step)).cast("int")
    return (
        df.select(
            F.col(id_col),
            words.alias("_w"),
            F.sequence(F.lit(0), F.greatest(last_idx, F.lit(0))).alias("_idx"),
        )
        .select(F.col(id_col), F.explode_outer("_idx").alias("chunk_idx"), F.col("_w"))
        .where(F.col("chunk_idx").isNotNull())
        .select(
            F.col(id_col),
            F.col("chunk_idx"),
            F.array_join(
                F.slice(
                    F.col("_w"),
                    F.col("chunk_idx") * F.lit(step) + F.lit(1),
                    F.lit(chunk_tokens),
                ),
                " ",
            ).alias("chunk_text"),
            F.least(
                F.lit(chunk_tokens),
                F.size(F.col("_w")) - F.col("chunk_idx") * F.lit(step),
            ).alias("n_tokens"),
        )
    )


def tfidf_terms(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    top_k_per_doc: int = 5,
) -> DataFrame:
    """Top TF-IDF terms per document: ``tf * ln(N / df)`` over lowercased
    whitespace tokens.

    One explode feeds both the term-frequency aggregate and the
    document-frequency aggregate; df is per-token (tiny — vocabulary
    sized) and broadcasts back onto the tf rows, so the only large
    shuffle is the tf groupBy. The per-doc top-k is a window over the
    tf partitioning key — no extra exchange.
    """
    from pyspark.sql import Window

    base = ensure_parallelism(df).select(
        F.col(id_col),
        F.explode_outer(tokens_expr(F.col(text_col))).alias("token"),
    ).where(F.col("token") != "")
    tf = base.groupBy(id_col, "token").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    n_docs = df.select(F.countDistinct(id_col).alias("_n"))
    docfreq = base.groupBy("token").agg(
        F.countDistinct(id_col).cast("long").alias("df")
    )
    scored = (
        tf.join(F.broadcast(docfreq), "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("_n") / F.col("df")), 4),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("tfidf"), F.asc("token")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k_per_doc)
        .select(id_col, "token", "tf", "df", "tfidf", "rank")
    )


def bm25_search(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query: str,
    *,
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
) -> DataFrame:
    """BM25-ranked document retrieval for a free-text query.

    Classic Robertson/Sparck-Jones BM25 with the standard smoothed IDF
    ``ln(1 + (N - df + 0.5) / (df + 0.5))``. The query's terms filter
    the exploded tokens BEFORE any aggregation — posting lists for
    non-query terms are never built — and every post-filter aggregate
    (df per query term, avgdl scalar) is broadcast-sized. Scoring is
    one groupBy over (doc, term) hits; ranking is a TakeOrdered top-k.
    """
    terms = [t for t in query.lower().split() if t]
    if not terms:
        raise ValueError("query must contain at least one term")
    base = ensure_parallelism(df).select(
        F.col(id_col),
        F.explode_outer(tokens_expr(F.col(text_col))).alias("token"),
    ).where(F.col("token").isNotNull())
    doclen = base.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("dl")
    )
    stats = doclen.agg(
        F.avg("dl").alias("avgdl"), F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    hits = base.where(F.col("token").isin(terms))
    tf = hits.groupBy(id_col, "token").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    docfreq = hits.groupBy("token").agg(
        F.countDistinct(id_col).cast("long").alias("df")
    )
    idf = F.log(
        1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + k1 * (
        1.0 - b + b * F.col("dl") / F.col("avgdl")
    )
    contrib = idf * F.col("tf") * (k1 + 1.0) / denom
    return (
        tf.join(F.broadcast(docfreq), "token")
        .join(doclen, id_col)
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(
            F.round(F.sum(contrib), 4).alias("bm25"),
            F.count(F.lit(1)).cast("long").alias("n_terms_matched"),
        )
        .orderBy(F.desc("bm25"), F.asc(id_col))
        .limit(top_k)
    )


def token_entropy(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    lowercase: bool = True,
) -> DataFrame:
    """Unigram Shannon entropy per document, in bits — the standard
    degenerate-text detector (near-zero entropy = one token repeated;
    log2(n_tokens) = all tokens distinct). Returns ``(id, n_tokens,
    n_distinct_tokens, entropy_bits)``.

    Determinism at scale: entropy is a float fold, and a naive
    ``SUM(p*log2(p))`` would depend on aggregation order (flaky under
    repartitioning). Token counts aggregate as integers (order-safe);
    the float fold then runs over the *sorted* per-document count list
    via ``aggregate(array_sort(collect_list(...)))`` — a fixed order,
    so two builds at different partition counts are bit-identical. The
    per-document list is bounded by document vocabulary, not corpus size.
    """
    toks = tokens_expr(F.col(text_col))
    tok = F.explode_outer(toks).alias("_tok")
    df = ensure_parallelism(df)
    exploded = df.select(F.col(id_col), tok).where(F.col("_tok") != "")
    if lowercase:
        exploded = exploded.withColumn("_tok", F.lower(F.col("_tok")))
    counts = exploded.groupBy(id_col, "_tok").agg(
        F.count(F.lit(1)).cast("long").alias("_c")
    )
    per_doc = counts.groupBy(id_col).agg(
        F.sum("_c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_tokens"),
        F.array_sort(F.collect_list("_c")).alias("_cs"),
    )
    # H = log2(n) - (1/n) * sum(c * log2(c)), folded in sorted order
    sum_clog = F.aggregate(
        F.col("_cs"),
        F.lit(0.0),
        lambda acc, c: acc + c.cast("double") * F.log2(c.cast("double")),
    )
    n = F.col("n_tokens").cast("double")
    return per_doc.select(
        F.col(id_col),
        "n_tokens",
        "n_distinct_tokens",
        F.round(F.log2(n) - sum_clog / n, 4).alias("entropy_bits"),
    )


def _char_bigrams(text: Column) -> Column:
    """Array of overlapping 2-char substrings of ``text`` (empty for
    length < 2 — guarded, since ``sequence(1, 0)`` would count DOWN)."""
    return F.when(
        F.length(text) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.length(text) - 1),
            lambda i: text.substr(i, F.lit(2)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def charlm_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    fit_df: Optional[DataFrame] = None,
    fit_text_col: Optional[str] = None,
    k: float = 0.5,
    lowercase: bool = True,
) -> DataFrame:
    """Character-bigram language-model quality score — the CCNet-style
    "perplexity filter" for corpus curation: fit an add-k-smoothed bigram
    model on a reference corpus (``fit_df``, default: the scored corpus
    itself), then score every document by its mean negative log2
    probability per character transition. Natural text relative to the
    reference scores low ``bits_per_char``; gibberish, wrong-charset, or
    machine-mangled text scores high. Returns
    ``(id, n_bigrams, bits_per_char)`` (null score for docs shorter than
    2 chars).

    Spark-first scale design: the fitted model is inherently tiny
    (bounded by charset squared, not corpus size), so fitting is one
    aggregation whose map-side combine collapses nearly everything
    before the shuffle, and the model is then folded into a SINGLE ROW
    of map columns cross-joined (broadcast) onto the corpus. Scoring is
    therefore scan-local expressions — no per-character explode, no
    per-document regroup, no UDF. Smoothing: seen pair ->
    ``log2((n(c1c2)+k)/(n(c1.)+k*V))``; seen context, unseen pair ->
    the same with ``n(c1c2)=0``; unseen context -> ``log2(1/V)`` (V =
    distinct successor characters in the reference).

    Determinism: the per-document float fold runs over the *sorted*
    per-bigram log-prob list (same trick as :func:`token_entropy`), so
    results are bit-identical across partitionings and engines.
    """
    if k <= 0:
        raise ValueError(f"smoothing k must be positive, got {k}")
    fit_df = df if fit_df is None else fit_df
    fit_text = F.col(fit_text_col or text_col)
    text = F.col(text_col)
    if lowercase:
        fit_text, text = F.lower(fit_text), F.lower(text)

    # ONE corpus pass: explode -> count per bigram (map-side combine
    # collapses to charset^2 before the shuffle). Everything downstream
    # stays in this single lineage — context totals and successor-vocab
    # size come from windows over the tiny pairs table (partitionless
    # window is fine: the table is charset-bounded, never corpus-sized) —
    # so the expensive explode appears exactly ONCE in the plan instead
    # of being re-computed per derived branch.
    from pyspark.sql import Window

    fit_df = ensure_parallelism(fit_df)
    pairs = (
        fit_df.select(F.explode_outer(_char_bigrams(fit_text)).alias("_bg"))
        .where(F.length("_bg") == 2)
        .groupBy("_bg")
        .agg(F.count(F.lit(1)).cast("double").alias("_nb"))
    )
    w_ctx = Window.partitionBy(F.substring("_bg", 1, 1))
    w_all = Window.partitionBy()
    enriched = pairs.select(
        "_bg",
        "_nb",
        F.sum("_nb").over(w_ctx).alias("_nc"),
        F.size(F.collect_set(F.substring("_bg", 2, 1)).over(w_all))
        .cast("double")
        .alias("_v"),
    )
    lp_expr = F.log2((F.col("_nb") + k) / (F.col("_nc") + k * F.col("_v")))
    clp_expr = F.log2(F.lit(k) / (F.col("_nc") + k * F.col("_v")))
    model = enriched.agg(
        F.map_from_entries(F.collect_list(F.struct("_bg", lp_expr))).alias("_pm"),
        F.map_from_entries(
            F.collect_set(F.struct(F.substring("_bg", 1, 1), clp_expr))
        ).alias("_cm"),
        F.first(-F.log2(F.col("_v"))).alias("_default"),
    )

    scored = ensure_parallelism(df).select(
        F.col(id_col), _char_bigrams(text).alias("_bgs")
    ).crossJoin(F.broadcast(model))
    lps = F.array_sort(
        F.transform(
            F.col("_bgs"),
            lambda b: F.coalesce(
                F.try_element_at(F.col("_pm"), b),
                F.try_element_at(F.col("_cm"), F.substring(b, 1, 1)),
                F.col("_default"),
            ),
        )
    )
    n = F.size("_bgs")
    total = F.aggregate(lps, F.lit(0.0), lambda acc, x: acc + x)
    return scored.select(
        F.col(id_col),
        n.cast("long").alias("n_bigrams"),
        F.when(n > 0, F.round(-total / n, 4)).alias("bits_per_char"),
    )


GOPHER_STOP_WORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality_flags(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stop_word_hits: int = 2,
) -> DataFrame:
    """The Gopher rule-based quality filters (Rae et al. 2021, App. A) —
    the standard pre-filter battery before model-based scoring. One
    boolean per rule plus ``pass_all``, with the raw measurements, so a
    pipeline can tighten or drop individual rules without recomputing:

    * word count in ``[min_words, max_words]``
    * mean word length in ``[min_mean_word_len, max_mean_word_len]``
    * ``#``/``...`` symbol-to-word ratio below ``max_symbol_word_ratio``
    * under ``max_bullet_line_frac`` of lines starting with a bullet
    * under ``max_ellipsis_line_frac`` of lines ending with an ellipsis
    * at least ``min_alpha_word_frac`` of words containing a letter
    * at least ``min_stop_word_hits`` distinct Gopher stop words present

    Map-only: every measurement is a scan-stage expression over the text
    column (split / regexp counts / array folds) — no shuffle, no UDF,
    no collect — so at 100 TB this runs at scan speed and the filter
    predicate pushes into the curation pipeline's first pass. The regex
    subset used is portable across Java and RE2 engines.
    """
    text = F.col(text_col)
    words = F.filter(F.split(F.trim(text), r"\s+"), lambda w: w != "")
    n_words = F.size(words)
    safe_words = F.greatest(n_words, F.lit(1))
    mean_wlen = (
        F.aggregate(words, F.lit(0).cast("long"), lambda a, w: a + F.length(w))
        .cast("double")
        / safe_words
    )
    n_hash = count_chars_expr(text, "#")
    n_ellipsis = F.size(F.split(text, r"\.\.\.", -1)) - 1 + count_chars_expr(
        text, "…"
    )
    symbol_ratio = (n_hash + n_ellipsis).cast("double") / safe_words
    lines = F.filter(F.split(text, "\n", -1), lambda l: F.trim(l) != "")
    n_lines = F.size(lines)
    safe_lines = F.greatest(n_lines, F.lit(1))
    bullet_lines = F.size(
        F.filter(lines, lambda l: F.trim(l).rlike(r"^[•*-]"))
    )
    ellipsis_lines = F.size(
        F.filter(lines, lambda l: F.trim(l).rlike(r"(\.\.\.|…)$"))
    )
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    stop_arr = F.array(*[F.lit(w) for w in GOPHER_STOP_WORDS])
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(F.transform(words, F.lower)), stop_arr
        )
    )

    flags = {
        "ok_word_count": (n_words >= min_words) & (n_words <= max_words),
        "ok_mean_word_len": (mean_wlen >= min_mean_word_len)
        & (mean_wlen <= max_mean_word_len),
        "ok_symbol_ratio": symbol_ratio < max_symbol_word_ratio,
        "ok_bullet_lines": bullet_lines.cast("double") / safe_lines
        < max_bullet_line_frac,
        "ok_ellipsis_lines": ellipsis_lines.cast("double") / safe_lines
        < max_ellipsis_line_frac,
        "ok_alpha_words": alpha_words.cast("double") / safe_words
        >= min_alpha_word_frac,
        "ok_stop_words": stop_hits >= min_stop_word_hits,
    }
    # ratios stay unrounded: each is one IEEE division of exact integers,
    # bit-identical across engines, while decimal rounding is not (the
    # round-half-tie caveat documented on repetition_metrics)
    cols = [
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        mean_wlen.alias("mean_word_len"),
        symbol_ratio.alias("symbol_word_ratio"),
        stop_hits.cast("long").alias("stop_word_hits"),
    ]
    cols += [v.alias(k) for k, v in flags.items()]
    pass_all = None
    for v in flags.values():
        pass_all = v if pass_all is None else (pass_all & v)
    cols.append(pass_all.alias("pass_all"))
    return df.select(*cols)


def dsir_importance(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_df: DataFrame,
    *,
    target_text_col: Optional[str] = None,
    k: float = 0.5,
    lowercase: bool = True,
) -> DataFrame:
    """Data Selection with Importance Resampling (after Xie et al. 2023):
    weight every raw-corpus document by how much more likely it is under
    a model of the *target* domain than under a model of the raw corpus
    itself. Here both models are the char-bigram LMs of
    :func:`charlm_score` (the published method uses hashed n-gram
    models — same estimator family, same ratio).

    Returns ``(id, n_bigrams, bits_raw, bits_target, log2_weight)`` with
    ``log2_weight = n_bigrams * (bits_raw - bits_target)`` — the total
    log2 likelihood ratio. Select by thresholding ``log2_weight`` or
    feed normalized weights into hash-based sampling (compose with
    :func:`~dbldatagen_spark.functions.sampling.split_assign`-style
    thresholds) for the resampling step.

    Scale shape: two charset-bounded model fits (one pass over each
    corpus) + two scan-local scoring passes + an id-keyed join of two
    metadata-sized frames. Document text never shuffles.
    """
    scored_raw = charlm_score(
        df, id_col, text_col, k=k, lowercase=lowercase
    ).select(
        F.col(id_col),
        "n_bigrams",
        F.col("bits_per_char").alias("bits_raw"),
    )
    scored_target = charlm_score(
        df,
        id_col,
        text_col,
        fit_df=target_df,
        fit_text_col=target_text_col or text_col,
        k=k,
        lowercase=lowercase,
    ).select(F.col(id_col), F.col("bits_per_char").alias("bits_target"))
    return scored_raw.join(scored_target, id_col).select(
        id_col,
        "n_bigrams",
        "bits_raw",
        "bits_target",
        F.round(
            F.col("n_bigrams") * (F.col("bits_raw") - F.col("bits_target")), 4
        ).alias("log2_weight"),
    )


MOJIBAKE_MARKERS = (
    "�",   # U+FFFD replacement character — decode failure
    "Ã©",  # 'Ã©' — UTF-8 é read as Latin-1
    "Ã±",  # 'Ã±' — ñ
    "Ã¼",  # 'Ã¼' — ü
    "â€",  # 'â€' — UTF-8 punctuation (’ “ ” –) read as Latin-1
    "Â ",  # 'Â ' — non-breaking space double-encoded
)


def mojibake_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    markers: tuple = MOJIBAKE_MARKERS,
    flag_threshold: float = 0.001,
) -> DataFrame:
    """Encoding-artifact detection: count the classic mojibake markers
    (UTF-8 bytes decoded as Latin-1 — 'Ã©', 'â€™' — plus U+FFFD decode
    failures) per document and flag documents whose marker density
    exceeds ``flag_threshold`` — the corpus-cleaning signal for "this
    shard went through the wrong charset".

    Returns ``(id, n_chars, n_mojibake, mojibake_ratio, is_mojibake)``.

    Every count is the replace-and-measure identity
    ``(len(s) - len(replace(s, m, ''))) / len(m)`` — pure string
    arithmetic, no regex engine involved, so any SQL dialect reproduces
    the numbers exactly. Map-only; text never leaves the scan.
    """
    if not markers:
        raise ValueError("markers must be non-empty")
    if flag_threshold < 0:
        raise ValueError(f"flag_threshold must be >= 0, got {flag_threshold}")
    t = F.coalesce(F.col(text_col), F.lit(""))
    total = F.lit(0).cast("long")
    for m in markers:
        hits = (
            (F.length(t) - F.length(F.replace(t, F.lit(m), F.lit(""))))
            / F.lit(len(m))
        ).cast("long")
        total = total + hits
    n_chars = F.length(t).cast("long")
    ratio = F.when(
        n_chars > 0, total.cast("double") / n_chars.cast("double")
    ).otherwise(F.lit(0.0))
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        total.alias("n_mojibake"),
        ratio.alias("mojibake_ratio"),
        (ratio > F.lit(float(flag_threshold))).alias("is_mojibake"),
    )


def rrf_fuse(
    rankings: "Sequence[DataFrame]",
    id_col: str,
    rank_col: str = "rank",
    *,
    k: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al., SIGIR 2009) — the
    standard hybrid-retrieval combiner: given N rankings of the same id
    space (BM25, vector cosine, recency, …), each item scores
    ``sum over rankings of 1 / (k + rank)``.  Rank-based fusion needs
    no score normalization across heterogeneous retrievers, which is
    why it is the default hybrid in RAG stacks.  Returns
    ``(id, rrf_score, n_rankings)`` — items missing from a ranking
    simply contribute nothing for it.

    Engine-exact: the per-id contributions fold over the SORTED score
    list (the repo's portable sorted-fold idiom), so the sum is
    identical under any engine or ranking order, not just for two
    rankings where commutativity alone suffices.

    Scale shape: one union + one map-side-combined aggregation of
    ``(id, 8-byte score)`` rows — fusing N rankings of M items moves
    ``N x M`` tiny rows, never documents or vectors.
    """
    if not rankings:
        raise ValueError("rankings must name at least one ranking frame")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    u = None
    for r in rankings:
        part = r.select(
            F.col(id_col),
            (F.lit(1.0) / (F.lit(float(k)) + F.col(rank_col).cast("double")))
            .alias("_s"),
        )
        u = part if u is None else u.unionByName(part)
    return (
        u.groupBy(id_col)
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list("_s")),
                F.lit(0.0),
                lambda a, x: a + x,
            ).alias("rrf_score"),
            F.count(F.lit(1)).cast("long").alias("n_rankings"),
        )
    )


def _bpe_word_arr(text_col: str) -> Column:
    """The BPE family's shared word model (lowercase alpha runs) —
    ONE definition so :func:`bpe_encode`'s token counts and
    :func:`tokenizer_fertility`'s word/char denominators can never
    silently diverge."""
    return F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z]+"),
        lambda w: w != "",
    )


def bpe_encode(
    df: DataFrame,
    text_col: str,
    merges,
    *,
    out_col: str = "bpe_tokens",
    max_merges: int = 128,
    checkpoint_chunk: "Optional[int]" = None,
) -> DataFrame:
    """Apply a learned BPE merge table to every document — the ENCODE
    half of :func:`bpe_train`, as PURE JVM expressions.  Each
    lowercase-alphabetic word becomes a space-separated character
    sequence and each merge ``(l, r)`` — in merge order — is one
    literal ``replace(seq, "l r", "lr")``: string replace is leftmost
    non-overlapping, exactly the greedy merge application of training
    (pytest asserts encode == the training fold, symbol for symbol).
    ``merges`` accepts :func:`bpe_train` output ``[(l, r, count)]`` or
    bare ``[(l, r)]`` pairs.

    PLAN-WIDTH GUARD (the fold-guard contract): one expression node
    per merge means a production-size merge table (30k-50k merges)
    blows up Catalyst analysis long before execution — MEASURED: the
    recursive column-node conversion overflows the JVM stack between
    200 and 300 nested replaces on Spark 4.1 (a StackOverflowError at
    ``withColumn`` time), so the default ``max_merges=128`` keeps ~2x
    margin.  Wider tables raise unless ``checkpoint_chunk`` (<=
    ``max_merges``) opts into the CHUNKED path: merges apply in
    ``checkpoint_chunk``-sized chunks with a (lazy)
    ``localCheckpoint`` between chunks, so no single Catalyst plan or
    codegen unit ever sees more than one chunk's replaces while
    execution still streams each row through every chunk in one job.
    Checkpoint blocks live in executor storage until the RDD is
    garbage collected — for full vocabularies where even that is too
    slow, a pandas-UDF tokenizer holding the merge table as a dict is
    the escape hatch.

    Scale shape (single-plan path): tokenization is MAP-ONLY — no
    UDF, no shuffle, no vocabulary broadcast (the merge table is a
    constant expression chain, one ``replace`` node per merge) — so
    encoding runs inline in any scan at any scale; this is the
    property that lets a 100 TB corpus tokenize in the same pass that
    filters and dedups it.  Output: ``out_col`` = ``array<string>``
    of BPE tokens in word order (non-alphabetic characters delimit
    words, as in training).
    """
    pairs = [(m[0], m[1]) for m in merges]
    if not pairs:
        raise ValueError("merges must contain at least one (left, right)")
    for l_sym, r_sym in pairs:
        if not l_sym or not r_sym or " " in l_sym or " " in r_sym:
            raise ValueError(
                f"invalid merge pair ({l_sym!r}, {r_sym!r}): symbols "
                f"must be non-empty and space-free"
            )
    if max_merges < 1:
        raise ValueError(f"max_merges must be >= 1, got {max_merges}")
    if checkpoint_chunk is not None and not (
        1 <= checkpoint_chunk <= max_merges
    ):
        raise ValueError(
            f"checkpoint_chunk must be in [1, max_merges={max_merges}], "
            f"got {checkpoint_chunk} — each chunk is one Catalyst plan "
            f"and is subject to the same width limit"
        )
    if len(pairs) > max_merges and checkpoint_chunk is None:
        raise ValueError(
            f"bpe_encode: {len(pairs):,} merges exceeds "
            f"max_merges={max_merges:,} — one replace node per merge "
            f"would blow up Catalyst analysis at this width. Pass "
            f"checkpoint_chunk (e.g. {max_merges}) to apply the table "
            f"in localCheckpoint-separated chunks, raise max_merges if "
            f"this width is intended, or use a pandas-UDF tokenizer "
            f"for full production vocabularies."
        )

    # PREFIX-marker representation: every symbol is rendered " sym"
    # (leading space), concatenated — " t h e".  A merge pattern
    # " l r" -> " lr" then matches ONLY at a symbol boundary whose left
    # symbol is exactly l: with a between-symbols separator instead,
    # ["o","the","r"] renders "o the r" and merge (e, r) falsely
    # matches the "e r" INSIDE "the r"; and adjacent merge sites share
    # the boundary space, so leftmost-non-overlapping replace skips
    # every second site ("e r e r" -> "er e r").  The prefix form has
    # neither problem (each match consumes exactly its own marker).
    def apply_merges(seq, chunk):
        for l_sym, r_sym in chunk:
            seq = F.replace(
                seq, F.lit(f" {l_sym} {r_sym}"), F.lit(f" {l_sym}{r_sym}")
            )
        return seq

    def char_seq(w):
        return F.array_join(
            F.transform(
                F.sequence(F.lit(1), F.length(w)),
                lambda i: F.concat(F.lit(" "), w.substr(i, F.lit(1))),
            ),
            "",
        )

    words = _bpe_word_arr(text_col)
    to_tokens = lambda s: F.filter(F.split(s, " "), lambda t: t != "")

    if checkpoint_chunk is None or len(pairs) <= checkpoint_chunk:
        return df.withColumn(
            out_col,
            F.flatten(
                F.transform(
                    words, lambda w: to_tokens(apply_merges(char_seq(w), pairs))
                )
            ),
        )

    # chunked path: hold the per-word partially-merged seq strings in a
    # temp column, truncating the Catalyst plan between chunks
    tmp = "_bpe_seq"
    while tmp in df.columns:
        tmp += "_"
    # NB: F.transform treats a 2-param callable as (element, index),
    # so the chunk must bind via a closure factory, not a default arg
    def chunk_fn(chunk):
        return lambda s: apply_merges(s, chunk)

    cur = df.withColumn(tmp, F.transform(words, char_seq))
    for i in range(0, len(pairs), checkpoint_chunk):
        cur = cur.withColumn(
            tmp,
            F.transform(F.col(tmp), chunk_fn(pairs[i : i + checkpoint_chunk])),
        ).localCheckpoint(eager=False)
    return cur.withColumn(
        out_col, F.flatten(F.transform(F.col(tmp), to_tokens))
    ).drop(tmp)


def tokenizer_fertility(
    df: DataFrame,
    text_col: str,
    merges,
    *,
    group_col: "Optional[str]" = None,
    max_merges: int = 128,
    checkpoint_chunk: "Optional[int]" = None,
) -> DataFrame:
    """Tokenizer-equity report: per-group (typically per-language)
    FERTILITY — BPE tokens per word — and chars-per-token compression
    under a given merge table.  This is the standard multilingual
    tokenizer-fairness metric (the XLM-R / NLLB analyses): a language
    whose fertility runs 2-3x the corpus median is under-served by
    the vocabulary, pays that multiple in sequence length and compute
    per sentence, and is exactly what temperature mixing
    (:func:`~dbldatagen_spark.functions.sampling.
    temperature_token_allocation`) and vocabulary re-allocation
    decisions need measured, not guessed.

    Word model matches :func:`bpe_encode` exactly: words are
    lowercase alphabetic runs, everything else delimits.  Returns one
    row per group: ``(group, n_docs, n_words, n_chars, n_tokens,
    tokens_per_word, chars_per_token)`` — counts are exact longs
    (NULL text contributes zero words/chars/tokens but still counts
    in ``n_docs``), each ratio ONE fixed-form IEEE division (NULL
    when its denominator is zero), so any engine replays every cell.
    Without ``group_col`` one corpus-wide row is returned (``group``
    = ``'__all__'``).

    Scale shape: the encode is MAP-ONLY (one literal replace node per
    merge — the :func:`bpe_encode` plan-width guard applies,
    ``checkpoint_chunk`` opts wider tables into the chunked path) and
    the report is ONE map-side-combined aggregate shuffling group
    keys plus three longs; document text never leaves its scan.  At
    100 TB this is the same single-pass shape as ``corpus_stats``.
    """
    out_col = "_tf_tokens"
    while out_col in df.columns:
        out_col += "_"
    encoded = bpe_encode(
        df, text_col, merges,
        out_col=out_col, max_merges=max_merges,
        checkpoint_chunk=checkpoint_chunk,
    )
    words = _bpe_word_arr(text_col)
    n_words = F.coalesce(F.size(words), F.lit(0))
    n_chars = F.coalesce(
        F.aggregate(
            words, F.lit(0), lambda acc, w: acc + F.length(w)
        ),
        F.lit(0),
    )
    n_tokens = F.coalesce(F.size(F.col(out_col)), F.lit(0))
    # size() returns -1 for NULL arrays on some paths; clamp via
    # greatest so NULL text is exactly zero under every Spark version
    grp = (
        F.col(group_col) if group_col else F.lit("__all__")
    ).alias("group")
    per_doc = encoded.select(
        grp,
        F.greatest(n_words, F.lit(0)).cast("long").alias("_w"),
        F.greatest(n_chars, F.lit(0)).cast("long").alias("_c"),
        F.greatest(n_tokens, F.lit(0)).cast("long").alias("_t"),
    )
    agg = per_doc.groupBy("group").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("_w").cast("long").alias("n_words"),
        F.sum("_c").cast("long").alias("n_chars"),
        F.sum("_t").cast("long").alias("n_tokens"),
    )
    return agg.select(
        "group", "n_docs", "n_words", "n_chars", "n_tokens",
        F.when(
            F.col("n_words") > 0,
            F.col("n_tokens").cast("double") / F.col("n_words").cast("double"),
        ).alias("tokens_per_word"),
        F.when(
            F.col("n_tokens") > 0,
            F.col("n_chars").cast("double") / F.col("n_tokens").cast("double"),
        ).alias("chars_per_token"),
    )


def _bpe_words(df: DataFrame, text_col: str, max_word_len: int) -> DataFrame:
    """Distinct lowercase alphabetic words with occurrence counts —
    the vocabulary pre-aggregation every BPE pass runs over.  The
    corpus collapses to its vocabulary FIRST (one hash aggregate with
    map-side combine), so all per-word symbol work downstream costs
    O(|vocab|), not O(corpus) — at 100 TB the vocabulary is millions
    of rows while the corpus is trillions of tokens."""
    words = F.explode(
        F.split(F.lower(F.col(text_col)), "[^a-z]+")
    ).alias("word")
    return (
        ensure_parallelism(df)
        .select(words)
        .where(
            (F.length("word") >= 2) & (F.length("word") <= max_word_len)
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("word_n"))
    )


def bpe_pair_counts(
    df: DataFrame,
    text_col: str,
    *,
    max_word_len: int = 40,
) -> DataFrame:
    """Corpus-wide adjacent character-pair frequencies — the statistic
    one BPE merge step ranks (Sennrich, Haddow & Birch 2016, "Neural
    Machine Translation of Rare Words with Subword Units").  Words are
    lowercase alphabetic runs; each word contributes its ``len - 1``
    character bigrams weighted by the word's corpus frequency.
    Returns ``(pair, n)`` — pure integer arithmetic over a
    deterministic tokenization, so a SQL oracle replays it exactly.
    """
    vocab = _bpe_words(df, text_col, max_word_len)
    pair = F.explode(
        F.transform(
            F.sequence(F.lit(1), F.length("word") - 1),
            lambda i: F.col("word").substr(i, F.lit(2)),
        )
    ).alias("pair")
    return (
        vocab.select(pair, "word_n")
        .groupBy("pair")
        .agg(F.sum("word_n").alias("n"))
    )


def bpe_train(
    df: DataFrame,
    text_col: str,
    num_merges: int,
    *,
    max_word_len: int = 40,
    checkpoint_every: int = 4,
) -> List[tuple]:
    """Learn ``num_merges`` BPE merges over the corpus.  Returns
    ``[(left, right, count), ...]`` in merge order — ties on count
    break lexicographically on ``(left, right)`` so training is
    deterministic on any partitioning.

    The driver loop is inherent to BPE (merge ``t+1`` depends on the
    vocabulary state after merge ``t``), but every step inside it is
    distributed and runs over the *vocabulary*, not the corpus:

    1. pair counting — explode each word's adjacent symbol pairs,
       weighted hash-aggregate (map-side combine);
    2. argmax — a 2-row ``orderBy ... limit`` (TakeOrderedAndProject);
    3. merge application — a left fold (``F.aggregate``) over each
       word's symbol array that greedily joins leftmost-first
       non-overlapping occurrences of the winning pair, the reference
       BPE semantics.

    ``checkpoint_every`` bounds lineage growth: the symbols DataFrame
    is ``localCheckpoint``-ed every N merges so the plan doesn't
    deepen linearly with merges.  Each checkpoint is released once the
    next is taken, and the last one on return: the merges are plain
    tuples, so no block outlives the call."""
    if num_merges < 1:
        raise ValueError(f"num_merges must be >= 1, got {num_merges}")
    chars = F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.col("word").substr(i, F.lit(1)),
    )
    # ckpt: the checkpoint the current state reads
    state = ckpt = (
        _bpe_words(df, text_col, max_word_len)
        .select(chars.alias("syms"), "word_n")
        .localCheckpoint()
    )
    merges: List[tuple] = []
    try:
        for step in range(num_merges):
            # single-symbol words have no pairs; sequence(1, 0) would DESCEND
            # ([1, 0]) and index past the array, so filter them first
            pairs = state.where(F.size("syms") > 1).select(
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("syms") - 1),
                        lambda i: F.struct(
                            F.element_at("syms", i).alias("l"),
                            F.element_at("syms", i + F.lit(1)).alias("r"),
                        ),
                    )
                ).alias("p"),
                "word_n",
            )
            best = (
                pairs.groupBy(
                    F.col("p").getField("l").alias("l"),
                    F.col("p").getField("r").alias("r"),
                )
                .agg(F.sum("word_n").alias("n"))
                .orderBy(F.col("n").desc(), F.col("l"), F.col("r"))
                .limit(1)
                .collect()
            )
            if not best:
                break
            l, r, n = best[0]["l"], best[0]["r"], int(best[0]["n"])
            merges.append((l, r, n))
            joined = l + r
            # leftmost-first greedy merge: fold symbols into a new array,
            # joining when the accumulated tail is `l` and the next is `r`
            merged = F.aggregate(
                F.col("syms"),
                F.array().cast("array<string>"),
                lambda acc, s: F.when(
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == F.lit(l))
                    & (s == F.lit(r)),
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(joined))
                    ),
                ).otherwise(F.concat(acc, F.array(s))),
            )
            state = state.select(merged.alias("syms"), "word_n")
            if (step + 1) % checkpoint_every == 0:
                state = state.localCheckpoint()
                _materialize.release(ckpt)
                ckpt = state
    finally:
        _materialize.release(ckpt)
    return merges


# Unicode script classes profiled by script_profile — Java regex class
# name per script (the DuckDB oracle uses RE2's \p{Script} spelling of
# the same Unicode property, so counts agree by definition).
_SCRIPT_CLASSES = [
    ("latin", "IsLatin"),
    ("cyrillic", "IsCyrillic"),
    ("han", "IsHan"),
    ("arabic", "IsArabic"),
    ("devanagari", "IsDevanagari"),
    ("hangul", "IsHangul"),
    ("hiragana", "IsHiragana"),
    ("katakana", "IsKatakana"),
    ("greek", "IsGreek"),
    ("hebrew", "IsHebrew"),
]


def _script_count_expr(s: Column, java_class: str) -> Column:
    """Count of characters in one Unicode script class (regex strip diff)."""
    return (
        F.length(s)
        - F.length(F.regexp_replace(s, f"[\\p{{{java_class}}}]", ""))
    ).cast("long")


def dominant_script_expr(text: Column) -> Column:
    """The document's dominant Unicode script, by the same rule as
    :func:`script_profile` (largest count wins; ties break toward the
    lexicographically greatest name; ``none`` when every count is zero
    or the text is NULL/empty) — as a single reusable expression so
    routing compositions don't need the full per-script column fan-out."""
    ranked = F.array_max(
        F.array(*[
            F.struct(
                _script_count_expr(text, jclass).alias("n"),
                F.lit(name).alias("script"),
            )
            for name, jclass in _SCRIPT_CLASSES
        ])
    )
    return F.when(ranked["n"] > 0, ranked["script"]).otherwise(F.lit("none"))


def script_profile(
    df: DataFrame,
    text_col: str,
    *,
    out_prefix: str = "",
) -> DataFrame:
    """Per-document Unicode-SCRIPT composition — the multilingual
    corpus splitter langid alone can't provide: language ID says
    "probably Russian", script counts say "38% Cyrillic, 5% Han, rest
    punctuation", which is what routing, tokenizer selection, and
    mixed-script spam filters actually branch on.

    Appends one count column per script class (``latin``,
    ``cyrillic``, ``han``, ``arabic``, ``devanagari``, ``hangul``,
    ``hiragana``, ``katakana``, ``greek``, ``hebrew``), plus
    ``digits``, ``n_chars``, and ``dominant_script`` (the largest
    script count; ties break toward the lexicographically greatest
    name; ``none`` when every script count is zero).

    Scale shape: map-only — each count is
    ``length(s) - length(regexp_replace(s, '\\p{Script}', ''))``, a
    fixed set of regex passes per row inside whole-stage codegen; no
    UDF, no shuffle, safe to run inline in any scan.  Counts are
    defined by Unicode script properties, so any engine (Java regex
    here, RE2 in the SQL oracle) reproduces them exactly.
    """
    s = F.col(text_col)
    out = df.withColumn(f"{out_prefix}n_chars", F.length(s).cast("long"))

    counts = []
    for name, jclass in _SCRIPT_CLASSES:
        out = out.withColumn(f"{out_prefix}{name}", _script_count_expr(s, jclass))
        counts.append(name)
    out = out.withColumn(
        f"{out_prefix}digits",
        count_chars_expr(s, _DIGIT_CHARS).cast("long"),
    )
    ranked = F.array_max(
        F.array(*[
            F.struct(
                F.col(f"{out_prefix}{name}").alias("n"),
                F.lit(name).alias("script"),
            )
            for name in counts
        ])
    )
    return out.withColumn(
        f"{out_prefix}dominant_script",
        F.when(ranked["n"] > 0, ranked["script"]).otherwise(F.lit("none")),
    )


# Canonical feature order for quality_classifier_score. The logit is a
# left-to-right fold in EXACTLY this order, so any engine that replays
# the same multiply-adds over the same integer-ratio features reproduces
# it bit for bit (each feature is one IEEE division of exact integer
# counts; each step is one multiply and one add — no re-association).
QUALITY_CLASSIFIER_FEATURES = (
    "alpha_ratio",
    "digit_ratio",
    "punct_ratio",
    "distinct_ratio",
    "stop_ratio",
    "length_score",
)

# Default coefficients: a hand-set logistic separating prose from junk —
# prose-positive mass on letters/diversity/stopwords/length, junk-negative
# mass on digit and punctuation density. Callers training a real model
# (fastText-style quality classifiers reduce to exactly this shape once
# featurized) pass their own weights/bias; the plan is identical.
QUALITY_CLASSIFIER_WEIGHTS: Dict[str, float] = {
    "alpha_ratio": 3.5,
    "digit_ratio": -3.0,
    "punct_ratio": -1.0,
    "distinct_ratio": 1.5,
    "stop_ratio": 2.0,
    "length_score": 1.5,
}
QUALITY_CLASSIFIER_BIAS = -3.0


def quality_classifier_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    weights: Optional[Dict[str, float]] = None,
    bias: Optional[float] = None,
    keep_threshold_logit: float = 0.0,
) -> DataFrame:
    """Model-based quality scoring as pure column expressions: a logistic
    regression over the standard web-corpus quality features (the same
    measurements as :func:`quality_metrics`, unrounded), the filter stage
    that runs AFTER the Gopher rule battery in published curation
    pipelines (CCNet / fastText-classifier style — Joulin et al. 2017
    "Bag of Tricks for Efficient Text Classification" reduces to
    exactly this linear-over-features shape once featurized; GPT-3 and
    PaLM data work used the same quality-classifier pattern).

    Returns ``(id, <six features>, logit, prob, keep)`` where

    * each feature is one IEEE division of exact integer counts
      (bit-identical across engines),
    * ``logit = bias + Σ w_f · f`` folded left-to-right over
      ``QUALITY_CLASSIFIER_FEATURES`` order — bit-exact multiply-adds,
      so an external oracle replaying the same arithmetic matches
      exactly,
    * ``prob = 1 / (1 + exp(-logit))`` (``exp`` may differ in the last
      ULP across math libraries — compare ``logit``/``keep`` when you
      need bit-exactness),
    * ``keep = logit >= keep_threshold_logit`` — thresholding in logit
      space avoids the ``exp`` entirely (0.0 ≡ prob 0.5).

    ``weights`` may cover any subset of ``QUALITY_CLASSIFIER_FEATURES``
    (absent features contribute nothing); unknown names raise.  A
    NULL-text row yields NULL for every feature, the logit, and
    ``keep`` — identically under default and ANSI modes.

    Scale shape: map-only — every feature, the fold, and the threshold
    are scan-stage expressions inside whole-stage codegen; no shuffle,
    no UDF, no collect. At 100 TB this scores at scan speed and the
    ``keep`` predicate pushes into the pipeline's first pass.
    """
    if weights is None:
        weights = QUALITY_CLASSIFIER_WEIGHTS
    if bias is None:
        bias = QUALITY_CLASSIFIER_BIAS
    unknown = sorted(set(weights) - set(QUALITY_CLASSIFIER_FEATURES))
    if unknown:
        raise ValueError(
            f"quality_classifier_score: unknown feature(s) {unknown}; "
            f"valid features are {list(QUALITY_CLASSIFIER_FEATURES)}"
        )

    df = ensure_parallelism(df)
    text = F.col(text_col)
    n_chars = F.length(text)
    toks = tokens_expr(text)
    n_tokens = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    alpha = count_chars_expr(text, _ALPHA_CHARS)
    digits = count_chars_expr(text, _DIGIT_CHARS)
    punct = count_chars_expr(text, _PUNCT_CHARS)
    en_stop = F.array(*[F.lit(w) for w in LANG_STOPWORDS["en"]])
    stop_hits = F.size(F.array_intersect(F.array_distinct(toks), en_stop))

    safe_tokens = F.greatest(n_tokens, F.lit(1))
    safe_chars = F.greatest(n_chars, F.lit(1))
    feats: Dict[str, Column] = {
        "alpha_ratio": alpha.cast("double") / safe_chars,
        "digit_ratio": digits.cast("double") / safe_chars,
        "punct_ratio": punct.cast("double") / safe_chars,
        "distinct_ratio": n_distinct.cast("double") / safe_tokens,
        "stop_ratio": stop_hits.cast("double")
        / F.lit(float(len(LANG_STOPWORDS["en"]))),
        "length_score": F.least(
            n_tokens.cast("double") / F.lit(100.0), F.lit(1.0)
        ),
    }
    logit: Column = F.lit(float(bias))
    for name in QUALITY_CLASSIFIER_FEATURES:
        if name in weights:
            logit = logit + F.lit(float(weights[name])) * feats[name]
    prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))
    # NULL text -> every output NULL. Without the gate, size(NULL) is
    # -1 under default config but NULL under ANSI mode, so NULL-text
    # rows would emit garbage negative features that CHANGE under the
    # standing --ansi verification gate; the explicit isNotNull guard
    # makes the contract deterministic in both modes.
    nn = text.isNotNull()
    return df.select(
        F.col(id_col),
        *[
            F.when(nn, feats[name]).alias(name)
            for name in QUALITY_CLASSIFIER_FEATURES
        ],
        F.when(nn, logit).alias("logit"),
        F.when(nn, prob).alias("prob"),
        F.when(nn, logit >= F.lit(float(keep_threshold_logit))).alias("keep"),
    )
