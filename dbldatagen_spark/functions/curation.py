"""End-to-end corpus curation: the composite every LLM-data pipeline runs —
language filter + quality gate + near-duplicate removal (keep one canonical
document per duplicate cluster).

Composition, not new machinery: language ID and quality scoring are pure
column expressions that run inside the scan; near-dup clustering reuses
:func:`~dbldatagen_spark.functions.dedup.ngram_jaccard_pairs` (or any other
pair generator) + :func:`~dbldatagen_spark.functions.dedup.duplicate_components`.
The only data moved is (doc_id, hash/label) pairs; document bodies stream
straight from the scan to the output filter. The final removal is a
left-anti join against the non-canonical id set — ids only, so the shuffle
is bytes-per-doc, not payload.
"""

from __future__ import annotations

import itertools
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dbldatagen_spark.functions.dedup import (
    duplicate_components,
    ngram_jaccard_pairs,
)
from dbldatagen_spark.functions._parallel import ensure_parallelism
from dbldatagen_spark.functions.text_analysis import (
    detect_language,
    dominant_script_expr,
    language_expr,
    quality_metrics,
)


def curate_corpus(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    lang: str = "en",
    min_quality: float = 0.5,
    jaccard_threshold: float = 0.5,
    shingle_k: int = 3,
    max_posting_len: Optional[int] = 1000,
) -> DataFrame:
    """Return the curated keep-set: documents in ``lang`` with
    ``quality_score >= min_quality``, minus every near-duplicate that is
    not its cluster's canonical (minimum-id) member.

    ``max_posting_len`` is passed through to :func:`ngram_jaccard_pairs`:
    the default 1000 keeps the pair stage bounded at scale (a viral
    boilerplate shingle is a d^2 explosion); pass ``None`` for exact
    small-corpus dedup where every shared shingle must count.

    Output: (id, detected_lang, quality_score) for each kept document.
    """
    langs = detect_language(df, id_col, text_col).select(id_col, "detected_lang")
    quality = quality_metrics(df, id_col, text_col).select(id_col, "quality_score")
    pairs = ngram_jaccard_pairs(
        df, id_col, text_col, k=shingle_k, threshold=jaccard_threshold,
        max_posting_len=max_posting_len,
    )
    non_canonical = duplicate_components(pairs).where(
        F.col("vertex") != F.col("component")
    ).select(F.col("vertex").alias(id_col))
    return (
        df.select(id_col)
        .join(langs, id_col)
        .join(quality, id_col)
        .where(
            (F.col("detected_lang") == lang)
            & (F.col("quality_score") >= F.lit(min_quality))
        )
        .join(non_canonical, id_col, "left_anti")
        .select(id_col, "detected_lang", "quality_score")
    )


def strip_boilerplate_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_doc_frac: float = 0.05,
    min_docs: int = 2,
) -> DataFrame:
    """Remove corpus-wide boilerplate lines (headers, footers, nav chrome,
    license banners): any trimmed line appearing in at least
    ``max(min_docs, ceil(min_doc_frac * n_docs))`` distinct documents is
    stripped from every document.

    Returns ``(id, cleaned_text, n_lines_removed)``; line order within each
    document is preserved, blank lines are structural and never counted as
    boilerplate.

    Scale shape: one explode to ``(trimmed_line, id)``, a distinct-doc
    count per line (shuffle keyed by line content — partial aggregation
    collapses each partition's repeats map-side), a broadcast-able
    boilerplate set joined back (boilerplate lines are few by definition;
    Spark's AQE broadcasts the small side), and one per-doc reassembly
    keyed by id. Nothing quadratic; the corpus text moves at most twice.
    The document count rides the plan as a 1-row broadcast aggregate, not
    a driver-side action.
    """
    df = ensure_parallelism(df)
    lines = df.select(
        F.col(id_col),
        F.posexplode_outer(F.split(F.col(text_col), r"\n")).alias(
            "_pos", "_line"
        ),
    ).where(F.col("_line").isNotNull()).withColumn(
        "_key", F.trim(F.col("_line"))
    )

    n_docs = df.agg(F.count(F.lit(1)).alias("_n_docs"))
    per_line = (
        lines.where(F.col("_key") != "")
        .groupBy("_key")
        .agg(F.countDistinct(id_col).alias("_docs_with_line"))
    )
    boilerplate = (
        per_line.crossJoin(F.broadcast(n_docs))
        .where(
            F.col("_docs_with_line")
            >= F.greatest(
                F.lit(int(min_docs)),
                F.ceil(F.lit(float(min_doc_frac)) * F.col("_n_docs")).cast("int"),
            )
        )
        .select("_key")
    )
    kept = lines.join(boilerplate, "_key", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_line"))),
                lambda s: s["_line"],
            ),
            "\n",
        ).alias("cleaned_text"),
        F.count(F.lit(1)).alias("_n_kept"),
    )
    totals = lines.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n_total"))
    return (
        totals.join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("cleaned_text"), F.lit("")).alias("cleaned_text"),
            (F.col("_n_total") - F.coalesce(F.col("_n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_lines_removed"),
        )
    )


# Character-level cleanup tables. ``translate`` (not regex) does the 1:1
# mappings so Java (Spark) and RE2 (the DuckDB oracle) cannot diverge on
# unicode-escape syntax; the two regexes below stay inside the
# engine-portable subset (explicit hex classes, no \s shorthand — Java's
# \s includes \x0b, RE2's does not).
# curly quotes -> ' / ", en/em-dash and unicode minus -> -, NBSP -> space
# (explicit escapes: no invisible characters in source)
NORMALIZE_TRANSLATE_SRC = (
    "\u2018\u2019\u201a\u201c\u201d\u201e\u2013\u2014\u2212\u00a0"
)
NORMALIZE_TRANSLATE_DST = "\'\'\'\"\"\"--- "
CONTROL_CHARS_PATTERN = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"
WHITESPACE_RUN_PATTERN = r"[ \t\r\f]+"


def clean_text_expr(
    text,
    *,
    strip_control: bool = True,
    normalize_punct: bool = True,
    collapse_whitespace: bool = True,
    lowercase: bool = False,
):
    """Expression producing the cleaned text: control characters stripped,
    typographic quotes/dashes/NBSP folded to ASCII, ellipsis expanded,
    horizontal-whitespace runs collapsed, edges trimmed. Newlines are
    preserved (they are document structure; see
    :func:`dedup_lines_corpus`)."""
    out = text
    if strip_control:
        out = F.regexp_replace(out, CONTROL_CHARS_PATTERN, "")
    if normalize_punct:
        out = F.translate(out, NORMALIZE_TRANSLATE_SRC, NORMALIZE_TRANSLATE_DST)
        out = F.regexp_replace(out, "…", "...")
    if collapse_whitespace:
        out = F.regexp_replace(out, WHITESPACE_RUN_PATTERN, " ")
        out = F.regexp_replace(out, r" ?\n ?", "\n")
        out = F.trim(out)
    if lowercase:
        out = F.lower(out)
    return out


def normalize_text(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    strip_control: bool = True,
    normalize_punct: bool = True,
    collapse_whitespace: bool = True,
    lowercase: bool = False,
) -> DataFrame:
    """Map-only text normalization pass — the first stage of every corpus
    pipeline. Returns ``(id, normalized_text, n_chars_before,
    n_chars_after)``; runs entirely inside the scan (no shuffle, no UDF),
    so at 100 TB it costs one pass over the bytes.

    No counterpart in the reference repo (its scope ends at generation).
    """
    df = ensure_parallelism(df)
    text = F.col(text_col)
    return df.select(
        F.col(id_col),
        clean_text_expr(
            text,
            strip_control=strip_control,
            normalize_punct=normalize_punct,
            collapse_whitespace=collapse_whitespace,
            lowercase=lowercase,
        ).alias("normalized_text"),
        F.length(text).cast("long").alias("n_chars_before"),
    ).withColumn("n_chars_after", F.length("normalized_text").cast("long"))


def dedup_lines_corpus(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    trim_keys: bool = True,
) -> DataFrame:
    """C4-style global line deduplication: every distinct (trimmed) line is
    kept only at its first occurrence in corpus order (smallest
    ``(doc_id, line_position)``); all later occurrences are removed from
    their documents. Complements :func:`strip_boilerplate_lines` (which
    removes lines frequent across documents everywhere) — here the first
    occurrence survives.

    Returns ``(id, deduped_text, n_lines_removed)``. Blank lines are
    structural and never deduplicated.

    Scale shape: winner selection aggregates ``min(struct(doc_id, pos))``
    per line key — the shuffle carries the line text once (as the grouping
    key) plus 16 bytes; survivors then reassemble per document. Corpus
    text moves at most twice, nothing is quadratic, and there is no
    driver-side state.
    """
    df = ensure_parallelism(df)
    lines = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode_outer(F.split(F.col(text_col), r"\n")).alias(
            "_pos", "_line"
        ),
    ).where(F.col("_line").isNotNull())
    key = F.trim(F.col("_line")) if trim_keys else F.col("_line")
    lines = lines.withColumn("_key", key)

    dedupable = lines.where(F.col("_key") != "")
    winners = dedupable.groupBy("_key").agg(
        F.min(F.struct(F.col("_id"), F.col("_pos"))).alias("_w")
    )
    kept_dedup = (
        dedupable.join(winners, "_key")
        .where(
            (F.col("_id") == F.col("_w._id")) & (F.col("_pos") == F.col("_w._pos"))
        )
        .select("_id", "_pos", "_line")
    )
    blanks = lines.where(F.col("_key") == "").select("_id", "_pos", "_line")
    kept = kept_dedup.unionByName(blanks)

    rebuilt = kept.groupBy("_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_line"))),
                lambda s: s["_line"],
            ),
            "\n",
        ).alias("deduped_text"),
        F.count(F.lit(1)).alias("_n_kept"),
    )
    totals = lines.groupBy("_id").agg(F.count(F.lit(1)).alias("_n_total"))
    return (
        totals.join(rebuilt, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce(F.col("deduped_text"), F.lit("")).alias("deduped_text"),
            (F.col("_n_total") - F.coalesce(F.col("_n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_lines_removed"),
        )
    )


# Tracking parameters stripped by canonicalize_urls — the common
# analytics/click identifiers that vary per visit without changing the
# resource (the standard pre-dedup URL noise).  Deliberately EXCLUDES
# ambiguous names that select resources on common hosts: bare `ref` is
# a branch/tag selector on Git hosting and a route param on some CMSes,
# and `spm` carries position context some storefronts route on —
# stripping either can collapse distinct resources into one dedup key.
# Callers who know their corpus can widen the set per call.
_TRACKING_PARAMS = (
    "utm_[a-z0-9_]*", "gclid", "dclid", "fbclid", "msclkid", "igshid",
    "twclid", "yclid", "mc_cid", "mc_eid", "s_kwcid", "ref_src", "_ga",
)
_TRACKING_PARAM_RE = "^(" + "|".join(_TRACKING_PARAMS) + ")$"

# Common multi-part public suffixes for the registrable-domain
# heuristic — a deliberately small, documented subset of the public
# suffix list (the full PSL is ~10k entries and updates monthly; ship
# it as data and swap this set when exactness matters).
_SECOND_LEVEL_SUFFIXES = [
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk",
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp",
    "com.au", "net.au", "org.au", "edu.au", "gov.au",
    "co.nz", "net.nz", "org.nz",
    "co.in", "net.in", "org.in", "ac.in",
    "com.br", "net.br", "org.br",
    "com.mx", "com.ar", "com.cn", "net.cn", "org.cn",
    "com.sg", "com.hk", "com.tw", "co.kr", "or.kr",
    "com.tr", "co.za", "org.za", "co.il", "org.il",
    "github.io", "gitlab.io", "blogspot.com",
]


def url_host_expr(url) -> "Column":
    """Compact normalized-host extraction — SEMANTICALLY the host
    component of :func:`canonicalize_urls` (scheme and fragment
    dropped, lowercased, userinfo and port stripped, trailing dot and
    leading ``www.`` removed, NULL unless the hostname is valid), as
    a LINEAR expression chain where every intermediate is referenced
    exactly once.

    Exists for hot aggregate keys: deriving the host by slicing the
    full ``canonicalize_urls`` output evaluates the entire
    canonical-URL + registrable-domain tree (~20 regex/array ops per
    URL, much of it path/query/domain work the host never needs), and
    projection collapse duplicates that tree into every downstream
    predicate that filters on it.  This chain is 8 regex ops per URL,
    every intermediate referenced exactly once — measured ~1.7x
    faster end-to-end on the host-authority aggregate scan (quiet
    host, warmed, 400k URL pairs).

    Single-reference matters doubly because Catalyst RE-EXPANDS the
    tree: a NULL-filter on an aggregate keyed by this expression
    pushes below the aggregate and inlines a full copy into the
    corpus-scan stage.  The validity gate is therefore an anchored
    ``regexp_extract`` + ``nullif('')`` — a ``when(pred, host)``
    form would reference ``host``'s chain three times, and that
    multiplication (with the wide canonicalize tree as the key)
    pushed the fused partial-aggregate past the JVM's 64 KB method
    limit into interpreted fallback.
    """
    u = F.trim(url)
    no_scheme = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://", "")
    authority = F.regexp_extract(no_scheme, "^([^/?#]*)", 1)
    host = F.lower(F.regexp_replace(authority, "^[^@]*@", ""))
    host = F.regexp_replace(host, ":[0-9]*$", "")
    host = F.regexp_replace(host, r"\.$", "")
    host = F.regexp_replace(host, r"^www\.", "")
    # "" on no-match (invalid chars or empty host) -> NULL
    return F.nullif(
        F.regexp_extract(host, r"^([a-z0-9._\-]+)$", 1), F.lit("")
    )


def registrable_domain_expr(host, suffix_list=None) -> "Column":
    """PSL-style registrable domain of an already-normalized host
    (the :func:`canonicalize_urls` ``registrable_domain`` rule,
    factored for reuse over a host column: ``a.b.co.uk`` ->
    ``b.co.uk``, ``x.github.io`` -> ``x.github.io``; IPv4 and
    single-label hosts pass through).  Cheap only relative to its
    input cardinality — apply it to HOST-level frames (post-
    aggregation), not per-row over a corpus.

    ``suffix_list`` overrides the built-in 44-entry multi-part suffix
    subset: pass the multi-label entries of a real Public Suffix List
    snapshot (lowercase dotted suffixes of 2 or 3 labels, e.g.
    ``["co.uk", "com.pl", "act.edu.au", ...]``) and production domain
    collapses stop merging unrelated registrants under suffixes the
    subset lacks.  Single-label TLDs need no entry — the fallback
    rule (last two labels) already handles them; wildcard/exception
    PSL rules (``*.ck``, ``!www.ck``) are not expressible here, so
    drop them when converting a snapshot (they cover a handful of
    ccTLDs).  The list rides the plan as ONE array literal — constant
    Catalyst data, not per-entry generated code, so a ~10k-entry PSL
    snapshot stays clear of the JVM's 64 KB method limit."""
    entries = (
        _SECOND_LEVEL_SUFFIXES if suffix_list is None else list(suffix_list)
    )
    two, three = [], []
    for s in entries:
        dots = s.count(".") if isinstance(s, str) else -1
        if not isinstance(s, str) or s != s.lower() or "" in s.split("."):
            raise ValueError(
                f"suffix_list entries must be lowercase dotted suffixes, "
                f"got {s!r}"
            )
        if dots == 1:
            two.append(s)
        elif dots == 2:
            three.append(s)
        else:
            raise ValueError(
                f"suffix_list entries must have 2 or 3 labels (single-"
                f"label TLDs are the implicit fallback rule; wildcard "
                f"PSL rules are unsupported), got {s!r}"
            )
    labels = F.split(host, r"\.")
    n = F.size(labels)
    is_ip = host.rlike(r"^[0-9]{1,3}(\.[0-9]{1,3}){3}$")
    last1 = F.try_element_at(labels, F.lit(-1))
    last2 = F.try_element_at(labels, F.lit(-2))
    last3 = F.try_element_at(labels, F.lit(-3))
    last4 = F.try_element_at(labels, F.lit(-4))
    sld = F.concat_ws(".", last2, last1)
    tld3 = F.concat_ws(".", last3, last2, last1)
    out = (
        # NULL host stays NULL (concat_ws would otherwise fold it to '')
        F.when(host.isNull(), F.lit(None).cast("string"))
        .when(is_ip | (n <= 1), host)
    )
    if three:
        # longest-match-first, the PSL rule: a 3-label suffix claims
        # 4 labels before any 2-label suffix is consulted
        out = out.when(
            F.array_contains(F.lit(three), tld3) & (n >= 4),
            F.concat_ws(".", last4, last3, last2, last1),
        )
    if two:
        out = out.when(F.array_contains(F.lit(two), sld) & (n >= 3), tld3)
    return out.otherwise(sld)


def canonicalize_urls(
    df: DataFrame,
    url_col: str,
    *,
    out_col: str = "url_canonical",
    domain_col: str = "registrable_domain",
    tracking_params: Optional[Sequence[str]] = None,
    suffix_list: Optional[Sequence[str]] = None,
) -> DataFrame:
    """URL canonicalization + registrable-domain extraction — the
    standard pre-dedup normalizer for web corpora: two crawls of the
    same page differ by scheme, www, default port, tracking params,
    param order, fragment, and trailing slash, so deduplicating (or
    quota-sampling) on the RAW url undercounts duplicates and
    overcounts domains.

    The canonical form is the scheme-agnostic dedup key
    ``host[:port][/path][?query]``:

    - scheme and fragment dropped (http/https of one page collapse);
    - host lowercased, leading ``www.`` and trailing dot stripped,
      userinfo removed; ports 80/443 dropped, others kept;
    - path keeps its case (paths are case-sensitive), duplicate
      slashes collapse, the trailing slash is stripped (root path
      becomes the bare host);
    - query params are split, tracking params (``utm_*``, ``gclid``,
      ``fbclid``, ...) and empties removed, the rest SORTED and
      rejoined — param order never distinguishes resources.
      ``tracking_params`` overrides the default strip set (a sequence
      of case-insensitive param-name REGEXES, each anchored whole-name
      on match).  The default deliberately keeps ``ref`` and ``spm``:
      both select resources on common hosts (Git-hosting branch
      selectors, storefront routes), so stripping them can wrongly
      collapse distinct pages into one dedup key.

    ``registrable_domain`` is the PSL-style owner domain (``a.b.co.uk``
    -> ``b.co.uk``; ``x.github.io`` -> ``x.github.io``) via the
    documented suffix subset above — or via ``suffix_list``, a
    user-supplied Public Suffix List snapshot (see
    :func:`registrable_domain_expr` for the entry format); IPv4 hosts
    and single-label hosts pass through unchanged.  Rows whose host fails to parse (empty, or
    containing characters no hostname allows) get NULL in both output
    columns — loud downstream, never a silently-wrong key.

    Scale shape: map-only whole-stage-codegen expressions (regex +
    array ops on each row's own URL) — no UDF, no shuffle, safe to run
    inline in any scan.
    """
    strip_re = (
        _TRACKING_PARAM_RE
        if tracking_params is None
        else "^(" + "|".join(tracking_params) + ")$"
    )
    u = F.trim(F.col(url_col))
    no_scheme = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://", "")
    no_frag = F.regexp_replace(no_scheme, "#.*$", "")
    authority = F.regexp_extract(no_frag, "^([^/?]*)", 1)
    host_port = F.regexp_replace(authority, "^[^@]*@", "")
    port = F.regexp_extract(host_port, ":([0-9]+)$", 1)
    host = F.lower(F.regexp_replace(host_port, ":[0-9]*$", ""))
    host = F.regexp_replace(host, r"\.$", "")
    host = F.regexp_replace(host, r"^www\.", "")
    keep_port = (port != "") & (port != "80") & (port != "443")
    path = F.regexp_extract(no_frag, r"^[^/?]*(/[^?]*)?", 1)
    path = F.regexp_replace(path, "/{2,}", "/")
    path = F.regexp_replace(path, "/$", "")
    qs = F.regexp_extract(no_frag, r"\?(.*)$", 1)
    params = F.filter(
        F.split(qs, "&"),
        lambda p: (p != "")
        & ~F.lower(F.element_at(F.split(p, "="), 1)).rlike(strip_re),
    )
    canon_q = F.array_join(F.array_sort(params), "&")
    valid = (host != "") & host.rlike(r"^[a-z0-9._\-]+$")
    canon = F.concat(
        host,
        F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        path,
        F.when(canon_q != "", F.concat(F.lit("?"), canon_q)).otherwise(
            F.lit("")
        ),
    )
    dom = registrable_domain_expr(host, suffix_list=suffix_list)
    return df.withColumn(
        out_col, F.when(valid, canon)
    ).withColumn(domain_col, F.when(valid, dom))


def flatten_json(
    df: DataFrame,
    json_col: str,
    *,
    sample_size: int = 100,
    sep: str = "_",
    drop: bool = True,
    schema: Optional[T.StructType] = None,
):
    """Turn a JSON-string column into typed top-level columns: infer
    the schema from a bounded sample (or take it from ``schema``),
    parse with ``from_json``, and flatten every nested struct field
    into a flat column named by its dotted path (joined with ``sep``)
    — the standard semi-structured ETL step for event ``props`` / API
    payloads, without hand-writing ``get_json_object`` paths per
    field.

    Inference collects at most ``sample_size`` non-NULL rows to the
    driver (provably bounded, the analyzer convention), STRIPED ACROSS
    PARTITIONS — the head of every partition contributes, so a field
    that first appears late in a time-partitioned corpus (schema drift
    in event payloads) is still seen, unlike a plain ``limit`` which
    reads only the first partitions.  Within the sample Spark's JSON
    reader merges per-row schemas, so fields missing from some rows
    still appear (as NULLs where absent).  Residual caveat: only
    partition HEADS are read (early-terminating — the whole point),
    so a field appearing exclusively deep inside one partition AND in
    no other partition's head can still be missed; pass ``schema``
    explicitly when the payload schema is known (skips sampling
    entirely, the production-pipeline path).  Rows whose JSON fails to parse get
    NULLs in every flattened column — loud downstream, never silently
    wrong.

    Flattened names are checked against the surviving input columns
    and each other; a collision raises (ambiguous columns would
    otherwise surface as confusing analyzer errors far downstream).
    Field names containing dots or backticks are safe: resolution is
    structural (``getItem`` chains), never string-parsed paths.

    Arrays are kept as arrays (exploding is a row-multiplying decision
    the caller should make explicitly); nested structs flatten
    recursively.  Returns the DataFrame with the flattened columns
    appended (and the raw JSON column dropped unless ``drop=False``).

    Scale shape: the sample is one early-terminating per-partition
    head collect; the parse + flatten is map-only ``from_json`` +
    column projection — no UDF, no shuffle, safe inline in any scan
    at 100 TB.
    """
    spark = df.sparkSession
    if schema is None:
        if sample_size < 1:
            raise ValueError(
                f"sample_size must be >= 1, got {sample_size}"
            )
        non_null = df.select(json_col).where(F.col(json_col).isNotNull())
        n_parts = max(1, non_null.rdd.getNumPartitions())
        if n_parts <= sample_size:
            # head of every partition; iterator islice stops the scan
            # early, so the cost is ~sample_size rows, not a full pass
            per_part = max(1, sample_size // n_parts)
            stride = 1
        else:
            # more partitions than budget: 1 row from every stride-th
            per_part = 1
            stride = n_parts // sample_size

        def _heads(idx, it):
            if idx % stride != 0:
                return iter(())
            return itertools.islice((row[0] for row in it), per_part)

        # bounded: per_part * n_parts <= sample_size rows in the first
        # branch, one row per sampled partition (< 2x sample_size) in
        # the second
        sample = non_null.rdd.mapPartitionsWithIndex(_heads).collect()
        if not sample:
            raise ValueError(
                f"column {json_col!r} has no non-NULL JSON to sample"
            )
        schema = spark.read.json(
            spark.sparkContext.parallelize(sample, 1)
        ).schema
        # the JSON reader surfaces unparseable rows via _corrupt_record;
        # that is sampling noise, not a field
        schema = T.StructType(
            [f for f in schema.fields if f.name != "_corrupt_record"]
        )
    if not schema.fields:
        raise ValueError(
            f"could not infer any JSON fields from {json_col!r}"
        )
    tmp = "_fj"
    while tmp in df.columns:
        tmp += "_"
    parsed = df.withColumn(tmp, F.from_json(F.col(json_col), schema))

    def leaf_paths(struct, prefix):
        out = []
        for f in struct.fields:
            path = prefix + [f.name]
            if isinstance(f.dataType, T.StructType):
                out.extend(leaf_paths(f.dataType, path))
            else:
                out.append(path)
        return out

    base_cols = [c for c in df.columns if not (drop and c == json_col)]
    paths = leaf_paths(schema, [])
    names = [sep.join(p) for p in paths]
    seen = set(base_cols)
    clashes = sorted({n for n in names if n in seen or names.count(n) > 1})
    if clashes:
        raise ValueError(
            f"flatten_json: flattened column name(s) {clashes} collide "
            f"with existing columns or each other (sep={sep!r}) — "
            f"rename the inputs, change sep, or drop the clashing "
            f"fields via an explicit schema"
        )

    def resolve(path):
        c = parsed[tmp]
        for part in path:
            c = c.getItem(part)
        return c

    cols = [resolve(p).alias(n) for p, n in zip(paths, names)]
    return parsed.select(*base_cols, *cols)


# Script → route tag for documents the stopword language ID can't place
# (detected_lang = 'und'). BCP-47-style und-<script> buckets: the CCNet
# shape — route first, then run per-route models/tokenizers. Both kana
# scripts fold into the Japanese bucket; Han-dominant text normally hits
# the CJK → 'zh' rule upstream, so 'und-hani' only catches Han characters
# outside the BMP unified block.
SCRIPT_ROUTE_TAGS = {
    "cyrillic": "und-cyrl",
    "arabic": "und-arab",
    "devanagari": "und-deva",
    "hangul": "und-hang",
    "hiragana": "und-jpan",
    "katakana": "und-jpan",
    "greek": "und-grek",
    "hebrew": "und-hebr",
    "han": "und-hani",
    "latin": "und",
    "none": "und",
}


def route_by_language(
    df: DataFrame,
    text_col: str,
    *,
    route_col: str = "route",
    out_path: Optional[str] = None,
    format: str = "parquet",
    mode: str = "overwrite",
) -> DataFrame:
    """Per-language corpus routing — the CCNet splitter shape (Wenzek
    et al. 2020: language-ID first, then per-language processing): every
    document gets a ``route`` bucket (stopword language ID when it fires,
    otherwise a ``und-<script>`` tag from the dominant Unicode script,
    otherwise ``und``), and the corpus is optionally written partitioned
    by that bucket so each language's pipeline reads ONLY its directory.

    Composition, not new machinery: the language and script signals are
    :func:`~dbldatagen_spark.functions.text_analysis.language_expr` and
    :func:`~dbldatagen_spark.functions.text_analysis.dominant_script_expr`
    — the exact expressions behind ``detect_language`` /
    ``script_profile``, so routing can never disagree with the profiling
    ops it composes.

    Returns ``df`` plus the ``route_col`` column (always computed from
    the returned frame, whether or not a write happened, so callers can
    keep composing). With ``out_path`` set, also writes
    ``partitionBy(route_col)`` in ``format``.

    Scale shape: the route is a scan-stage expression (regex counts +
    array intersects inside whole-stage codegen — no UDF, no shuffle, no
    collect); the write is the standard Hive-style partitioned layout,
    one directory per route, so downstream per-language reads partition-
    prune to their bucket. Each write task emits at most one file per
    route it sees — with the ~dozen routes this splitter produces that
    is bounded and healthy at any scale; repartition on a finer key
    first if you need per-route file-count control.
    """
    lang_expr_, _hits = language_expr(F.col(text_col))
    dom = dominant_script_expr(F.col(text_col))
    # literal-map lookup, not a chained when: the dominant-script
    # expression appears ONCE in the tree (a when chain re-inlines it
    # per branch and blows the JVM's 64 KB generated-method limit once
    # composed into the partitioned write's sorter)
    route_map = F.create_map(*itertools.chain.from_iterable(
        (F.lit(k), F.lit(v)) for k, v in SCRIPT_ROUTE_TAGS.items()
    ))
    # try_element_at: every dominant_script_expr output is a covered key,
    # but ANSI mode makes plain element_at throw on a miss — same
    # hardening as the hll_sketch ANSI fix
    script_route = F.coalesce(F.try_element_at(route_map, dom), F.lit("und"))
    route = F.when(lang_expr_ != "und", lang_expr_).otherwise(script_route)
    routed = df.withColumn(route_col, route)
    if out_path is not None:
        routed.write.format(format).mode(mode).partitionBy(route_col).save(
            out_path
        )
    return routed


def score_buckets(
    df: DataFrame,
    id_col: str,
    score_col: str,
    *,
    group_col: Optional[str] = None,
    n_buckets: int = 3,
    n_bins: int = 1024,
    lo: Optional[float] = None,
    hi: Optional[float] = None,
    bucket_col: str = "bucket",
) -> DataFrame:
    """CCNet-style quality buckets at scale (Wenzek et al. 2020,
    "CCNet: Extracting High Quality Monolingual Datasets from Web
    Crawl Data" — per-language head/middle/tail perplexity terciles):
    split each group's score distribution into ``n_buckets`` quantile
    bands WITHOUT a per-group global sort.  Thresholds
    come from a fixed-bin histogram — per group, bucket ``b``'s lower
    threshold is the smallest bin whose cumulative count reaches
    ``ceil(n * b / n_buckets)`` — and every document is then assigned
    map-side by comparing its bin to the broadcast thresholds.
    ``bucket`` is 1..n_buckets from LOWEST scores (tail) to HIGHEST
    (head); documents sharing a histogram bin always share a bucket
    (bin-granular splits — raise ``n_bins`` for sharper cuts).
    NULL, NaN, and +/-inf scores get a NULL bucket and are EXCLUDED
    from the range and the thresholds (one NaN or inf would otherwise
    poison a whole group's min/max), identically under default and
    ANSI modes; finite scores outside a pinned ``lo``/``hi`` clamp to
    the edge buckets with the clamp applied in long arithmetic, so no
    magnitude can overflow the bin cast.

    ``lo``/``hi`` fix the histogram range; left unset they come from a
    per-group min/max aggregate.  All arithmetic is integer counts
    plus one fixed-form IEEE expression per row, so any engine
    replays the bucketing exactly.

    Scale shape: this is the quantile-bucketing that survives 100 TB —
    an ``ntile`` window would sort each group in ONE task (the 'en'
    route of a web corpus in a single partition), and exact
    ``percentile`` buffers every value per group.  Here the input is
    scanned three times (min/max range, histogram, assignment — twice
    when ``lo``/``hi`` are pinned; persist the scored frame upstream
    if it is itself expensive to recompute), the shuffles carry only
    (group, bin) keys, the cumulative-threshold window runs over at
    most ``groups x n_bins`` rows, and the assignment rides the scan
    via a broadcast join.
    """
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    if n_bins < n_buckets:
        raise ValueError(
            f"n_bins ({n_bins}) must be >= n_buckets ({n_buckets})"
        )
    if (lo is None) != (hi is None):
        raise ValueError("lo and hi must be set together")
    if bucket_col in df.columns:
        raise ValueError(
            f"score_buckets: bucket_col {bucket_col!r} already exists on "
            f"the input — rename it or pass a different bucket_col"
        )
    from pyspark.sql import Window

    # collision-free internal prefix (flatten_json / substring_dedup
    # contract: user columns are never clobbered or made ambiguous)
    pfx = "_sb"
    while any(c.startswith(pfx) for c in df.columns):
        pfx += "_"
    c_lo, c_hi, c_bin = f"{pfx}lo", f"{pfx}hi", f"{pfx}bin"

    groups = [group_col] if group_col else []
    score = F.col(score_col).cast("double")
    # +/-inf excluded alongside NULL/NaN: an infinite score would
    # poison a derived group range (span = inf => every finite row in
    # bin 0) and, with a pinned range, ride the floor/cast path with
    # engine-dependent overflow — exclusion keeps the contract
    # identical under default and ANSI modes
    valid = (
        score.isNotNull()
        & ~F.isnan(score)
        & (score != F.lit(float("inf")))
        & (score != F.lit(float("-inf")))
    )
    stats_src = df.where(valid)

    rng = None
    if lo is None:
        rng = stats_src.groupBy(*groups).agg(
            F.min(score).alias(c_lo), F.max(score).alias(c_hi)
        )
    elif groups:
        # literal range: every group gets it (derived from df, not the
        # valid subset, so an all-invalid group still keeps its rows)
        rng = (
            df.select(*groups)
            .distinct()
            .withColumn(c_lo, F.lit(float(lo)))
            .withColumn(c_hi, F.lit(float(hi)))
        )

    def _bin_expr(s, lo_c, hi_c):
        span = hi_c - lo_c
        raw = F.floor((s - lo_c) / span * F.lit(float(n_bins)))
        # clamp in LONG (floor's type) BEFORE the int cast: with a
        # pinned range a score ~span*2^31/n_bins above hi overflows a
        # long-to-int cast — loud under ANSI, silently wrapped (and
        # possibly landing in a tail bucket) under default; the
        # least/greatest coercion stays in long so the final cast is
        # always in [0, n_bins-1]
        clamped = F.least(
            F.lit(n_bins - 1).cast("long"),
            F.greatest(F.lit(0).cast("long"), raw),
        ).cast("int")
        # NULL unless the row is valid AND its group has a range row
        return F.when(
            valid & lo_c.isNotNull(),
            F.when(span > 0, clamped).otherwise(F.lit(0)),
        )

    if rng is None:
        # ungrouped with pinned lo/hi: no join needed at all
        binned = df.withColumn(c_lo, F.lit(float(lo))).withColumn(
            c_hi, F.lit(float(hi))
        )
    elif groups:
        binned = df.join(F.broadcast(rng), groups, "left")
    else:
        binned = df.crossJoin(F.broadcast(rng))
    binned = binned.withColumn(
        c_bin, _bin_expr(score, F.col(c_lo), F.col(c_hi))
    )

    hist = (
        binned.where(F.col(c_bin).isNotNull())
        .groupBy(*groups, c_bin)
        .agg(F.count(F.lit(1)).alias(f"{pfx}c"))
    )
    wg = (
        Window.partitionBy(*groups).orderBy(c_bin)
        if groups
        else Window.partitionBy(F.lit(1)).orderBy(c_bin)
    )
    cum = hist.withColumn(
        f"{pfx}cum",
        F.sum(f"{pfx}c").over(
            wg.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    ).withColumn(
        f"{pfx}n",
        F.sum(f"{pfx}c").over(
            Window.partitionBy(*groups)
            if groups
            else Window.partitionBy(F.lit(1))
        ),
    )
    # threshold bin for each interior quantile: smallest bin whose
    # cumulative count reaches ceil(n * b / n_buckets)
    thr_cols = [
        F.min(
            F.when(
                F.col(f"{pfx}cum")
                >= F.ceil(F.col(f"{pfx}n") * F.lit(b) / F.lit(n_buckets)),
                F.col(c_bin),
            )
        ).alias(f"{pfx}t{b}")
        for b in range(1, n_buckets)
    ]
    thr = cum.groupBy(*groups).agg(*thr_cols)

    if groups:
        assigned = binned.join(F.broadcast(thr), groups, "left")
    else:
        assigned = binned.crossJoin(F.broadcast(thr))
    bucket = F.lit(1)
    for b in range(1, n_buckets):
        bucket = bucket + F.when(
            F.col(c_bin) > F.col(f"{pfx}t{b}"), F.lit(1)
        ).otherwise(F.lit(0))
    bucket = F.when(F.col(c_bin).isNotNull(), bucket)
    return assigned.withColumn(bucket_col, bucket.cast("int")).drop(
        c_lo, c_hi, c_bin, *[f"{pfx}t{b}" for b in range(1, n_buckets)]
    )


def calibration_report(
    df: DataFrame,
    score_col: str,
    label_col: str,
    *,
    n_bins: int = 10,
    lo: Optional[float] = None,
    hi: Optional[float] = None,
) -> DataFrame:
    """Threshold-calibration table for a quality classifier: per
    score bin over a LABELED sample, the count, positive count, and
    precision — plus the cumulative-from-the-top view, which is the
    number a curator actually reads: "if I keep everything scoring
    at least this bin's lower edge, I keep ``cum_n`` documents at
    ``cum_precision``".  This is how production keep-thresholds are
    picked (the FineWeb-Edu recipe: run the classifier over an
    annotated sample, sweep the threshold, choose the
    precision/volume trade) — measured, not guessed.

    One row per bin (``0 .. n_bins-1``, equal width over
    ``[lo, hi]`` — range auto-detected from the valid scores unless
    pinned): ``(bin, bin_lo, bin_hi, n, n_pos, precision, cum_n,
    cum_pos, cum_precision)``.  Empty bins appear with zero counts
    (the cumulative columns must be gapless for the sweep to read
    correctly).  Counts are exact longs; each precision is ONE
    fixed-form IEEE division (NULL where its denominator is 0); bin
    edges are the ONE fixed form ``lo + (bin * span) / n_bins``, so
    any engine replays every cell.  Rows with NULL/NaN/infinite
    scores or NULL labels are excluded (a calibration sample is
    labeled by construction; count them upstream if missingness
    itself is the question).

    Scale shape: one validity-filtered min/max aggregate (skipped
    when ``lo``/``hi`` are pinned) and one map-side-combined
    ``n_bins``-group count aggregate — two sample scans collapsing
    to ``n_bins`` rows, all in ONE lazy plan (the auto range rides
    as a broadcast one-row frame; no eager job at construction —
    r16); the cumulative window runs over the ``n_bins``-row report
    frame, never the corpus.

    Errors: bad ``n_bins``/``lo``/``hi`` and missing columns raise
    ``ValueError`` at construction.  With the auto range, an input with
    no valid (finite score, non-NULL label) rows raises at ACTION time,
    as a Spark error (``pyspark.errors.SparkRuntimeException`` from an
    in-plan ``raise_error``), not a ``ValueError``: construction runs
    no job, and the raise fires when ``bin_lo``/``bin_hi`` are
    evaluated — a consumer that reads only the count columns gets the
    all-zero report instead.
    """
    if n_bins < 1 or n_bins > 4096:
        raise ValueError(f"n_bins must be in [1, 4096], got {n_bins}")
    if (lo is None) != (hi is None):
        raise ValueError("pass both lo and hi, or neither")
    for col in (score_col, label_col):
        if col not in df.columns:
            raise ValueError(f"df has no column {col!r}")

    s = F.col(score_col).cast("double")
    # label validity tests the CASTED boolean, not the raw column: a
    # non-NULL value that does not cast ('maybe') must be excluded
    # like a NULL label, never silently counted as a negative
    y = F.col(label_col).try_cast("boolean")
    valid = (
        s.isNotNull() & ~F.isnan(s)
        & (s > float("-inf")) & (s < float("inf"))
        & y.isNotNull()
    )
    base = df.where(valid).select(s.alias("_s"), y.alias("_y"))
    if lo is None:
        # auto range rides the plan (r16; was an eager min/max scan —
        # a full labeled-sample job at construction per call): the
        # one-row min/max aggregate is broadcast-crossJoined onto the
        # histogram side and the n_bins-row spectrum, so the whole
        # report is ONE lazy plan.  The no-valid-rows contract raises
        # AT ACTION TIME via raise_error on the bin edges (the
        # spectrum side always has rows; the histogram side is empty
        # exactly when the raise would fire) — a consumer that drops
        # every range-dependent column gets vacuously-correct zero
        # counts instead, which nothing can corrupt.
        lohi = base.agg(F.min("_s").alias("_clo"), F.max("_s").alias("_chi"))
        lo_e: Column = F.col("_clo")
        hi_e: Column = F.col("_chi")
        checked_lo = F.when(
            lo_e.isNull(),
            F.raise_error(
                F.lit(
                    "calibration_report: no valid (finite score, "
                    "non-NULL label) rows"
                )
            ).cast("double"),
        ).otherwise(lo_e)
    else:
        if hi <= lo:
            raise ValueError(f"need lo < hi, got lo={lo}, hi={hi}")
        lohi = None
        lo_e = F.lit(float(lo))
        hi_e = F.lit(float(hi))
        checked_lo = lo_e
    # span as the same double subtraction the old Python-side
    # float(hi) - float(lo) performed — bit-identical edges and bins
    span_e = hi_e - lo_e
    # scores outside a PINNED range clamp to the edge bins, the
    # standard histogram convention (auto range never produces
    # them).  Clamp in DOUBLE space BEFORE floor/cast: a far
    # outlier under a pinned range would otherwise floor past
    # int (or even long) range, where the narrowing cast throws
    # under ANSI and wraps into the WRONG edge bin without it.
    # A degenerate span (all scores equal) folds every row to bin 0,
    # exactly the old span<=0 literal branch
    ratio = (F.col("_s") - lo_e) / span_e * F.lit(n_bins)
    bin_expr = F.when(span_e <= F.lit(0.0), F.lit(0)).otherwise(
        F.floor(
            F.greatest(
                F.lit(0.0), F.least(F.lit(float(n_bins - 1)), ratio)
            )
        ).cast("int")
    )
    hist_src = (
        base.crossJoin(F.broadcast(lohi)) if lohi is not None else base
    )
    counts = (
        hist_src.groupBy(bin_expr.alias("bin"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(F.col("_y"), 1).otherwise(0))
            .cast("long")
            .alias("n_pos"),
        )
    )
    spectrum = df.sparkSession.range(n_bins).select(
        F.col("id").cast("int").alias("bin")
    )
    full = spectrum.join(counts, "bin", "left").select(
        "bin",
        F.coalesce(F.col("n"), F.lit(0).cast("long")).alias("n"),
        F.coalesce(F.col("n_pos"), F.lit(0).cast("long")).alias("n_pos"),
    )
    from pyspark.sql import Window

    # n_bins rows only — the unpartitioned window never sees the corpus
    w = (
        Window.partitionBy()
        .orderBy(F.col("bin").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    edge_lo = checked_lo + (
        F.col("bin").cast("double") * span_e
    ) / F.lit(float(n_bins))
    edge_hi = checked_lo + (
        (F.col("bin") + F.lit(1)).cast("double") * span_e
    ) / F.lit(float(n_bins))
    if lohi is not None:
        full = full.crossJoin(F.broadcast(lohi))
    out = (
        full.withColumn("cum_n", F.sum("n").over(w).cast("long"))
        .withColumn("cum_pos", F.sum("n_pos").over(w).cast("long"))
    )
    return out.select(
        "bin",
        edge_lo.alias("bin_lo"),
        edge_hi.alias("bin_hi"),
        "n",
        "n_pos",
        F.when(
            F.col("n") > 0,
            F.col("n_pos").cast("double") / F.col("n").cast("double"),
        ).alias("precision"),
        "cum_n",
        "cum_pos",
        F.when(
            F.col("cum_n") > 0,
            F.col("cum_pos").cast("double") / F.col("cum_n").cast("double"),
        ).alias("cum_precision"),
    ).orderBy("bin")


def calibrated_keep(
    df: DataFrame,
    score_col: str,
    labeled: DataFrame,
    target_precision: float,
    *,
    labeled_score_col: Optional[str] = None,
    label_col: str = "label",
    n_bins: int = 10,
    lo: Optional[float] = None,
    hi: Optional[float] = None,
    out_prefix: str = "cal",
) -> DataFrame:
    """Calibrated quality filtering end-to-end — the consumption
    pattern of :func:`calibration_report` (the FineWeb-Edu recipe's
    second half): sweep the threshold on a LABELED sample, pick the
    lowest score cutoff whose kept set still meets
    ``target_precision``, then apply that cutoff to the full corpus.
    Measured, not guessed — the threshold is chosen for maximum kept
    volume subject to the precision floor, which is exactly how
    production keep-thresholds are picked.

    Selection: run :func:`calibration_report` on ``labeled``
    (``labeled_score_col`` defaults to ``score_col``); among bins
    with ``cum_n > 0`` and ``cum_precision >= target_precision``,
    choose the LOWEST bin — its ``bin_lo`` becomes the threshold, so
    no higher cutoff could keep more volume at the target.  Raises
    ``ValueError`` (reporting the best achievable cumulative
    precision) when no bin qualifies: a misconfigured target must
    fail loudly, never silently keep nothing.

    Output is the input plus FLAGS, never a filter (the
    :func:`~dbldatagen_spark.functions.sampling
    .distribution_matched_sample` audit contract):

    - ``<prefix>_threshold`` — the chosen cutoff (the selected bin's
      ``bin_lo``, bit-exactly as the report computed it)
    - ``<prefix>_expected_precision`` — the labeled sample's
      ``cum_precision`` at that cutoff
    - ``<prefix>_expected_n`` — the labeled sample's kept count at
      that cutoff (the volume the trade-off bought)
    - ``<prefix>_keep`` — ``score >= threshold``, false for
      NULL/NaN scores (an unscorable document is never kept by a
      score gate)

    With a PINNED ``lo``/``hi`` range, below-``lo`` outliers clamp
    into bin 0 for calibration counting (the histogram convention),
    but the keep predicate stays strictly ``score >= threshold`` —
    if sub-``lo`` scores exist and bin 0 wins, the kept corpus
    excludes them while the calibration counts included them.  Pin
    ``lo`` at or below the score floor when that distinction
    matters.

    Scale shape: the calibration side is :func:`calibration_report`'s
    two labeled-sample scans collapsing to ``n_bins`` rows plus ONE
    bounded driver collect (``n_bins`` rows — the threshold must
    become a literal for the corpus expression); the corpus side is
    a scan-local whole-stage-codegen comparison — zero joins, zero
    shuffles, and the flag predicate pushes into the parquet scan
    when the caller filters on it.
    """
    if not 0.0 < target_precision <= 1.0:
        raise ValueError(
            f"target_precision must be in (0, 1], got {target_precision}"
        )
    if score_col not in df.columns:
        raise ValueError(f"df has no column {score_col!r}")
    out_thr = f"{out_prefix}_threshold"
    out_prec = f"{out_prefix}_expected_precision"
    out_n = f"{out_prefix}_expected_n"
    out_keep = f"{out_prefix}_keep"
    for c in (out_thr, out_prec, out_n, out_keep):
        if c in df.columns:
            raise ValueError(f"output column {c!r} already exists")
    report = calibration_report(
        labeled,
        labeled_score_col or score_col,
        label_col,
        n_bins=n_bins,
        lo=lo,
        hi=hi,
    ).collect()
    chosen = None
    best = None
    for row in report:  # already bin-ascending; first hit = lowest bin
        cp = row["cum_precision"]
        if cp is None:
            continue
        if best is None or cp > best:
            best = cp
        if chosen is None and cp >= target_precision:
            chosen = row
    if chosen is None:
        raise ValueError(
            f"calibrated_keep: no threshold reaches target_precision="
            f"{target_precision} (best achievable cumulative precision: "
            f"{best}) — lower the target or improve the classifier"
        )
    s = F.col(score_col).cast("double")
    keep = (
        s.isNotNull()
        & ~F.isnan(s)
        & (s >= F.lit(float(chosen["bin_lo"])))
    )
    return (
        df.withColumn(out_thr, F.lit(float(chosen["bin_lo"])))
        .withColumn(out_prec, F.lit(float(chosen["cum_precision"])))
        .withColumn(out_n, F.lit(int(chosen["cum_n"])).cast("long"))
        .withColumn(out_keep, keep)
    )
