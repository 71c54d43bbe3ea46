"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash,
embedding-cosine.

Scale design (the point of each operator at 100 TB):

* **exact**: shuffle only ``(sha256, doc_id)`` pairs — a groupBy on a
  64-byte key, never the document bodies. One shuffle, map-side partial
  aggregation applies.
* **n-gram Jaccard**: exact pairwise similarity *after* an inverted-index
  blocking step (explode shingles → self-join on shingle → count common
  shingles per pair). The join key is an 8-byte shingle hash; pairs that
  share zero shingles are never materialized. Quadratic only within a
  shingle's posting list.
* **MinHash-LSH**: constant-size signature (`num_hashes` longs) per doc,
  banded into `bands` bucket keys; candidate pairs only within equal
  buckets, then exact-Jaccard verification. Tunable recall via (bands,
  rows-per-band).
* **SimHash**: one 64-bit signature per doc; near-dup candidates share a
  16-bit band (4 tables), verified by Hamming distance.
* **embedding cosine**: random-hyperplane LSH bucketing bounds the
  pairwise cosine step; brute-force path kept for small/oracle use.

The shared kernels (:func:`exact_dedup`, :func:`shingled_df`, the
MinHash hashing and banding, :func:`_self_pairs`, :func:`_shingle_overlap`,
:func:`_blocked_posting`, :func:`_verified_jaccard` and the label
propagation of :func:`duplicate_components`) build Spark SQL *text*, as
the generation builders do (see :mod:`dbldatagen_spark.operators.sqltext`):
in PySpark classic every ``F.*`` call is several py4j round trips, while
one ``selectExpr``, ``F.expr`` or join condition per step is one parse.
Catalyst parses the text into the same expression trees, so optimized
plans and data are unchanged.  Identifiers go through ``sqltext.quote``
and literals through ``sqltext.sql_lit``, which types them as ``F.lit``
does.  No literal in that text carries a backslash, so the kernels read
the same under ``spark.sql.parser.escapedStringLiterals``.
"""

from __future__ import annotations

import re
from typing import List, Optional, Sequence

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from dbldatagen_spark.functions import _materialize
from dbldatagen_spark.functions._hashing import check_hash_mode, md5_60
from dbldatagen_spark.functions._parallel import ensure_parallelism
from dbldatagen_spark.operators.sqltext import quote, sql_lit

# Fixed 64-bit odd constant: the i-th minhash permutation is xxhash64
# salted with an odd multiple of it (see minhash_signature_exprs).
_MH_SEED_A = 0x9E3779B97F4A7C15

# The regex \s+ spelled without a backslash, so the SQL lexer reads it the
# same whatever spark.sql.parser.escapedStringLiterals says; ConstantFolding
# folds it back to the literal '\s+' the Column API puts in the plan.
_WHITESPACE = "concat(chr(92), 's+')"


def normalize_text_expr(text: Column) -> Column:
    """Canonical form for dedup hashing: trim, collapse whitespace, lower."""
    return F.lower(F.regexp_replace(F.trim(text), r"\s+", " "))


def _normalized_sql(text: str) -> str:
    """:func:`normalize_text_expr` as SQL text over the operand ``text``."""
    return f"lower(regexp_replace(trim({text}), {_WHITESPACE}, ' '))"


def exact_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    normalize: bool = True,
    keep: str = "min",
) -> DataFrame:
    """Exact duplicate grouping: one row per distinct content with the
    surviving id and duplicate count.

    Only ``(sha256(text), id)`` enters the shuffle; the full text stays in
    its source partition.
    """
    content = quote(text_col)
    if normalize:
        content = _normalized_sql(content)
    idq = quote(id_col)
    keep_fn = "min" if keep == "min" else "max"
    return (
        df.selectExpr(f"sha2({content}, 256) AS _content_key", idq)
        .groupBy("_content_key")
        .agg(
            F.expr(f"{keep_fn}({idq}) AS {idq}"),
            F.expr("CAST(count(1) AS BIGINT) AS dup_count"),
        )
        .selectExpr(idq, "dup_count")
    )


def word_shingles_expr(text: Column, k: int = 3) -> Column:
    """Distinct k-word shingles of a document as an array<string>.

    Pure expression: split → ``transform`` over a 0..n-k index sequence →
    ``array_distinct``; no UDF. Empty/short docs yield the whole text as a
    single shingle so they still participate.  The ``Column`` twin of
    :func:`_shingles_from_words`, for callers holding a ``Column``; the
    two build the same expression tree.

    Performance caveat: expressions inside higher-order-function lambdas
    are exempt from codegen subexpression elimination, so the ``split``
    here is re-evaluated per element_at — fine for ad-hoc use, but batch
    operators should use :func:`shingled_df`, which materializes the word
    array in its own projection first (~40x fewer regex splits per row).
    """
    words = F.split(F.trim(text), r"\s+")
    idx = F.sequence(F.lit(0), F.greatest(F.size(words) - F.lit(k), F.lit(0)))
    shingle = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ",
            *[
                F.try_element_at(words, (i + F.lit(j + 1)).cast("int"))
                for j in range(k)
            ],
        ),
    )
    return F.array_distinct(shingle)


def _shingles_from_words(words: str, k: int) -> str:
    """SQL text: the distinct k-word shingles of the word array ``words``
    (an operand), as :func:`word_shingles_expr` builds them."""
    # try_element_at: a text shorter than k words indexes past the end
    # (its single truncated shingle comes from concat_ws skipping the
    # NULLs) — plain element_at THROWS there under ANSI mode
    elems = ", ".join(
        f"try_element_at({words}, CAST(x + {j + 1} AS INT))" for j in range(k)
    )
    return (
        f"array_distinct(transform(sequence(0, greatest(size({words}) - {k}, 0)), "
        f"x -> concat_ws(' ', {elems})))"
    )


def shingled_df(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """``(id, shingles)`` DataFrame with the word split materialized in a
    separate projection. Because the word array is referenced multiple
    times downstream, Catalyst's CollapseProject keeps the projections
    apart and the regex split runs exactly once per row."""
    idq = quote(id_col)
    return df.selectExpr(
        idq, f"split(trim({quote(text_col)}), {_WHITESPACE}) AS _words"
    ).selectExpr(idq, f"{_shingles_from_words('_words', k)} AS shingles")


DEFAULT_MAX_CANDIDATE_PAIRS = 50_000_000


def _candidate_density_guard(
    dfreq: DataFrame,
    max_candidate_pairs: Optional[int],
    op_name: str,
) -> None:
    """Loud self-defense for inverted-index blocking — the fold-guard
    contract applied to pair generation.  The per-posting stop cut
    bounds any SINGLE viral shingle, but an adversarially dense corpus
    (tiny shared vocabulary) reaches near-all-pairs candidate density
    with every posting individually under the cap.  This estimates the
    candidate-pair upper bound as ``sum over kept postings of
    C(df, 2)`` — one count-aggregate over ``dfreq``, the
    document-frequency frame (already cut to kept postings by the
    caller) — and raises with knob guidance instead of silently
    crawling (measured 243 s for 9 true pairs on the PROFILES
    adversarial corpus).  EAGER: runs a Spark job at call time.
    ``max_candidate_pairs=None`` opts out, the explicit
    fold-guard-style escape hatch.
    """
    if max_candidate_pairs is None:
        return
    if max_candidate_pairs < 1:
        raise ValueError(
            f"max_candidate_pairs must be >= 1, got {max_candidate_pairs}"
        )
    est_row = dfreq.agg(
        F.expr("CAST(sum(_df * (_df - 1) / 2) AS BIGINT) AS _est")
    ).collect()[0]
    est = int(est_row["_est"] or 0)
    if est > max_candidate_pairs:
        raise ValueError(
            f"{op_name}: estimated candidate-pair upper bound {est:,} "
            f"exceeds max_candidate_pairs={max_candidate_pairs:,} (sum of "
            f"C(df,2) over kept postings) — the corpus is too dense for "
            f"the current blocking and the verify join would crawl. "
            f"Lower max_posting_len (drops the densest postings from "
            f"blocking only), widen the shingles (larger k) or the sketch "
            f"(larger sketch_k), raise max_candidate_pairs if that join "
            f"cost is intended, or pass max_candidate_pairs=None to opt "
            f"out of this guard."
        )


def _blocked_posting(
    posting: DataFrame,
    key_col: str,
    max_posting_len: Optional[int],
    max_candidate_pairs: Optional[int],
    op_name: str,
) -> DataFrame:
    """Stop cut + density guard over an inverted-index posting frame,
    sharing ONE document-frequency aggregate: the same ``dfreq`` frame
    feeds the guard's eager estimate and the keep-cut join.  When both
    are active the frame is persisted (MEMORY_AND_DISK — LRU-evicted
    and lineage-recoverable, so lost executors recompute rather than
    fail; one row per kept posting key) so the guard job materializes
    what the cut then reads back — without it the full posting shuffle
    would run twice, once for the estimate and once for the cut.  On
    the guard's raise path the frame is unpersisted before the error
    propagates; on the healthy path the returned plan reads it, and
    the cache entry stays until ``spark.catalog.clearCache()`` —
    dropping the result does not free it (pass
    ``max_candidate_pairs=None`` to skip both the eager job and the
    cache).  Returns the blocking posting frame (cut applied when
    requested).
    """
    if max_posting_len is not None and max_posting_len < 2:
        raise ValueError("max_posting_len must be >= 2")
    dfreq = posting.groupBy(key_col).agg(F.expr("count(1) AS _df"))
    key = quote(key_col)
    if max_posting_len is not None:
        dfreq = dfreq.where(f"_df <= {sql_lit(max_posting_len)}")
        if max_candidate_pairs is not None:
            dfreq = dfreq.persist()
            try:
                _candidate_density_guard(dfreq, max_candidate_pairs, op_name)
            except Exception:
                # blocking=True waits for executor-side block removal so
                # the memory is deterministically free before a caller's
                # retry re-persists (the driver's getPersistentRDDs
                # registry is cleared synchronously either way); the
                # unpersist itself is best-effort — an RPC failure (e.g.
                # a lost executor) must not replace the density guard's
                # actionable knob-guidance ValueError
                import contextlib

                with contextlib.suppress(Exception):
                    dfreq.unpersist(blocking=True)
                raise
            return posting.join(dfreq.selectExpr(key), key_col)
    _candidate_density_guard(dfreq, max_candidate_pairs, op_name)
    if max_posting_len is not None:
        return posting.join(dfreq.selectExpr(key), key_col)
    return posting


def _self_pairs(
    frame: DataFrame, keys: Sequence[str], id_col: str, carry: Sequence[str] = ()
) -> DataFrame:
    """``(id_a, id_b, <c>a, <c>b, ...)`` for each ``c`` in ``carry``: the
    equi-self-join of ``frame`` on ``keys`` with ``id_a < id_b``, one row
    per (pair, shared key).  The pair kernel of the dedup family; each
    caller adds its own ``distinct``, count or verification on top."""
    idq = quote(id_col)
    cond = " AND ".join(
        [f"a.{quote(k)} = b.{quote(k)}" for k in keys] + [f"a.{idq} < b.{idq}"]
    )
    return frame.alias("a").join(frame.alias("b"), F.expr(cond)).selectExpr(
        f"a.{idq} AS id_a",
        f"b.{idq} AS id_b",
        *[f"{s}.{quote(c)} AS {quote(c + s)}" for c in carry for s in "ab"],
    )


def _shingle_overlap(
    shingled: DataFrame,
    id_col: str,
    max_posting_len: Optional[int],
    max_candidate_pairs: Optional[int],
    op_name: str,
) -> DataFrame:
    """``(id_a, id_b, n_common, n_a, n_b)``, all ``long``, for every pair of
    a DataFrame of ``(id, shingles: array<string>)`` sharing at least one
    shingle: ``|A ∩ B|``, ``|A|`` and ``|B|`` over the full distinct
    shingle arrays.  Each pair metric of the family (Jaccard,
    containment) is a projection over this one frame.

    Blocking is the inverted index: the posting self-join generates only
    pairs with a common shingle.  ``max_posting_len`` is the stop-shingle
    cut: shingles appearing in more than that many documents are dropped
    from the *blocking* index ONLY — candidate pairs come from the cut
    index, then the counts are computed per candidate from the full
    arrays (``array_intersect``), so the cut affects recall (which pairs
    are considered) but never the measure.  A shingle with a d-document
    posting list contributes d^2 candidate pairs — one viral boilerplate
    phrase at 100 TB is a cartesian explosion; capping bounds
    per-shingle work at cap^2.  Only pairs whose every common shingle is
    that frequent are lost, and such pairs are overwhelmingly
    boilerplate-only matches.

    Precondition: ``id_col`` is unique (it is not checked).  With
    ``max_posting_len=None`` ``n_common`` is a COUNT over the posting
    self-join, so rows sharing an id inflate it and repeat output pairs;
    deduplicate ids first.
    """
    # explode_outer + notnull instead of explode: InferFiltersFromGenerate
    # turns plain explode into a pushed-down size(<array>) > 0 Filter whose
    # predicate INLINES the whole shingle construction — the interpreted
    # shingle pipeline then runs twice, once of it single-threaded below the
    # widening exchange (measured 7.5 s vs 0.3 s for this posting at sf0.1).
    # The outer variant infers nothing; the notnull filter on the GENERATED
    # column replaces the dropped empty-array pruning (shingle arrays never
    # hold null elements), so the rows are identical.  INVARIANT shared by
    # every explode_outer+isNotNull site in this package: the exploded
    # arrays must never contain NULL ELEMENTS (split/transform/arrays_zip
    # outputs never do) — a site whose arrays can hold NULL elements would
    # silently drop rows plain explode kept.  Pinned by
    # tests/test_functions.py::test_explode_outer_null_element_invariant.
    posting = shingled.selectExpr(
        quote(id_col), "explode_outer(shingles) AS _sh"
    ).where("_sh IS NOT NULL")
    blocking = _blocked_posting(
        posting, "_sh", max_posting_len, max_candidate_pairs, op_name
    )
    pairs = _self_pairs(blocking, ["_sh"], id_col)
    if max_posting_len is None:
        # Exact blocking (no stop-shingle cut): the posting self-join
        # emits exactly one row per (pair, common shingle) — shingle
        # arrays are distinct-by-construction — so |intersection| is a
        # plain COUNT over the join.  That removes the full-array
        # array_intersect (an O(|a|+|b|) hash-set probe per candidate
        # pair — 1.1M pairs at sf0.1) and the two joins that carried
        # whole shingle arrays to every pair; the per-side set sizes
        # join back as (id, long) rows instead.  With a posting cut the
        # count would miss common shingles whose posting was trimmed,
        # so the array_intersect path below stays for that mode.  The
        # count aggregate doubles as the pushdown barrier the array
        # path's min() aggregate provides; the residual metric
        # arithmetic is integer scalar math, harmless to re-evaluate.
        common = pairs.groupBy("id_a", "id_b").agg(
            F.expr("CAST(count(1) AS BIGINT) AS n_common")
        )
        sizes = shingled.selectExpr(
            quote(id_col), "CAST(size(shingles) AS BIGINT) AS _n"
        )
        out = common.join(sizes.toDF("id_a", "n_a"), "id_a").join(
            sizes.toDF("id_b", "n_b"), "id_b"
        )
        return out.selectExpr("id_a", "id_b", "n_common", "n_a", "n_b")
    # the per-pair counts live inside an aggregate over the (already
    # unique) pair keys: a predicate cannot push through an Aggregate's
    # non-grouping output, so a caller's threshold filter stays ABOVE this
    # node.  As a plain projection, PushPredicateThroughJoin substituted
    # the filter into the join condition, inlining the full-array
    # intersect — the expensive expression then ran TWICE per candidate
    # pair (once as join condition, once in the project).  Groups are
    # singletons, so min() is the value itself and the extra exchange
    # moves one (pair, 3 longs) row per candidate — bounded by the
    # density guard.
    return (
        pairs.distinct()
        .join(shingled.toDF("id_a", "_sh_a"), "id_a")
        .join(shingled.toDF("id_b", "_sh_b"), "id_b")
        .groupBy("id_a", "id_b")
        .agg(
            F.expr(
                "min(CAST(size(array_intersect(_sh_a, _sh_b)) AS BIGINT)) AS n_common"
            ),
            F.expr("min(CAST(size(_sh_a) AS BIGINT)) AS n_a"),
            F.expr("min(CAST(size(_sh_b) AS BIGINT)) AS n_b"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    threshold: float = 0.7,
    max_posting_len: Optional[int] = 1000,
    max_candidate_pairs: Optional[int] = DEFAULT_MAX_CANDIDATE_PAIRS,
) -> DataFrame:
    """All document pairs with exact k-word-shingle Jaccard >= threshold,
    as ``(id_a, id_b, jaccard)`` with ``id_a < id_b``.

    Blocking = the inverted index itself: only pairs sharing >= 1 shingle
    are generated. The default ``max_posting_len=1000`` (the stop-shingle
    cut — see :func:`_shingle_overlap`) bounds per-shingle candidate work
    at 1000^2: the skew, not the total size, is what hurts at 100 TB, and
    a single viral boilerplate shingle with an unbounded posting list is
    a d^2 cartesian explosion. Pass ``max_posting_len=None`` for exact
    small-corpus runs where every shared shingle must count toward
    blocking; ``minhash_near_duplicates`` is the cheaper path at scale.

    NOTE: the candidate-density guard runs an EAGER count-aggregate
    Spark job at call time (one pass over the document-frequency
    frame, which the stop-cut then reuses via a persisted share);
    pass ``max_candidate_pairs=None`` for a fully lazy plan.

    Precondition: ``id_col`` is unique, unchecked (see
    :func:`_shingle_overlap`).
    """
    shingled = shingled_df(ensure_parallelism(df), id_col, text_col, k)
    overlap = _shingle_overlap(
        shingled, id_col, max_posting_len, max_candidate_pairs,
        "ngram_jaccard_pairs",
    )
    return (
        overlap.selectExpr(
            "*", "round(n_common / (n_a + n_b - n_common), 4) AS jaccard"
        )
        .where(f"jaccard >= {sql_lit(threshold)}")
        .selectExpr("id_a", "id_b", "jaccard")
    )


def minhash_signature_exprs(
    shingles: Column, num_hashes: int, *, pre_hashed: bool = False
) -> List[Column]:
    """``num_hashes`` minhash values: the i-th "permutation" is
    ``xxhash64(salt_i, shingle)`` and the signature entry is its min over
    the shingle set. Salted rehashing (instead of the classic ``a*h+b``
    Carter–Wegman form) keeps the arithmetic ANSI-mode-safe — no 64-bit
    wraparound multiply — and stays entirely JVM-side.

    ``pre_hashed=True`` means ``shingles`` is already an array<long> of
    base hashes — each permutation then hashes 8-byte longs instead of
    re-hashing full shingle strings, which is the difference between
    O(num_hashes · total_text_bytes) and O(num_hashes · 8) per shingle.
    """
    def _salted(salt: int):
        # single-arg lambda: a two-arg lambda would make PySpark's
        # ``transform`` bind the second parameter to the array index
        return lambda s: F.xxhash64(F.lit(salt), s)

    base = shingles if pre_hashed else F.transform(shingles, lambda s: F.xxhash64(s))
    return [
        F.array_min(F.transform(base, _salted(_mh_salt(i)))).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]


def _mh_salt(i: int) -> int:
    return ((2 * i + 1) * _MH_SEED_A) & ((1 << 63) - 1)


def _minhash_band_exprs(hash_col: str, num_hashes: int, bands: int):
    """``(signature, band_keys)`` as SQL text: the signature array of the
    pre-hashed :func:`minhash_signature_exprs` over ``hash_col``, and one
    bucket key per band, ``xxhash64(band index, that band's _sig
    entries)`` — which reads the signature as ``_sig``, so it goes in a
    projection above the signature's.

    Built from Column objects they cost a few py4j calls per hash and
    band element (~3,200 for one 64-hash call).  ``xxhash64`` hashes
    ``int`` and ``bigint`` differently; the SQL parser types an
    unsuffixed integer as ``F.lit`` does (``int`` inside the int32 range,
    ``bigint`` outside), so the keys stay bit-identical — pinned by a golden-value test, since any
    drift would move every LSH bucket."""
    rows = num_hashes // bands
    sig = ", ".join(
        f"array_min(transform({quote(hash_col)}, s -> xxhash64({_mh_salt(i)}, s)))"
        for i in range(num_hashes)
    )
    keys = ", ".join(
        f"xxhash64({b}, "
        + ", ".join(f"element_at(_sig, {b * rows + r + 1})" for r in range(rows))
        + ")"
        for b in range(bands)
    )
    return f"array({sig})", f"array({keys})"


def _hashed_shingles(
    df: DataFrame, id_col: str, text_col: str, k: int, id_out: str, hash_out: str
) -> DataFrame:
    """``(id_out, hash_out)``: each doc's distinct k-shingles, each string
    hashed exactly once; the separate projection is a CollapseProject
    barrier (the hash array is referenced num_hashes times)."""
    return shingled_df(ensure_parallelism(df), id_col, text_col, k).selectExpr(
        f"{quote(id_col)} AS {quote(id_out)}",
        f"transform(shingles, x -> xxhash64(x)) AS {quote(hash_out)}",
    )


def _lsh_buckets(
    hashed: DataFrame, id_col: str, hash_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """``(id_col, _band, _key)`` rows: one LSH bucket key per band of
    each row's MinHash signature (see :func:`_minhash_band_exprs`)."""
    sig, band_keys = _minhash_band_exprs(hash_col, num_hashes, bands)
    idq = quote(id_col)
    # one array column, not num_hashes columns: >100 output fields would
    # trip spark.sql.codegen.maxFields and silently drop whole-stage
    # codegen.  Separate projections: _sig is referenced num_hashes times,
    # so CollapseProject keeps the signature evaluated once per row
    return (
        hashed.selectExpr(idq, f"{sig} AS _sig")
        .selectExpr(idq, f"posexplode_outer({band_keys}) AS (_band, _key)")
        .where("_key IS NOT NULL")
    )


def query_shingles(text: str, k: int = 3) -> List[str]:
    """Driver-side twin of :func:`shingled_df`'s shingle construction
    for ONE query string: k-word shingles over a whitespace split,
    distinct, first-occurrence order.  Texts shorter than ``k`` words
    produce their single truncated shingle, matching the expression
    path (``concat_ws`` skips the NULLs past the end)."""
    words = [w for w in re.split(r"\s+", text.strip()) if w]
    if not words:
        return []
    out: List[str] = []
    seen = set()
    for i in range(max(len(words) - k, 0) + 1):
        s = " ".join(words[i:i + k])
        if s not in seen:
            seen.add(s)
            out.append(s)
    return out


def jaccard_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_text: str,
    *,
    k: int = 3,
    top_k: int = 10,
) -> DataFrame:
    """Top-``top_k`` documents by EXACT k-word-shingle Jaccard against
    ONE query text — shingle search, the retrieval twin of
    :func:`ngram_jaccard_pairs` (which finds all high pairs; this
    ranks the corpus against a single probe — contamination lookups,
    "find the source of this quote", near-dup triage).

    Scale shape: the query's shingles are a LITERAL array in the plan,
    so each document's intersection is per-row array arithmetic
    against a constant — map-only, no join, no shuffle of anything;
    ``orderBy ... limit`` plans as a per-partition top-k
    (TakeOrderedAndProject), so the corpus streams through once even
    at 100 TB.  Returns ``(id, n_common, jaccard)`` with the portable
    round-4 ratio and id tiebreak.
    """
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")
    qsh = query_shingles(query_text, k)
    if not qsh:
        raise ValueError("query_text has no words to shingle")
    qarr = F.array(*[F.lit(s) for s in qsh])
    shingled = shingled_df(ensure_parallelism(df), id_col, text_col, k)
    inter = F.size(F.array_intersect(F.col("shingles"), qarr)).cast("long")
    # the n_common > 0 cut rides an aggregate over the (unique) doc ids:
    # as a plain filter, pushdown substitutes the whole intersect AND the
    # shingle construction into a predicate BELOW ensure_parallelism's
    # round-robin exchange — the entire pipeline then re-runs single-
    # threaded against the raw text (measured 8.5 s vs 0.3 s at sf0.1).
    # Singleton groups, so min() is the value itself; the exchange moves
    # one (id, long, double) row per doc ahead of the top-k.
    out = (
        shingled.groupBy(F.col(id_col))
        .agg(
            F.min(inter).alias("n_common"),
            F.min(
                F.round(
                    inter / (F.size("shingles") + F.lit(len(qsh)) - inter), 4
                )
            ).alias("jaccard"),
        )
        .where(F.col("n_common") > 0)
    )
    return out.orderBy(F.desc("jaccard"), F.col(id_col)).limit(top_k)


def lsh_tune(
    threshold: float,
    *,
    num_hashes: int = 128,
    target_recall: float = 0.95,
):
    """Derive ``(bands, rows_per_band)`` from a target Jaccard
    threshold via the banded-LSH s-curve (Leskovec, Rajaraman &
    Ullman, *Mining of Massive Datasets* §3.4.3): with ``r`` rows per
    band and ``b`` bands, a pair of Jaccard ``s`` collides in at least
    one band with probability ``1 - (1 - s^r)^b``.

    Among the divisor pairs ``b * r = num_hashes`` this picks the
    LARGEST ``r`` whose recall at ``threshold`` still meets
    ``target_recall`` — the sharpest s-curve, hence the fewest
    sub-threshold false-positive candidates.  That is the knob that
    matters at 100 TB: every candidate is a row in the verification
    join, so a lazily-flat curve (small ``r``) buries the cluster in
    boilerplate-pair verification work, while an over-sharp curve
    silently drops true pairs.  Falls back to ``r=1`` (maximum recall)
    if no divisor pair meets the target.

    Returns ``(bands, rows_per_band, recall_at_threshold, midpoint)``
    where ``midpoint = (1/b)^(1/r)`` is the similarity at which the
    curve crosses ~63% collision probability.  When a divisor pair
    meets the recall target, the chosen curve BRACKETS the threshold:
    ``midpoint <= threshold`` and ``recall_at_threshold >=
    target_recall``.  The ``r=1`` fallback (no divisor pair meets the
    target — very low thresholds or few hashes) is best-effort only:
    it is the maximum-recall curve available, but its recall can still
    sit below ``target_recall`` and its midpoint above ``threshold``,
    so callers should check the returned recall when tuning near the
    extremes.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if not 0.0 < target_recall < 1.0:
        raise ValueError(
            f"target_recall must be in (0, 1), got {target_recall}"
        )
    if num_hashes < 1:
        raise ValueError(f"num_hashes must be >= 1, got {num_hashes}")
    chosen = None
    for r in range(num_hashes, 0, -1):
        if num_hashes % r != 0:
            continue
        b = num_hashes // r
        recall = 1.0 - (1.0 - threshold ** r) ** b
        if recall >= target_recall:
            chosen = (b, r, recall)
            break
    if chosen is None:
        # no divisor pair met the target; fall back to r=1 (b bands of
        # one row), the maximum-recall curve num_hashes can express —
        # best-effort, may still miss the recall target (docstring)
        b, r = num_hashes, 1
        chosen = (b, r, 1.0 - (1.0 - threshold) ** b)
    b, r, recall = chosen
    midpoint = (1.0 / b) ** (1.0 / r)
    return b, r, recall, midpoint


def _verified_jaccard(
    candidates: DataFrame, left: DataFrame, right: DataFrame, threshold: float
) -> DataFrame:
    """Candidate pairs ``(ka, kb)`` whose round-4 Jaccard over the
    shingle-hash sets of ``left = (ka, ha)`` and ``right = (kb, hb)``
    reaches ``threshold``, as ``(ka, kb, jaccard)``.  Jaccard over 64-bit
    hashes equals Jaccard over the strings up to vanishing collision
    probability, and long-array intersection is far cheaper.

    Aggregate barrier over the unique candidate keys (see
    _shingle_overlap): keeps the threshold filter from being substituted
    into the join condition, where it re-evaluated the hash-array
    intersect+union once more per candidate.  Singleton groups, so
    min() is the value itself."""
    (ka, ha), (kb, hb) = left.columns, right.columns
    ha, hb = quote(ha), quote(hb)
    return (
        candidates.join(left, ka)
        .join(right, kb)
        .groupBy(ka, kb)
        .agg(
            F.expr(
                f"min(round(size(array_intersect({ha}, {hb})) / "
                f"size(array_union({ha}, {hb})), 4)) AS jaccard"
            )
        )
        .where(f"jaccard >= {sql_lit(threshold)}")
        .selectExpr(quote(ka), quote(kb), "jaccard")
    )


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    num_hashes: int = 64,
    bands=32,
    threshold: float = 0.7,
    verify: bool = True,
    cache: bool = True,
    max_bucket_len: Optional[int] = None,
) -> DataFrame:
    """MinHash + banded LSH candidate generation, then (by default) exact
    Jaccard verification of candidates.

    ``max_bucket_len`` caps band-bucket population (the LSH analogue of
    the stop-shingle cut): a bucket holding d docs emits d^2/2 candidate
    pairs, and heavily templated corpora produce megadoc buckets. Docs in
    an over-full bucket still pair through their other ``bands - 1``
    buckets, so recall degrades gracefully rather than work exploding
    quadratically.

    With ``bands=32`` over 64 hashes (2 rows/band), recall at J=0.7 is
    1-(1-0.7^2)^32 ≈ 1-5e-10 — the verified output is the exact
    >=threshold pair set with near-certainty, while candidate generation
    shuffles only (band_key, id) pairs.

    Cost note: signature evaluation is interpreted (Spark never codegens
    higher-order functions), so it scales with num_hashes x shingles; 64
    hashes is the sweet spot between that cost and band recall.

    ``bands="auto"`` derives the banding from the threshold via
    :func:`lsh_tune` (s-curve bracketing at the default 0.95 recall
    target) instead of hand-picking.
    """
    if bands == "auto":
        bands, _r, _, _ = lsh_tune(threshold, num_hashes=num_hashes)
    if num_hashes % bands != 0:
        raise ValueError(f"bands ({bands}) must divide num_hashes ({num_hashes})")
    hashed = _hashed_shingles(df, id_col, text_col, k, id_col, "_shash")
    if verify and cache:
        # the (id, hash-array) projection feeds the signature pass AND both
        # sides of the verification join — persisting it turns three full
        # text scans + shingle builds into one. It holds only 8-byte hashes
        # (~shingles x 8B per doc, no text), and MEMORY_AND_DISK spills
        # rather than OOMs, so the tradeoff holds at cluster scale; pass
        # cache=False to keep the operator fully stateless.
        hashed = hashed.persist()
    buckets = _lsh_buckets(hashed, id_col, "_shash", num_hashes, bands)
    if max_bucket_len is not None:
        if max_bucket_len < 2:
            raise ValueError("max_bucket_len must be >= 2")
        keep = (
            buckets.groupBy("_band", "_key")
            .agg(F.expr("count(1) AS _n"))
            .where(f"_n <= {sql_lit(max_bucket_len)}")
            .selectExpr("_band", "_key")
        )
        buckets = buckets.join(keep, ["_band", "_key"])
    candidates = _self_pairs(buckets, ["_band", "_key"], id_col).distinct()
    if not verify:
        return candidates
    return _verified_jaccard(
        candidates, hashed.toDF("id_a", "_sh_a"), hashed.toDF("id_b", "_sh_b"),
        threshold,
    )


def simhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """SimHash per document, pure expressions.

    bit_j(doc) = 1 if sum over tokens of sign(bit_j(hash(token))) > 0.
    Computed as conditional sums over the exploded-free token array via
    ``aggregate`` — stays in codegen; no UDF, no shuffle.

    ``token_hash``: ``xxhash64`` (default, 64-bit signature) or ``md5``
    (60 bits from the md5 hex prefix — slower, but recomputable by any
    engine with an md5 function, which makes the signatures portable
    across systems and oracle-checkable).
    """
    check_hash_mode(token_hash, "token_hash")
    df = ensure_parallelism(df)
    tokens = F.array_distinct(F.split(normalize_text_expr(F.col(text_col)), " "))
    if token_hash == "md5":
        hashes = F.transform(tokens, md5_60)
        return df.select(
            F.col(id_col), _simhash_from_hashes(hashes, 60).alias("simhash")
        )
    hashes = F.transform(tokens, lambda t: F.xxhash64(t))
    return df.select(
        F.col(id_col), _simhash_from_hashes(hashes, 64).alias("simhash")
    )


def _simhash_from_hashes(hashes: Column, n_bits: int) -> Column:
    """Majority-vote signature over the low ``n_bits`` of per-token hashes.
    Below 64 bits the signature is a non-negative bigint; at 64, bit 63
    carries the two's-complement weight ``-(1 << 63)``."""
    bit_cols = []
    for j in range(n_bits):
        contrib = F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc
            + F.when(
                F.shiftrightunsigned(h, j).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1),
        )
        bit = F.when(contrib > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        bit_cols.append(bit * F.lit(1 << j if j < 63 else -(1 << 63)))
    sim = bit_cols[0]
    for c in bit_cols[1:]:
        sim = sim + c
    return sim


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_hamming: int = 3,
) -> DataFrame:
    """Pairs whose :func:`simhash_signatures` are within ``max_hamming``
    bits, as ``(id_a, id_b, hamming)`` with ``id_a < id_b``: the banded
    :func:`hamming_near_duplicates` kernel with 4 16-bit bands.  By
    pigeonhole a pair within 3 bits agrees on at least one band, so the
    output is exactly the all-pairs answer; ``max_hamming >= 4`` would
    silently miss pairs and raises ``ValueError`` instead."""
    return hamming_near_duplicates(
        simhash_signatures(df, id_col, text_col), id_col, "simhash",
        max_hamming=max_hamming, bands=4,
    )


# The exact all-pairs path screens candidate pairs with a blocked
# vectorized cosine before the bit-exact interpreted fold re-verifies
# survivors.  Screen threshold margin: a pair qualifies in the exact
# tail iff round(cos_fold, 4) >= threshold, which (HALF_UP at 4
# decimals) requires cos_fold >= threshold - 5e-5.  Every product
# a_i*b_i of two float32-origin doubles is EXACT in float64 (24-bit
# mantissas -> 48-bit product < 53), so the screen's reordered sum and
# the fold's sequential sum differ only by summation order of exactly
# representable terms: |sum_np - sum_fold| <= 2 * n * eps * ||a||*||b||
# (Cauchy-Schwarz over |a_i b_i|), i.e. |cos_np - cos_fold| < 1e-13 at
# n = 64.  The 1e-4 margin therefore can NEVER drop a qualifying pair;
# false positives only cost the exact tail a few extra folds.
_SCREEN_MARGIN = 1e-4
_SCREEN_BLOCKS = 16  # B(B+1)/2 = 136 block-pair tasks; replication = B


def _allpairs_cosine_screen(
    base: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Candidate ``(id_a, id_b)`` pairs whose cosine can possibly reach
    ``threshold``, computed by a blocked all-pairs numpy matmul inside
    ``applyInPandas`` (guide §4.2: batches to vectorized native code)
    instead of 64-term interpreted folds per pair.

    LOSSLESS by construction: candidates are a superset of the exact
    tail's qualifying pairs (margin proof above), the exact fold then
    recomputes every survivor bit-identically.  Each vector is
    replicated to the ``B(B+1)/2`` block-pair groups it participates
    in (deterministic ``xxhash64`` block key, guide §2.5), so the
    shuffle moves ``n * B`` small rows and no group ever holds more
    than two blocks.  Groups whose vectors are ragged/NULL fall back
    to emitting every pair (over-inclusion is always safe; NULL and
    cross-length pairs can never out-qualify the fold anyway), and
    NaN screen cosines are kept because Spark orders NaN above every
    double (``NaN >= t`` is true in the exact tail).
    """
    from pyspark.sql.types import StructField, StructType

    id_type = base.schema[base.schema.fieldNames().index(id_col)].dataType
    out_schema = StructType(
        [StructField("id_a", id_type), StructField("id_b", id_type)]
    )
    B = _SCREEN_BLOCKS
    screen_thr = float(threshold) - _SCREEN_MARGIN

    def _screen(pdf):
        import numpy as np

        ids = pdf["_id"].tolist()
        vecs = pdf["_v"].tolist()
        blks = pdf["_blk"].to_numpy()
        bi = int(pdf["_bi"].iat[0])
        bj = int(pdf["_bj"].iat[0])
        ia = np.flatnonzero(blks == bi)
        ib = ia if bi == bj else np.flatnonzero(blks == bj)
        lens = {len(v) for v in vecs if v is not None}
        uniform = len(lens) == 1 and all(v is not None for v in vecs)
        out_a: list = []
        out_b: list = []
        if not uniform:
            # ragged/NULL block: emit every ordered pair (superset)
            for p, r in enumerate(ia):
                for q, s in enumerate(ib):
                    if bi == bj and q <= p:
                        continue
                    if ids[r] is not None and ids[s] is not None:
                        if ids[r] < ids[s]:
                            out_a.append(ids[r])
                            out_b.append(ids[s])
                        elif ids[s] < ids[r]:
                            out_a.append(ids[s])
                            out_b.append(ids[r])
            import pandas as pd

            return pd.DataFrame({"id_a": out_a, "id_b": out_b})
        M = np.asarray(vecs, dtype=np.float64)
        norms = np.sqrt((M * M).sum(axis=1))
        A, Bm = M[ia], M[ib]
        na, nb = norms[ia], norms[ib]
        ids_a = [ids[r] for r in ia]
        ids_b = [ids[s] for s in ib]
        # strip-chunk the matmul so task memory stays bounded at the
        # documented ~1e5-vector viability cap of this path
        step = 2048
        for lo in range(0, len(ia), step):
            hi = min(lo + step, len(ia))
            dot = A[lo:hi] @ Bm.T
            denom = np.outer(na[lo:hi], nb)
            with np.errstate(invalid="ignore", divide="ignore"):
                cos = np.where(denom > 0, dot / denom, 0.0)
            keep = (cos >= screen_thr) | np.isnan(cos)
            if bi == bj:
                # same frame on both sides: strict upper triangle so
                # each unordered row pair is considered exactly once
                keep &= (
                    np.arange(lo, hi)[:, None]
                    < np.arange(len(ib))[None, :]
                )
            for r, s in zip(*np.nonzero(keep)):
                u, w = ids_a[lo + r], ids_b[s]
                if u is None or w is None:
                    continue
                if u < w:
                    out_a.append(u)
                    out_b.append(w)
                elif w < u:
                    out_a.append(w)
                    out_b.append(u)
        import pandas as pd

        return pd.DataFrame({"id_a": out_a, "id_b": out_b})

    rep = base.select(
        F.col(id_col).alias("_id"),
        F.col("_v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(B)).cast("int").alias("_blk"),
        F.explode(F.array(*[F.lit(t) for t in range(B)])).alias("_t"),
    ).where(F.col("_id").isNotNull())
    keyed = rep.select(
        "_id",
        "_v",
        "_blk",
        F.least("_blk", "_t").alias("_bi"),
        F.greatest("_blk", "_t").alias("_bj"),
    )
    # an unordered pair lives in exactly one block-pair group, and both
    # sides emit it in (least, greatest) id order -> candidates unique
    return keyed.groupBy("_bi", "_bj").applyInPandas(_screen, out_schema)


def embedding_near_duplicates(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    threshold: float = 0.95,
    bucketed: bool = True,
    num_planes: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Pairs with cosine similarity >= threshold.

    The default ``bucketed=True`` first blocks by a random-hyperplane
    LSH signature (pairs must agree on one of 2 half-signatures —
    near-certain for cosine >= 0.95) so the pairwise step is per-bucket
    and the plan stays bounded at corpus scale. Pass ``bucketed=False``
    for the exact O(n^2) all-pairs path — correct at any threshold but
    only viable up to ~1e5 vectors; at lower thresholds where LSH recall
    drops, either raise ``num_planes`` or accept the exact path's cost.
    """
    from dbldatagen_spark.functions.similarity import (
        dot_expr,
        hyperplane_signature_expr,
        norm_expr,
    )

    # norms computed ONCE per row, before pairing: per-pair work is then
    # a single dot fold instead of dot + two norm folds — higher-order
    # functions evaluate interpreted, so on the exact all-pairs path the
    # per-pair pass count is the whole cost (measured 275 s -> 60 s at
    # 2000 vectors x 64 dims).  Bit-identical to folding norms per pair:
    # same per-component addition order, same sqrt, same product.
    base = df.select(
        F.col(id_col),
        F.col(vec_col).alias("_v"),
        norm_expr(F.col(vec_col)).alias("_n"),
    )
    if bucketed:
        sig = base.withColumn(
            "_sig", hyperplane_signature_expr(F.col("_v"), num_planes, seed)
        )
        half = num_planes // 2
        banded = sig.select(
            F.col(id_col),
            F.col("_v"),
            F.col("_n"),
            F.posexplode(
                F.array(
                    F.shiftrightunsigned(F.col("_sig"), half),
                    F.col("_sig").bitwiseAND(F.lit((1 << half) - 1)),
                )
            ).alias("_band", "_key"),
        )
        pairs = _self_pairs(
            banded, ["_band", "_key"], id_col, carry=["_v", "_n"]
        )
    else:
        cand = _allpairs_cosine_screen(base, id_col, threshold)
        a = base.select(
            F.col(id_col).alias("id_a"),
            F.col("_v").alias("_va"),
            F.col("_n").alias("_na"),
        )
        b = base.select(
            F.col(id_col).alias("id_b"),
            F.col("_v").alias("_vb"),
            F.col("_n").alias("_nb"),
        )
        pairs = cand.join(a, "id_a").join(b, "id_b")
    denom = F.col("_na") * F.col("_nb")
    cos = F.when(
        denom > 0, dot_expr(F.col("_va"), F.col("_vb")) / denom
    ).otherwise(F.lit(0.0))
    # the cosine lives inside an aggregate over the pair keys, which is
    # simultaneously (a) the band-collision dedup the bucketed path's
    # .distinct() used to do — but shuffling one (pair, double) row
    # instead of both full vectors — and (b) a pushdown barrier: as a
    # plain projection, the threshold filter was substituted into the
    # join condition and the interpreted dot fold ran TWICE per
    # candidate pair (join condition + project).  A pair colliding in
    # both bands folds the dot twice map-side (same vectors, so min()
    # of identical values — bit-identical output); the old plan paid
    # that double fold for EVERY pair via the pushed-down predicate.
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(F.min(F.round(cos, 4)).alias("cosine"))
        .where(F.col("cosine") >= F.lit(threshold))
        .select("id_a", "id_b", "cosine")
    )


def _ngram_word_arr(text_col: str) -> Column:
    """The n-gram family's shared word model (lowercase whitespace
    tokens, empty tokens filtered) — ONE definition so
    :func:`ngram_contamination` and :func:`ngram_novelty` can never
    silently diverge.  The empty-token filter matters at the edges:
    splitting on ``\\s+`` yields an empty first/last element when the
    text starts/ends with ANY whitespace (tab, newline — ``trim``
    alone only strips 0x20), and an unfiltered empty token would
    shift every gram by one position."""
    return F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"),
        lambda w: w != "",
    )


def _ngram_hash_postings(
    frame: DataFrame, id_col: str, text_col: str, n: int, with_id: bool
) -> DataFrame:
    """The n-gram family's shared postings builder — per-document
    DISTINCT 64-bit gram hashes over the :func:`_ngram_word_arr` word
    model, exploded to ``(_gh)`` or ``(id, _gh)`` rows.  ONE
    definition (used by :func:`ngram_contamination`,
    :func:`ngram_novelty`, and :func:`cross_snapshot_novelty`) so the
    gram separator, index arithmetic, and the ``>= n`` short-doc
    guard can never silently diverge across the family — the same
    reason the word model itself is shared."""
    words = _ngram_word_arr(text_col)
    # the >= n short-doc guard rides the gram construction as a WHEN
    # over the materialized _w column instead of a row filter: a
    # .where(size(_w) >= n) here is pushed below this projection with
    # the whole word split INLINED into the predicate, so the
    # interpreted split+filter ran twice per document against the raw
    # text.  Short docs now produce a NULL gram array, which the
    # existing isNotNull filter on the GENERATED column drops — the
    # same rows, one word-split pass.
    with_words = ensure_parallelism(frame).select(
        *([F.col(id_col)] if with_id else []), words.alias("_w")
    )
    idx = F.sequence(F.lit(0), F.size(F.col("_w")) - F.lit(n))
    g = F.transform(
        idx,
        lambda i: F.xxhash64(
            F.concat_ws(
                " ",
                *[
                    F.element_at(
                        F.col("_w"), (i + F.lit(j + 1)).cast("int")
                    )
                    for j in range(n)
                ],
            )
        ),
    )
    gated = F.when(
        F.size(F.col("_w")) >= F.lit(n), F.array_distinct(g)
    )
    cols = [F.explode_outer(gated).alias("_gh")]
    if with_id:
        cols.insert(0, F.col(id_col))
    return with_words.select(*cols).where(F.col("_gh").isNotNull())


def ngram_contamination(
    train: DataFrame,
    test: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 8,
    min_shared: int = 1,
) -> DataFrame:
    """Train/test contamination check: test documents sharing >=
    ``min_shared`` distinct word n-grams with ANY train document —
    the decontamination filter every eval-aware training pipeline runs.

    Scale shape: both sides reduce to ``(ngram_hash)`` / ``(ngram_hash,
    id)`` postings before the only shuffle — an 8-byte-key equi-join;
    document bodies never move. The train side deduplicates its grams
    first (distinct hash set, typically ≪ corpus size), and the final
    count groups by test id. Quadratic blowup is impossible: the join
    output is bounded by (test grams) x (membership bit), not by
    train x test.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    train_grams = _ngram_hash_postings(
        train, id_col, text_col, n, with_id=False
    ).distinct()
    test_grams = _ngram_hash_postings(test, id_col, text_col, n, with_id=True)
    return (
        test_grams.join(train_grams, "_gh")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_ngrams"))
        .where(F.col("n_shared_ngrams") >= min_shared)
    )


def ngram_novelty(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 8,
    df_threshold: int = 2,
) -> DataFrame:
    """Corpus-internal n-gram commonness per document — the
    boilerplate / memorization-risk quality signal: what fraction of
    a document's distinct word n-grams also appear in at least
    ``df_threshold`` corpus documents (the document itself included,
    so the default 2 means "shared with any OTHER document").  A
    page whose grams are mostly corpus-common is template/boilerplate
    or a near-copy the dedup pass missed; a training pipeline
    down-weights or drops it.  The complement of this ratio is the
    document's novelty.

    Same word/gram model as :func:`ngram_contamination` (shared
    :func:`_ngram_word_arr`: lowercase whitespace tokens with empty
    tokens filtered, n-word grams, per-document DISTINCT): per
    document ``n_grams`` (distinct grams), ``n_common`` (those with
    corpus document frequency >= ``df_threshold``), and
    ``common_ratio`` — ONE fixed-form IEEE division
    ``n_common / n_grams``, NULL (not 0) for documents shorter than
    ``n`` words, so every cell replays bit-for-bit on any engine.
    Exact counting by 64-bit gram hash: collisions conflate grams at
    ~2^-64 per pair (the same accepted trade every hash-postings op
    in this module makes; the oracle replays with raw gram strings).

    Scale shape: the corpus reduces map-side to per-document DISTINCT
    ``(gram_hash, id)`` postings before anything shuffles — document
    bodies never move; gram document frequency is ONE
    map-side-combined count over 8-byte keys; the postings-to-
    frequency equi-join is gram-keyed (hot boilerplate grams are
    exactly the skew AQE's join splitting handles, and the join
    output is bounded by the postings count, never quadratic); the
    per-document rollup is one id-keyed aggregate.  The postings
    subtree feeds both join sides through the SAME gram-keyed
    exchange, which Spark reuses rather than recomputing.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if df_threshold < 1:
        raise ValueError(
            f"df_threshold must be >= 1, got {df_threshold}"
        )
    pairs = _ngram_hash_postings(df, id_col, text_col, n, with_id=True)
    dfreq = pairs.groupBy("_gh").agg(
        F.count(F.lit(1)).cast("long").alias("_df")
    )
    per_doc = (
        pairs.join(dfreq, "_gh")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(
                F.when(F.col("_df") >= df_threshold, 1).otherwise(0)
            ).cast("long").alias("n_common"),
        )
    )
    # short documents (< n words) carry 0 grams and a NULL ratio
    return (
        df.select(F.col(id_col))
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_grams"), F.lit(0).cast("long")).alias(
                "n_grams"
            ),
            F.coalesce(F.col("n_common"), F.lit(0).cast("long")).alias(
                "n_common"
            ),
            F.when(
                F.col("n_grams").isNotNull() & (F.col("n_grams") > 0),
                F.col("n_common").cast("double")
                / F.col("n_grams").cast("double"),
            ).alias("common_ratio"),
        )
    )


def cross_snapshot_novelty(
    df: DataFrame,
    prior: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 8,
    prior_df_threshold: int = 1,
) -> DataFrame:
    """What changed since the last crawl — per-document n-gram overlap
    of the CURRENT snapshot against a PRIOR corpus snapshot (the
    freshness signal of incremental web curation, and the
    cross-snapshot sibling of :func:`ngram_novelty`'s corpus-internal
    commonness): for each current document, the fraction of its
    distinct word n-grams already present in at least
    ``prior_df_threshold`` prior-snapshot documents.  An unchanged
    page scores ``seen_ratio`` 1.0 (pure re-crawl cost, skip it); a
    genuinely new page scores near 0 (the content worth ingesting);
    boilerplate re-skins land in between.  The
    :func:`dedup_incremental` precedent, at gram rather than document
    granularity.

    Same word/gram model as the n-gram family (shared
    :func:`_ngram_word_arr`: lowercase whitespace tokens with empty
    tokens filtered, n-word grams, per-document DISTINCT).  Per
    current document: ``n_grams``, ``n_seen`` (grams meeting the
    prior-frequency cut), and ``seen_ratio`` — ONE fixed-form IEEE
    division ``n_seen / n_grams``, NULL (not 0) for documents shorter
    than ``n`` words.  Exact counting by 64-bit gram hash (the same
    accepted ~2^-64 collision trade as every hash-postings op here;
    the oracle replays with raw gram strings).

    Scale shape: BOTH snapshots reduce map-side to 8-byte gram-hash
    postings before the only shuffle — document bodies never move.
    The prior side collapses to its DISTINCT gram set (no ids travel
    when ``prior_df_threshold`` is 1, the common case; above 1 a
    per-document-distinct posting count runs first, one
    map-side-combined aggregate), the postings-to-prior equi-join is
    gram-keyed (hot boilerplate grams are the skew AQE join splitting
    handles; join output bounded by the CURRENT postings count, never
    |prior| x |current|), and the per-document rollup is one id-keyed
    aggregate.  Cost is data-proportional in the two snapshots'
    distinct-gram volumes — same honest profile as
    :func:`ngram_novelty`.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if prior_df_threshold < 1:
        raise ValueError(
            f"prior_df_threshold must be >= 1, got {prior_df_threshold}"
        )
    if prior_df_threshold == 1:
        seen = _ngram_hash_postings(
            prior, id_col, text_col, n, with_id=False
        ).distinct()
    else:
        seen = (
            _ngram_hash_postings(prior, id_col, text_col, n, with_id=True)
            .groupBy("_gh")
            .agg(F.count(F.lit(1)).cast("long").alias("_pdf"))
            .where(F.col("_pdf") >= prior_df_threshold)
            .select("_gh")
        )
    cur = _ngram_hash_postings(df, id_col, text_col, n, with_id=True)
    per_doc = (
        cur.join(seen.withColumn("_hit", F.lit(1)), "_gh", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
            .cast("long")
            .alias("n_seen"),
        )
    )
    return (
        df.select(F.col(id_col))
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_grams"), F.lit(0).cast("long")).alias(
                "n_grams"
            ),
            F.coalesce(F.col("n_seen"), F.lit(0).cast("long")).alias(
                "n_seen"
            ),
            F.when(
                F.col("n_grams").isNotNull() & (F.col("n_grams") > 0),
                F.col("n_seen").cast("double")
                / F.col("n_grams").cast("double"),
            ).alias("seen_ratio"),
        )
    )


def duplicate_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 25,
    checkpoint_dir: Optional[str] = None,
) -> DataFrame:
    """Collapse a near-duplicate *pair* set into duplicate *clusters*:
    returns ``(vertex, component)`` where ``component`` is the smallest
    doc id reachable through the pair graph — the canonical representative
    every dedup pipeline keeps.

    Algorithm: iterative min-label propagation with pointer jumping,
    converging in O(log diameter) rounds. The initial label is already
    one hop along: the min of a vertex's own id and its neighbors' ids.
    Each round a vertex takes the min of its label and its neighbors'
    labels, then jumps through the previous round's (materialized)
    label of that min. Every round shuffles only ``(long, long)`` label
    pairs — never documents — and a checkpoint truncates the lineage so
    plan size stays constant across iterations (without it, iteration k
    re-plans all k-1 predecessors; at cluster scale that serializes the
    driver). Near-dup graphs have tiny diameters (dup clusters are
    near-cliques): on a clique the initial labels are final and one
    confirming round runs; ``max_iterations`` only guards pathological
    chains; a run it cuts off has had the initial hop on top of its
    ``max_iterations`` rounds, one hop more than the cap suggests.
    Convergence costs no job of its own: an ``Observation`` on each
    round's frame counts the changed labels while that round's
    checkpoint materializes it.  Each superseded round checkpoint is
    released once the next is materialized, and the persisted edges on
    every path; only the returned frame's checkpoint stays.

    Checkpointing: ``checkpoint_dir=None`` takes ``localCheckpoint``s;
    a path takes reliable checkpoints under it for the duration of the
    call, scoped as :func:`~dbldatagen_spark.functions._materialize
    .checkpoint_dir` describes (no session-level side effect remains).
    """
    with _materialize.checkpoint_dir(pairs.sparkSession, checkpoint_dir) as reliable:
        return _propagate_components(pairs, id_a, id_b, max_iterations, reliable)


def _propagate_components(
    pairs: DataFrame,
    id_a: str,
    id_b: str,
    max_iterations: int,
    reliable: bool,
) -> DataFrame:
    """Min-label propagation loop of :func:`duplicate_components`."""
    edges = pairs.selectExpr(f"{quote(id_a)} AS src", f"{quote(id_b)} AS dst")
    # no distinct: a duplicate edge cannot change a min
    edges = edges.union(edges.selectExpr("dst AS src", "src AS dst")).persist()
    labels = None
    try:
        # the first neighbor-min hop doubles as the vertex scan
        labels = _materialize.checkpoint(
            edges.groupBy("src")
            .agg(F.expr("min(dst) AS _nbr_min"))
            .selectExpr("src AS vertex", "least(src, _nbr_min) AS component"),
            reliable,
        )
        for _ in range(max_iterations):
            nbr = (
                edges.join(labels, F.expr("dst = vertex"))
                .groupBy("src")
                .agg(F.expr("min(component) AS _nbr_min"))
            )
            # least() skips NULLs: no coalesce needed for the left join;
            # _prev threads the pre-step label through to the round's
            # convergence count
            stepped = labels.join(nbr, F.expr("vertex = src"), "left").selectExpr(
                "vertex",
                "least(component, _nbr_min) AS component",
                "component AS _prev",
            )
            # pointer jumping (component ids are vertices): one extra hop
            # per round, through the materialized labels — a self-join of
            # `stepped` would run the edge join and aggregate twice
            jumped = stepped.alias("x").join(
                labels.alias("y"), F.expr("x.component = y.vertex"), "left"
            ).selectExpr(
                "x.vertex AS vertex",
                "least(x.component, y.component) AS component",
                "x._prev AS _prev",
            )
            # the checkpoint's own job counts the changed labels as it
            # materializes them: convergence needs no probe job
            changed = Observation()
            jumped = _materialize.checkpoint(
                jumped.observe(changed, F.expr("count_if(component != _prev) AS n")),
                reliable,
            )
            _materialize.release(labels)
            labels = jumped
            if changed.get["n"] == 0:
                break
        return labels.selectExpr("vertex", "component")
    except BaseException:
        if labels is not None:
            _materialize.release(labels)
        raise
    finally:
        edges.unpersist()


def minhash_cluster_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
    threshold: float = 0.7,
    verify: bool = True,
) -> DataFrame:
    """Corpus → duplicate clusters WITHOUT materializing the pair set:
    returns ``(id, canonical_id)`` where ``canonical_id`` is the min id
    of the doc's near-dup cluster.

    :func:`minhash_near_duplicates` emits every verified pair — output
    that is inherently sum-of-cluster² and explodes on mega-clusters
    (50-doc clusters → 1225 pairs each; measured 6.7M pairs / ~170 s on
    a 250k-doc corpus whose every doc had 50 near-copies). This operator
    uses star contraction instead: each band bucket contributes only
    ``(member, bucket-min)`` edges, so edge count is bounded by
    docs × bands regardless of cluster sizes, and verification (exact
    Jaccard on hashed shingles) runs per star edge, not per pair.
    Min-label components over the star edges then yield the same
    clusters as the pair graph for every pair connected through bucket
    minima; with ``verify=True`` recall can dip marginally below the
    pair-verified variant (a doc is only checked against bucket minima,
    not every member). Docs with no surviving edge map to themselves.
    """
    if num_hashes % bands != 0:
        raise ValueError(f"bands ({bands}) must divide num_hashes ({num_hashes})")
    hashed = _hashed_shingles(df, id_col, text_col, k, id_col, "_shash").persist()
    # bucket minima via a map-side-combined aggregate + join, NOT an
    # unordered window over the bucket key: a mega-bucket (mass-
    # identical documents — exactly the corpus this operator's star
    # contraction exists for) would buffer every member row in one
    # window task, and AQE's skew splitting never applies to windows.
    # The aggregate bounds reducer volume at distinct-buckets x
    # map-tasks, and the join-back is AQE-skew-splittable.  buckets is
    # persisted (24 bytes/row x bands — cheaper than re-evaluating the
    # signature expressions for the join's second branch).  Both caches
    # serve only the eager label propagation and are released once it
    # returns or raises.
    buckets = _lsh_buckets(hashed, id_col, "_shash", num_hashes, bands).persist()
    try:
        mins = buckets.groupBy("_band", "_key").agg(
            F.min(id_col).alias("_min_id")
        )
        star = (
            buckets.join(mins, ["_band", "_key"])
            .where(F.col(id_col) != F.col("_min_id"))
            .select(F.col(id_col).alias("id_a"), F.col("_min_id").alias("id_b"))
            .distinct()
        )
        if verify:
            sh_a = hashed.toDF("id_a", "_sh_a")
            sh_b = hashed.toDF("id_b", "_sh_b")
            star = (
                star.join(sh_a, "id_a")
                .join(sh_b, "id_b")
                .where(
                    F.size(F.array_intersect("_sh_a", "_sh_b"))
                    / F.size(F.array_union("_sh_a", "_sh_b"))
                    >= F.lit(threshold)
                )
                .select("id_a", "id_b")
            )
        comp = duplicate_components(star)
    finally:
        hashed.unpersist()
        buckets.unpersist()
    ids = df.select(F.col(id_col))
    return ids.join(comp, ids[id_col] == comp["vertex"], "left").select(
        F.col(id_col),
        F.coalesce(F.col("component"), F.col(id_col)).alias("canonical_id"),
    )


def cross_corpus_near_duplicates(
    query_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 32,
    threshold: float = 0.7,
    verify: bool = True,
) -> DataFrame:
    """Document-level cross-corpus near-dedup: every ``query_df`` document
    whose k-shingle Jaccard with some ``corpus_df`` document reaches
    ``threshold`` — the standard "scrub the eval set against the training
    corpus" step (doc-granularity complement of :func:`ngram_contamination`).

    Returns ``(query_id, corpus_id, jaccard)`` pairs; anti-join the query
    corpus on ``query_id`` to drop contaminated documents.

    Same MinHash/band machinery as :func:`minhash_near_duplicates`
    (:func:`_lsh_buckets`), but the candidate join is
    query-buckets x corpus-buckets instead of within-corpus, so candidate
    volume is bounded by band collisions *between* corpora: at 100 TB of
    train and a few GB of eval the shuffled band keys are dominated by the
    big side's hashes (8 bytes/band/doc), never its text.

    Caching: with ``verify=True`` each side's shingle-hash frame feeds both
    the band join and the exact-Jaccard verification join, so it is
    ``persist()``-ed, and the returned plan reads both cache entries.
    They outlive the result: the session's cache manager holds them,
    so dropping the result does not free them (the ``ContextCleaner``
    never sees them unreferenced); ``spark.catalog.clearCache()`` does.
    With ``verify=False`` each side is read once and nothing is
    cached.
    """
    if num_hashes % bands != 0:
        raise ValueError(f"bands ({bands}) must divide num_hashes ({num_hashes})")

    def prep(df: DataFrame, side: str):
        hashed = _hashed_shingles(
            df, id_col, text_col, k, f"{side}_id", f"_shash_{side}"
        )
        if verify:  # reused by the verification join; single-use otherwise
            hashed = hashed.persist()
        buckets = _lsh_buckets(
            hashed, f"{side}_id", f"_shash_{side}", num_hashes, bands
        )
        return hashed, buckets

    q_hashed, q_buckets = prep(query_df, "query")
    c_hashed, c_buckets = prep(corpus_df, "corpus")
    candidates = (
        q_buckets.join(c_buckets, ["_band", "_key"])
        .select("query_id", "corpus_id")
        .distinct()
    )
    if not verify:
        return candidates
    return _verified_jaccard(candidates, q_hashed, c_hashed, threshold)


def duplicated_span_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    window: int = 10,
    stride: int = 5,
    min_count: int = 2,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Exact-substring duplication detector in the style of the
    "Deduplicating Training Data Makes Language Models Better" pipeline
    (Lee et al., 2022 — there built on suffix arrays): every document is
    cut into ``window``-token spans every ``stride`` tokens; a span whose
    exact text occurs >= ``min_count`` times corpus-wide is *duplicated*
    (boilerplate, licenses, templated spam — the content exact doc-level
    dedup misses because the surrounding document differs).

    Returns per-document ``(id, n_spans, n_dup_spans, dup_span_fraction)``
    — the standard curation signal (filter or strip docs above a
    threshold). Documents shorter than ``window`` tokens contribute their
    whole text as one span, so short exact dups still register.

    Scale shape: only ``(span_hash, id)`` pairs ever shuffle — span text
    is hashed in the scan stage and bodies never move. Two shuffles
    (corpus-wide span counts with map-side combine; per-doc regroup) +
    one broadcast-capable join of the hash stream against the
    ``min_count``-filtered span table. ``stride`` trades recall for
    explode volume: stride = window is disjoint chunking (cheapest),
    stride 1 is the full suffix-array-equivalent cover.
    ``hash_mode="md5"`` makes span hashes recomputable by any engine.
    """
    if window < 1 or stride < 1:
        raise ValueError("window and stride must be >= 1")
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")

    check_hash_mode(hash_mode)
    span_hash = (
        F.xxhash64(F.col("_span")) if hash_mode == "xxhash64"
        else F.md5(F.col("_span"))
    )

    # materialize the word array in its own projection (codegen caveat on
    # word_shingles_expr) before the windowed slice
    w = F.col("_w")
    starts = F.sequence(
        F.lit(0), F.greatest(F.size(w) - F.lit(window), F.lit(0)), F.lit(stride)
    )
    spans = F.transform(
        starts, lambda i: F.array_join(F.slice(w, i + 1, window), " ")
    )
    hashed = (
        df.select(F.col(id_col), F.split(F.trim(F.col(text_col)), r"\s+").alias("_w"))
        .select(F.col(id_col), spans.alias("_spans"))
        .select(F.col(id_col), F.explode_outer("_spans").alias("_span"))
        .where(F.col("_span").isNotNull())
        .select(F.col(id_col), span_hash.alias("_h"))
    )
    dup_spans = (
        hashed.groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_c"))
        .where(F.col("_c") >= min_count)
        .select("_h")
    )
    flagged = hashed.join(dup_spans.withColumn("_dup", F.lit(1)), "_h", "left")
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.sum(F.coalesce(F.col("_dup"), F.lit(0))).cast("long").alias("n_dup_spans"),
        )
        .select(
            id_col,
            "n_spans",
            "n_dup_spans",
            F.round(F.col("n_dup_spans") / F.col("n_spans"), 4).alias(
                "dup_span_fraction"
            ),
        )
    )


def substring_dedup_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 10,
    min_count: int = 2,
) -> DataFrame:
    """Maximal duplicated token SPANS per document — the span-locating
    half of suffix-style exact substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better", §4
    ExactSubstr; there built on one suffix array over the concatenated
    corpus).  The Spark-first re-expression is the k-gram cover: a
    token position is COVERED iff some ``k``-token window containing
    it occurs >= ``min_count`` times corpus-wide; maximal runs of
    covered window starts (gaps <= ``k`` merge, so their covered
    intervals are contiguous) become the emitted spans.

    Guarantee direction: any substring of >= ``k`` tokens that appears
    verbatim more than once has ALL its k-grams duplicated, so it is
    fully covered — no verbatim duplicate of length >= k escapes.
    Coverage may extend past the exact duplicate's edges (adjacent
    independently-duplicated k-grams stitch), the conservative
    direction for training-data curation.  Positions are 1-based
    token indices; ``span_end`` is inclusive.

    Returns ``(id, span_start, span_end, span_tokens)`` — one row per
    maximal span; documents with no duplicated k-gram emit nothing.
    Spans of one document never overlap (a merge-gap > ``k`` implies
    disjoint covered intervals).

    Scale shape: only ``(k-gram md5, id, pos)`` rows shuffle — span
    text never moves.  The corpus-wide count is a map-side-combined
    ``groupBy("_h").count()`` joined back onto the PERSISTED k-gram
    stream — deliberately NOT a window over the hash: k-gram frequency
    in a web corpus is Zipfian, and ``Window.partitionBy(hash)``
    buffers every occurrence of one k-gram in a single task's group (a
    viral boilerplate 8-gram — license header, cookie banner — becomes
    one straggler/spill task, and AQE's skew splitting never applies
    to windows).  Partial aggregation bounds the count's reducer
    volume at distinct-keys x map-tasks regardless of skew, and the
    join-back is a shuffled join AQE CAN skew-split.  The persist
    (MEMORY_AND_DISK, lineage-recoverable, LRU-evictable — the
    :func:`_blocked_posting` contract) is what keeps the corpus
    tokenized + hashed exactly once across the aggregate and probe
    branches.  No stop-cut guard is offered here on purpose: unlike
    pair blocking (quadratic in posting length, hence
    ``_candidate_density_guard``), a hot k-gram's cost is LINEAR — its
    rows stream through one aggregate and one join — and dropping it
    would exempt precisely the most-duplicated text from dedup.
    After the count, one per-document window (single key shuffle +
    sort) does the gaps-and-islands merge.  The md5 basis makes every
    hash — hence every span — replayable by any engine.  Unlike
    :func:`duplicated_span_stats` (fixed windows, per-doc FRACTION
    signal), this locates exact maximal spans so the duplicate text
    itself can be removed.
    """
    from pyspark.sql import Window

    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    w = F.split(F.trim(F.col(text_col)), r"\s+")
    toks = ensure_parallelism(df).select(F.col(id_col), w.alias("_w"))
    starts = F.when(
        F.size("_w") >= k, F.sequence(F.lit(1), F.size("_w") - F.lit(k - 1))
    ).otherwise(F.array().cast("array<int>"))
    g = toks.select(
        F.col(id_col),
        F.col("_w"),
        F.explode_outer(starts).alias("_pos"),
    ).where(F.col("_pos").isNotNull()).select(
        F.col(id_col),
        F.col("_pos"),
        F.md5(F.array_join(F.slice(F.col("_w"), F.col("_pos"), k), " ")).alias(
            "_h"
        ),
    )
    # skew-safe corpus-wide count: partial-aggregated groupBy + join
    # back, with g persisted so tokenize+hash runs once even though
    # two plan branches read it (a window over _h would buffer every
    # occurrence of a hot k-gram in one task — see docstring)
    g = g.persist(StorageLevel.MEMORY_AND_DISK)
    dup_h = (
        g.groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_c"))
        .where(F.col("_c") >= min_count)
        .select("_h")
    )
    dpos = g.join(dup_h, "_h").select(F.col(id_col), F.col("_pos"))
    win = Window.partitionBy(id_col).orderBy("_pos")
    islands = dpos.withColumn(
        "_brk",
        F.when(
            F.col("_pos") - F.lag("_pos").over(win) <= k, F.lit(0)
        ).otherwise(F.lit(1)),
    ).withColumn(
        "_span",
        F.sum("_brk").over(
            win.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        islands.groupBy(id_col, "_span")
        .agg(
            F.min("_pos").cast("long").alias("span_start"),
            (F.max("_pos") + F.lit(k - 1)).cast("long").alias("span_end"),
        )
        .select(
            F.col(id_col),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias(
                "span_tokens"
            ),
        )
    )


def substring_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 10,
    min_count: int = 2,
    out_col: str = "deduped_text",
) -> DataFrame:
    """Exact substring REMOVAL (Lee et al. 2022 ExactSubstr applied):
    drop every token covered by a :func:`substring_dedup_spans` span —
    all occurrences go, matching the paper's remove-every-copy rule —
    and rebuild the document from the surviving tokens.

    Returns the input columns plus ``out_col`` (space-joined surviving
    tokens; empty string when the whole document was duplicated),
    ``n_tokens`` and ``n_tokens_removed``.  Documents with no
    duplicated k-gram pass through with their whitespace normalized
    (single spaces), the tokenization the measure is defined over.
    NULL-text rows yield NULL for all three added columns, identically
    under default and ANSI modes.

    Scale shape: spans collapse to one small array per affected
    document (spans are maximal and disjoint, so the array length is
    bounded by ``n_tokens / k``); the rebuild is a per-row two-level
    higher-order filter against that array — document bodies cross the
    wire once, for the final join of span arrays back onto the corpus
    (broadcast-sized when duplication is sparse).
    """
    clashes = sorted(
        {out_col, "n_tokens", "n_tokens_removed"} & set(df.columns)
    )
    if clashes:
        raise ValueError(
            f"substring_dedup: output column(s) {clashes} already exist "
            f"on the input — rename them or pass a different out_col"
        )
    # collision-free internal name (an input _spans column must neither
    # clash in the join nor be clobbered) — same contract as
    # flatten_json's temp column
    spans_col = "_spans"
    while spans_col in df.columns:
        spans_col += "_"
    spans = substring_dedup_spans(
        df, id_col, text_col, k=k, min_count=min_count
    )
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias(spans_col)
    )
    w = F.split(F.trim(F.col(text_col)), r"\s+")
    joined = df.join(per_doc, id_col, "left").withColumn(
        spans_col, F.coalesce(F.col(spans_col), F.array())
    )
    kept = F.filter(
        w,
        lambda x, i: ~F.exists(
            F.col(spans_col),
            lambda s: (s["span_start"] <= i + F.lit(1))
            & (i + F.lit(1) <= s["span_end"]),
        ),
    )
    # NULL text -> NULL outputs in BOTH ANSI modes (ungated, size(NULL)
    # is -1 under default config but NULL under ANSI — the same
    # mode-dependent divergence gated in quality_classifier_score)
    nn = F.col(text_col).isNotNull()
    return (
        joined.withColumn(
            "n_tokens", F.when(nn, F.size(w)).cast("long")
        )
        .withColumn(out_col, F.when(nn, F.array_join(kept, " ")))
        .withColumn(
            "n_tokens_removed",
            F.when(nn, F.size(w) - F.size(kept)).cast("long"),
        )
        .drop(spans_col)
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    threshold: float = 0.95,
    method: str = "kmeans",
    cluster_col: Optional[str] = None,
    k: int = 16,
    num_planes: int = 16,
    seed: int = 42,
    max_iter: int = 5,
    max_cluster_size: Optional[int] = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (after Abbas et al. 2023):
    partition the embedding space into clusters, then within each
    cluster drop every vector that has a more-canonical (smaller-id)
    neighbor at cosine >= ``threshold``. The smallest id of every
    near-duplicate group always survives; distant pairs are never
    compared, which is the whole point — the quadratic step is bounded
    by cluster size, not corpus size (scale ``k`` with the corpus so
    ``n/k`` stays small, or set ``max_cluster_size`` to enforce the
    bound mechanically).

    Clustering: ``method="kmeans"`` (Lloyd's via :func:`kmeans_fit`,
    deterministic init), ``method="lsh"`` (random-hyperplane signature —
    pure expressions, no driver round-trips), or pass ``cluster_col``
    to use an existing partition (topic, label, shard — any type; the
    self-join keys on the column's native type, never a numeric cast).

    ``max_cluster_size``: occupancy guard for 100-TB scale — clusters
    whose row count exceeds the cap are re-split by extra random
    hyperplane bits (doubling the split per plane) until every
    comparison block is under the cap or ``8`` extra planes are spent.
    Re-splitting only prunes comparisons (the standard recall/cost
    dial); reported ``cluster`` stays the original assignment.

    Returns ``(id, cluster, keep)`` for every input row. Plan shape: the
    cluster assignment is map-only (kmeans adds one bounded
    driver-reduce per fit iteration); pruning is one self-equi-join on
    the cluster key plus a broadcast-capable anti-join of dropped ids.
    The occupancy guard adds one metadata-only count-per-cluster join.
    """
    from dbldatagen_spark.functions.similarity import (
        dot_expr,
        hyperplane_signature_expr,
        kmeans_assign,
        kmeans_fit,
        norm_expr,
    )

    base = df.select(F.col(id_col), F.col(vec_col).alias("_v"))
    if cluster_col is not None:
        assigned = df.select(
            F.col(id_col),
            F.col(vec_col).alias("_v"),
            F.col(cluster_col).alias("_cluster"),
        )
    elif method == "kmeans":
        cents, _ = kmeans_fit(base, "_v", k, id_col=id_col, max_iter=max_iter)
        assigned = kmeans_assign(base, "_v", cents, out_col="_cluster")
        assigned = assigned.withColumn("_cluster", F.col("_cluster").cast("long"))
    elif method == "lsh":
        assigned = base.withColumn(
            "_cluster", hyperplane_signature_expr(F.col("_v"), num_planes, seed)
        )
    else:
        raise ValueError(f"method must be kmeans|lsh, got {method!r}")

    # comparison key: the cluster itself, or — above the occupancy cap —
    # the cluster refined by enough extra hyperplane bits to fit under it
    assigned = assigned.withColumn("_ck", F.col("_cluster").cast("string"))
    if max_cluster_size is not None:
        if max_cluster_size < 1:
            raise ValueError(
                f"max_cluster_size must be >= 1, got {max_cluster_size}"
            )
        sizes = assigned.groupBy("_ck").agg(F.count(F.lit(1)).alias("_csz"))
        # extra planes needed: each plane halves an (isotropic) cluster,
        # so ceil(log2(size / cap)) bits, capped at 8 (256-way split)
        extra = F.least(
            F.lit(8),
            F.ceil(F.log2(F.col("_csz") / F.lit(float(max_cluster_size)))).cast("int"),
        )
        sizes = sizes.select(
            "_ck",
            F.when(F.col("_csz") > max_cluster_size, extra)
            .otherwise(F.lit(0))
            .alias("_extra"),
        )
        assigned = (
            assigned.join(sizes, "_ck")
            .withColumn(
                "_ck",
                F.when(
                    F.col("_extra") > 0,
                    F.concat(
                        F.col("_ck"),
                        F.lit("#"),
                        (
                            hyperplane_signature_expr(
                                F.col("_v"), 8, seed + 1
                            )
                            % F.pow(F.lit(2), F.col("_extra")).cast("long")
                        ).cast("string"),
                    ),
                ).otherwise(F.col("_ck")),
            )
            .drop("_extra")
        )

    # norm once per ROW (an attribute crossing the join boundary), not per
    # candidate pair — the within-cluster pairwise filter then pays a
    # single dot fold per pair (same trick as embedding_near_duplicates;
    # bit-identical: same folds, same product)
    assigned = assigned.withColumn("_n", norm_expr(F.col("_v")))
    denom = F.col("_na") * F.col("_nb")
    cos = F.when(
        denom > 0, dot_expr(F.col("_va"), F.col("_vb")) / denom
    ).otherwise(F.lit(0.0))
    dropped = (
        _self_pairs(assigned, ["_ck"], id_col, carry=["_v", "_n"])
        .where(F.round(cos, 4) >= F.lit(threshold))
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return (
        assigned.join(dropped.withColumn("_drop", F.lit(1)), id_col, "left")
        .select(
            id_col,
            F.col("_cluster").alias("cluster"),
            F.col("_drop").isNull().alias("keep"),
        )
    )



def fuzzy_match_records(
    df: DataFrame,
    id_col: str,
    name_col: str,
    *,
    max_distance: int = 2,
    block_len: int = 4,
    normalize: bool = True,
    max_block_size: Optional[int] = None,
) -> DataFrame:
    """Entity-resolution candidate pairs: records whose (normalized) name
    strings are within ``max_distance`` Levenshtein edits, generated
    inside prefix blocks — the classic blocked record-linkage shape.

    Returns ``(id_a, id_b, distance)`` with ``id_a < id_b``. Blocking on
    the first ``block_len`` normalized characters bounds the quadratic
    comparison at block size (names differing inside the prefix are
    assumed distinct entities — the standard recall/cost dial; lower
    ``block_len`` for higher recall). The edit distance itself runs in
    the JVM (``levenshtein`` is a built-in), so the whole operator is
    one self-equi-join on a short block key — no UDF, no full cross
    product, text enters the shuffle only as the (typically short) name
    column.

    ``max_block_size``: occupancy guard for 100-TB scale — a prefix
    block only bounds the quadratic step while its occupancy stays
    constant; at 100x the corpus a hot prefix ("john", "mari") grows
    linearly and its pair count quadratically (the same failure
    ``ngram_jaccard_pairs`` caps with ``max_posting_len``). Blocks over
    the cap are first re-split on a doubled prefix (``2 * block_len``
    characters); blocks still over the cap after re-splitting are
    dropped from pair generation — never silently: use
    :func:`fuzzy_block_report` on the same inputs to see exactly which
    blocks were re-split or dropped and how many rows they held.
    """
    if max_distance < 0:
        raise ValueError(f"max_distance must be >= 0, got {max_distance}")
    if block_len < 1:
        raise ValueError(f"block_len must be >= 1, got {block_len}")
    if max_block_size is not None and max_block_size < 2:
        raise ValueError(
            f"max_block_size must be >= 2 (a pair needs 2 rows), got {max_block_size}"
        )
    name = F.col(name_col)
    if normalize:
        name = normalize_text_expr(name)
    base = df.select(
        F.col(id_col),
        name.alias("_nm"),
        F.substring(name, 1, block_len).alias("_blk"),
    )
    if max_block_size is not None:
        base = _cap_fuzzy_blocks(base, block_len, max_block_size)
    return (
        _self_pairs(base, ["_blk"], id_col, carry=["_nm"])
        .select(
            "id_a", "id_b", F.levenshtein("_nma", "_nmb").alias("distance")
        )
        .where(F.col("distance") <= F.lit(max_distance))
    )


def _cap_fuzzy_blocks(base: DataFrame, block_len: int, cap: int) -> DataFrame:
    """Enforce the ``max_block_size`` occupancy cap on ``(_blk, _nm, id)``
    rows: oversized blocks re-key to a ``2 * block_len`` prefix, blocks
    still oversized after the re-split are removed. Two metadata-only
    count-per-key joins — the name column never fans out."""
    sizes = base.groupBy("_blk").agg(F.count(F.lit(1)).alias("_bsz"))
    resplit = (
        base.join(sizes, "_blk")
        .withColumn(
            "_blk",
            F.when(
                F.col("_bsz") > cap, F.substring(F.col("_nm"), 1, 2 * block_len)
            ).otherwise(F.col("_blk")),
        )
        .drop("_bsz")
    )
    sizes2 = resplit.groupBy("_blk").agg(F.count(F.lit(1)).alias("_bsz"))
    return (
        resplit.join(sizes2, "_blk")
        .where(F.col("_bsz") <= cap)
        .drop("_bsz")
    )


def fuzzy_block_report(
    df: DataFrame,
    id_col: str,
    name_col: str,
    *,
    block_len: int = 4,
    normalize: bool = True,
    max_block_size: int = 1000,
) -> DataFrame:
    """Companion audit for :func:`fuzzy_match_records` with
    ``max_block_size`` set — "no silent caps": one row per block that the
    cap touched, ``(block, n_rows, action)`` where ``action`` is
    ``'resplit'`` (over the cap on the ``block_len`` prefix, re-keyed to
    ``2 * block_len``) or ``'dropped'`` (still over the cap after the
    re-split — excluded from pair generation). Empty result = the cap
    never fired and fuzzy matching was exhaustive at this block length.
    """
    if block_len < 1:
        raise ValueError(f"block_len must be >= 1, got {block_len}")
    if max_block_size < 2:
        raise ValueError(
            f"max_block_size must be >= 2 (a pair needs 2 rows), got {max_block_size}"
        )
    name = F.col(name_col)
    if normalize:
        name = normalize_text_expr(name)
    base = df.select(
        F.col(id_col),
        name.alias("_nm"),
        F.substring(name, 1, block_len).alias("_blk"),
    )
    sizes = base.groupBy("_blk").agg(F.count(F.lit(1)).alias("_bsz"))
    over = sizes.where(F.col("_bsz") > max_block_size)
    resplit_rows = (
        base.join(over.select("_blk"), "_blk")
        .withColumn("_blk2", F.substring(F.col("_nm"), 1, 2 * block_len))
    )
    still_over = (
        resplit_rows.groupBy("_blk2")
        .agg(F.count(F.lit(1)).alias("_bsz2"))
        .where(F.col("_bsz2") > max_block_size)
    )
    dropped = still_over.select(
        F.col("_blk2").alias("block"),
        F.col("_bsz2").cast("long").alias("n_rows"),
        F.lit("dropped").alias("action"),
    )
    resplit = over.select(
        F.col("_blk").alias("block"),
        F.col("_bsz").cast("long").alias("n_rows"),
        F.lit("resplit").alias("action"),
    )
    return resplit.unionByName(dropped).orderBy("action", "block")


def incremental_dedup(
    new_df: DataFrame,
    seen_df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    normalize: bool = True,
    within_batch: bool = True,
) -> DataFrame:
    """Snapshot-increment dedup: rows of ``new_df`` whose content has
    never been seen — the daily-crawl ingestion gate (today's batch
    minus the accumulated corpus).

    Content is compared by sha256 of the (optionally normalized) text,
    so the anti-join shuffles 32-byte keys, never documents, and AQE
    picks broadcast vs sort-merge by the seen side's actual size. With
    ``within_batch`` (default) the new batch is also self-deduped first
    (min-id representative per content), so re-submitted duplicates
    inside one increment collapse too.

    Returns the surviving ``new_df`` rows (all original columns).
    """
    def key(df: DataFrame) -> Column:
        content = F.col(text_col)
        if normalize:
            content = normalize_text_expr(content)
        return F.sha2(content, 256)

    new_keyed = new_df.withColumn("_content_key", key(new_df))
    if within_batch:
        from pyspark.sql import Window

        w = Window.partitionBy("_content_key").orderBy(F.col(id_col))
        new_keyed = (
            new_keyed.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
    seen_keys = seen_df.select(key(seen_df).alias("_content_key")).distinct()
    return new_keyed.join(seen_keys, "_content_key", "left_anti").drop(
        "_content_key"
    )


def hamming_near_duplicates(
    hashes: DataFrame,
    id_col: str,
    hash_col: str,
    *,
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Generic banded Hamming self-join over any 64-bit signature
    column — the blocking kernel shared by SimHash text signatures,
    image average-hashes (``multimodal.image_phash``) and audio
    envelope fingerprints (``multimodal.audio_fingerprint``): split
    each signature into ``bands`` contiguous ``64/bands``-bit keys,
    equi-join on ``(band index, band key)``, verify candidates exactly
    with ``bit_count(a XOR b) <= max_hamming``.  Returns
    ``(id_a, id_b, hamming)`` with ``id_a < id_b``.

    Pigeonhole guarantee: ``max_hamming < bands`` means a true pair
    differs in fewer bits than there are bands, so at least one band
    matches exactly — no false negatives; the validation refuses
    settings that silently lose the guarantee.

    Scale shape: ``bands`` 10-byte rows shuffle per signature;
    candidate volume is band-bucket bounded.
    """
    if bands not in (1, 2, 4, 8):
        raise ValueError(f"bands must divide 64 bits evenly (1/2/4/8), got {bands}")
    if max_hamming < 0:
        raise ValueError(f"max_hamming must be >= 0, got {max_hamming}")
    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming={max_hamming} >= bands={bands} loses the pigeonhole "
            "no-false-negative guarantee; raise bands or lower max_hamming"
        )
    band_bits = 64 // bands
    mask = (1 << band_bits) - 1
    banded = hashes.select(
        F.col(id_col),
        F.col(hash_col).alias("_h"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("b"),
                    F.shiftrightunsigned(F.col(hash_col), i * band_bits)
                    .bitwiseAND(F.lit(mask))
                    .alias("k"),
                )
                for i in range(bands)
            ])
        ).alias("_band"),
    ).select(
        id_col, "_h", F.col("_band.b").alias("_b"), F.col("_band.k").alias("_k")
    )
    cand = _self_pairs(banded, ["_b", "_k"], id_col, carry=["_h"]).distinct()
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb")))
        )
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    threshold: float = 0.5,
    max_posting_len: Optional[int] = 1000,
    max_candidate_pairs: Optional[int] = DEFAULT_MAX_CANDIDATE_PAIRS,
) -> DataFrame:
    """Document pairs with high shingle CONTAINMENT — the asymmetric
    near-dup measure (Broder 1997, "On the resemblance and containment
    of documents"): ``c(A in B) = |A ∩ B| / |A|``.  Jaccard misses the
    quote/subset case a training corpus cares about most — a short doc
    wholly embedded in a long one scores near-zero Jaccard (the union
    is dominated by the long doc) but containment 1.0.  Emits every
    pair where EITHER direction clears ``threshold``:
    ``(id_a, id_b, n_a, n_b, n_common, containment_a_in_b,
    containment_b_in_a)`` with ``id_a < id_b``.

    Blocking, the stop-shingle cut and the counts are shared with
    :func:`ngram_jaccard_pairs` through :func:`_shingle_overlap`: only
    pairs with >= 1 common shingle are generated, ``max_posting_len``
    bounds per-shingle candidate work at cap^2 and affects recall,
    never the measure.  All emitted numbers are integers or single
    ratios of integers — exactly replayable by a SQL oracle.

    NOTE: the candidate-density guard runs an EAGER count-aggregate
    Spark job at call time (shared with the stop-cut via a persisted
    document-frequency frame); ``max_candidate_pairs=None`` keeps the
    plan fully lazy.

    Precondition: ``id_col`` is unique, unchecked (see
    :func:`_shingle_overlap`).
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    shingled = shingled_df(ensure_parallelism(df), id_col, text_col, k)
    out = (
        _shingle_overlap(
            shingled, id_col, max_posting_len, max_candidate_pairs,
            "containment_pairs",
        )
        .withColumn(
            "containment_a_in_b",
            F.round(F.col("n_common") / F.col("n_a"), 4),
        )
        .withColumn(
            "containment_b_in_a",
            F.round(F.col("n_common") / F.col("n_b"), 4),
        )
    )
    return out.where(
        (F.col("containment_a_in_b") >= F.lit(threshold))
        | (F.col("containment_b_in_a") >= F.lit(threshold))
    ).select(
        "id_a", "id_b", "n_a", "n_b",
        "n_common", "containment_a_in_b", "containment_b_in_a",
    )


def containment_sketch_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    sketch_k: int = 32,
    threshold: float = 0.5,
    seed: int = 0,
    max_posting_len: Optional[int] = 1000,
    max_candidate_pairs: Optional[int] = DEFAULT_MAX_CANDIDATE_PAIRS,
) -> DataFrame:
    """Containment estimation from bottom-k shingle sketches — the
    100 TB path for :func:`containment_pairs` (Broder 1997 §4: with
    ``M`` the bottom-k sketch of ``A ∪ B``,
    ``|M ∩ S_A ∩ S_B| / |M ∩ S_A|`` estimates ``|A ∩ B| / |A|``).
    Documents collapse to ``sketch_k`` longs each; the sketch doubles
    as the blocking index (candidate pairs = docs sharing any bottom-k
    hash — a pair with high containment shares low hashes with high
    probability), so full shingle sets are never joined, shuffled, or
    even kept.

    Returns pairs where EITHER direction's estimate clears
    ``threshold``: ``(id_a, id_b, n_m_a, n_m_b, n_m_both,
    est_a_in_b, est_b_in_a)`` with ``id_a < id_b``.  Every number is
    an integer or one ratio of integers over the deterministic md5
    hash basis, so a SQL oracle replays estimates exactly.

    Scale shape: per-doc bottom-k prunes via ``row_number() <=
    sketch_k`` (pre-exchange ``WindowGroupLimit``); the candidate join
    moves 8-byte hashes; the per-pair merge is array arithmetic over
    two <= ``sketch_k``-element arrays (the :func:`kmv_set_ops`
    shape).  ``max_posting_len`` is the stop-hash cut (the
    :func:`ngram_jaccard_pairs` convention applied to sketch hashes):
    a shingle shared by ``d`` documents puts the same minimum hash in
    ``d`` sketches and would generate d^2 candidate pairs — one viral
    boilerplate phrase at corpus scale is a cartesian explosion, so
    hashes posted by more than the cap are dropped from the BLOCKING
    index only (surviving pairs' estimates still use full sketches).
    Pass ``None`` for exact small-corpus blocking.

    NOTE: the candidate-density guard runs an EAGER count-aggregate
    Spark job at call time (shared with the stop-cut via a persisted
    document-frequency frame); ``max_candidate_pairs=None`` keeps the
    plan fully lazy.
    """
    if sketch_k < 2:
        raise ValueError(f"sketch_k must be >= 2, got {sketch_k}")
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if max_posting_len is not None and max_posting_len < 2:
        raise ValueError("max_posting_len must be >= 2")
    from pyspark.sql import Window

    shingled = shingled_df(ensure_parallelism(df), id_col, text_col, k)
    hashed = shingled.select(
        F.col(id_col), F.explode_outer("shingles").alias("_sh")
    ).where(F.col("_sh").isNotNull()).select(
        F.col(id_col),
        md5_60(F.concat_ws(":", F.lit(seed), F.col("_sh"))).alias("_h"),
    )
    w = Window.partitionBy(id_col).orderBy("_h")
    kept = hashed.withColumn("_rn", F.row_number().over(w)).where(
        F.col("_rn") <= sketch_k
    )
    # the sketch frame feeds THREE consumers (the blocking index and
    # both join sides); without a cache the shingle+hash+window
    # pipeline re-executes per consumer — measured 3x the wall at 50k
    # docs (exchange reuse does not canonicalize across the renamed
    # branches).  One row of k longs per doc, so the cache is tiny.
    sketches = kept.groupBy(id_col).agg(
        F.array_sort(F.collect_list("_h")).alias("_sk")
    ).cache()
    posting = sketches.select(F.col(id_col), F.explode("_sk").alias("_h"))
    posting = _blocked_posting(
        posting, "_h", max_posting_len, max_candidate_pairs,
        "containment_sketch_pairs",
    )
    pairs = _self_pairs(posting, ["_h"], id_col).distinct()
    sa = sketches.select(
        F.col(id_col).alias("id_a"), F.col("_sk").alias("_sa")
    )
    sb = sketches.select(
        F.col(id_col).alias("id_b"), F.col("_sk").alias("_sb")
    )
    merged = F.slice(
        F.array_sort(F.array_distinct(F.concat("_sa", "_sb"))),
        1,
        sketch_k,
    )
    # _m and the intersections compute ONCE per pair: the separate
    # projections are CollapseProject barriers (each referenced more
    # than once downstream), array_intersect replaces the interpreted
    # O(k^2) filter+array_contains lambdas (hash-set intersect; both
    # sides are distinct arrays, so the counts are identical), and the
    # aggregate over the unique pair keys is a pushdown barrier — as a
    # plain projection, the threshold filter was substituted into the
    # join condition, re-running the whole merge+estimate arithmetic
    # per candidate pair (see _shingle_overlap).  Singleton groups, so
    # min() is the value itself.
    joined = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("_m", merged)
        .withColumn("_ma", F.array_intersect("_m", "_sa"))
        .withColumn("_mb", F.array_intersect("_m", "_sb"))
        .groupBy("id_a", "id_b")
        .agg(
            F.min(F.size("_ma").cast("long")).alias("n_m_a"),
            F.min(F.size("_mb").cast("long")).alias("n_m_b"),
            F.min(
                F.size(F.array_intersect("_ma", "_sb")).cast("long")
            ).alias("n_m_both"),
        )
    )
    est_a = F.when(
        F.col("n_m_a") > 0,
        F.round(F.col("n_m_both") / F.col("n_m_a"), 4),
    ).otherwise(F.lit(0.0))
    est_b = F.when(
        F.col("n_m_b") > 0,
        F.round(F.col("n_m_both") / F.col("n_m_b"), 4),
    ).otherwise(F.lit(0.0))
    out = joined.withColumn("est_a_in_b", est_a).withColumn(
        "est_b_in_a", est_b
    )
    return out.where(
        (F.col("est_a_in_b") >= F.lit(threshold))
        | (F.col("est_b_in_a") >= F.lit(threshold))
    )


def keep_best_canonicals(
    clusters: DataFrame,
    scores: DataFrame,
    id_col: str,
    score_col: str,
    *,
    cluster_col: str = "canonical_id",
) -> DataFrame:
    """Quality-aware survivor selection for duplicate clusters: instead
    of keeping each cluster's minimum-id member (the
    :func:`minhash_cluster_dedup` / :func:`duplicate_components`
    default), keep its HIGHEST-SCORING member — near-dup groups in a
    training corpus should surrender their truncated, boilerplate-laden
    copies to the cleanest one, not to whichever crawled first.

    ``clusters`` is any ``(id, cluster label)`` frame (e.g.
    ``minhash_cluster_dedup`` output); ``scores`` any ``(id, score)``
    frame (e.g. ``quality_classifier_score``'s ``logit``).  Returns the
    ``clusters`` columns plus ``best_id`` (the cluster's arg-max-score
    member — ties break to the smallest id, which also works for STRING
    ids; NULL, NaN, or missing scores rank below every real score —
    NaN is folded explicitly because Spark's ordering ranks NaN ABOVE
    every real double and would otherwise silently crown a NaN-scored
    member; a literal ``-inf`` score ties with them, breaking by id) and
    ``keep = (id == best_id)``.  Rows whose cluster label is NULL are
    their own survivors (``best_id = id``, ``keep = true``) — no row is
    ever silently dropped.  The selection is one deterministic
    ``row_number`` over ``(cluster ORDER BY score DESC, id ASC)``, so
    any engine — and any id type — replays it exactly.

    Scale shape: one left join of ids to scores (keyed by id), one
    rank window over the (cluster, id, score) stream — it plans as a
    pre-exchange ``WindowGroupLimit``, each map task forwarding one
    candidate per cluster it sees, and per-cluster sort state is a
    duplicate group, not a corpus — and one join of the
    one-row-per-cluster ``best`` frame back.  Ids and scores shuffle,
    never document bodies; ``clusters`` is referenced twice, so
    persist it upstream if it is itself expensive to recompute.
    """
    for c in ("best_id", "keep"):
        if c in clusters.columns:
            raise ValueError(
                f"keep_best_canonicals: output column {c!r} already "
                f"exists on the clusters frame — rename it first"
            )
    from pyspark.sql import Window

    neg_inf = F.lit(float("-inf"))
    # LEFT join: an id with no scores row behaves exactly like a NULL
    # score (below every real score), never a dropped document.  NaN
    # folds to -inf too: Spark sorts NaN above every real double, so
    # an unfolded NaN would win the arg-max (score_buckets excludes
    # NaN for the same reason)
    j = (
        clusters.select(id_col, cluster_col)
        .where(F.col(cluster_col).isNotNull())
        .join(
            scores.select(
                F.col(id_col), F.col(score_col).cast("double").alias("_s")
            ),
            id_col,
            "left",
        )
        .withColumn(
            "_s",
            F.when(
                F.col("_s").isNull() | F.isnan("_s"), neg_inf
            ).otherwise(F.col("_s")),
        )
    )
    w = Window.partitionBy(cluster_col).orderBy(
        F.col("_s").desc(), F.col(id_col).asc()
    )
    best = (
        j.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(cluster_col, F.col(id_col).alias("best_id"))
    )
    # LEFT join + coalesce: NULL-label rows never match (NULL equi-join
    # keys) and fall back to themselves — singleton survivors
    return (
        clusters.join(best, cluster_col, "left")
        .withColumn("best_id", F.coalesce(F.col("best_id"), F.col(id_col)))
        .withColumn("keep", F.col(id_col) == F.col("best_id"))
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    sep_pattern: str = r"\n{2,}",
    join_sep: str = "\n\n",
    method: str = "minhash",
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
    threshold: float = 0.7,
    min_tokens: int = 1,
    out_col: str = "deduped_text",
) -> DataFrame:
    """Paragraph-granular deduplication — the RefinedWeb / MassiveText
    mid-granularity between :func:`substring_dedup` (exact token
    spans) and document-level :func:`minhash_cluster_dedup`: split
    every document on ``sep_pattern``, deduplicate the PARAGRAPHS
    corpus-wide, and reassemble each document from its surviving
    paragraphs (joined with ``join_sep``).

    ``method="minhash"`` (default) clusters near-duplicate paragraphs
    via :func:`minhash_cluster_dedup` over a corpus-ordered paragraph
    id (``%019d#%010d`` over ``(doc id, paragraph index)`` — its
    lexicographic min IS the first occurrence in corpus order for any
    non-negative int64 id, so the survivor rule matches
    ``method="exact"``); requires an integral ``id_col`` and
    non-negative ids.  The sign is checked in the plan, on the
    paragraph id itself: a negative id raises only if one of its
    paragraphs reaches a pid (has at least ``min_tokens`` tokens), and
    then as a Spark error naming the id, not a ``ValueError`` (the
    clustering is eager, so it still surfaces during this call).  A row
    whose paragraphs are all structural never builds a pid and passes
    through.  ``method="exact"`` keeps the first
    occurrence of every distinct trimmed paragraph (the
    :func:`~dbldatagen_spark.functions.curation.dedup_lines_corpus`
    winner rule at paragraph granularity) — fully replayable in
    portable SQL, which is what the oracle row checks.

    Paragraphs with fewer than ``min_tokens`` whitespace tokens are
    structural: always kept, never entered into clustering.  BLANK
    paragraphs (runs of separators, leading/trailing separators) are
    dropped in the rebuild — separator normalization, the same
    whitespace contract as :func:`substring_dedup`'s tokenizer — and
    are not counted in ``n_paragraphs``.  NULL-text rows yield NULL
    for all three added columns.  Documents whose every paragraph was
    removed rebuild to ``''``.

    Returns the input columns plus ``out_col``, ``n_paragraphs``
    (non-blank paragraphs), and ``n_paragraphs_removed``.

    Scale shape: the exact arm shuffles each distinct paragraph once
    as a grouping key plus 16 bytes of winner-struct; the minhash arm
    shuffles only shingle hashes and band keys (paragraph text never
    leaves its scan until the rebuild).  The rebuild is one
    doc-id-keyed aggregate of surviving paragraphs — document text
    crosses the wire once.  Nothing is quadratic in cluster size
    (star contraction inside ``minhash_cluster_dedup``).
    """
    if method not in ("minhash", "exact"):
        raise ValueError(f"method must be minhash|exact, got {method!r}")
    if min_tokens < 1:
        raise ValueError(f"min_tokens must be >= 1, got {min_tokens}")
    added = {out_col, "n_paragraphs", "n_paragraphs_removed"}
    clashes = sorted(added & set(df.columns))
    if clashes:
        raise ValueError(
            f"paragraph_dedup: output column(s) {clashes} already exist "
            f"on the input — rename them or pass a different out_col"
        )
    df = ensure_parallelism(df)
    paras = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(
            F.split(F.col(text_col), sep_pattern)
        ).alias("_pidx", "_para"),
    ).where(F.trim(F.col("_para")) != "")
    n_tok = F.size(F.split(F.trim(F.col("_para")), r"\s+"))
    paras = paras.withColumn("_dedupable", n_tok >= F.lit(min_tokens))
    cand = paras.where(F.col("_dedupable"))

    if method == "exact":
        winners = cand.groupBy(F.trim(F.col("_para")).alias("_key")).agg(
            F.min(F.struct(F.col("_id"), F.col("_pidx"))).alias("_w")
        )
        kept_flags = (
            cand.withColumn("_key", F.trim(F.col("_para")))
            .join(winners, "_key")
            .where(
                (F.col("_id") == F.col("_w._id"))
                & (F.col("_pidx") == F.col("_w._pidx"))
            )
            .select("_id", "_pidx")
        )
    else:
        id_type = dict(df.dtypes).get(id_col, "")
        if id_type not in ("tinyint", "smallint", "int", "bigint"):
            raise ValueError(
                f"paragraph_dedup(method='minhash') needs an integral "
                f"non-negative id_col to build its corpus-ordered "
                f"paragraph id; {id_col!r} is {id_type or 'missing'} — "
                f"use method='exact' or map ids to longs first"
            )
        # the survivor rule is "lexicographic min of the pid IS the
        # first occurrence in corpus order" — a negative id formats
        # with a leading '-' (sorts before all non-negatives AND
        # inverts order among negatives), silently breaking the
        # contract.  Enforced IN-PLAN on the pid expression itself
        # (the _check_fold_size idiom): raises AT ACTION TIME, naming
        # the offending id, the first time a negative id would enter
        # a pid — no eager full-input min() scan per call, and a
        # negative id that never reaches a pid (its paragraphs all
        # below min_tokens) cannot corrupt corpus order, so it no
        # longer needs to raise at all.  NULL ids fall through the
        # WHEN untouched (NULL < 0 is NULL), exactly as before.
        gid = F.when(
            F.col("_id") < 0,
            F.raise_error(
                F.concat_ws(
                    "",
                    F.lit(
                        f"paragraph_dedup(method='minhash'): {id_col!r} "
                        f"has a negative value ("
                    ),
                    F.col("_id").cast("string"),
                    F.lit(
                        "); the corpus-order paragraph id needs "
                        "non-negative ids — shift or re-map ids to "
                        "[0, 2^63) first, or use method='exact'"
                    ),
                )
            ).cast("long"),
        ).otherwise(F.col("_id"))
        # %019d covers every non-negative int64 (<= 19 digits) and
        # %010d every paragraph index posexplode can emit, so the
        # zero-padded key sorts in corpus order with no range cliff
        # at 10^12 ids or 10^6 paragraphs
        pid = F.format_string("%019d#%010d", gid, F.col("_pidx"))
        labeled = cand.select(
            pid.alias("_pid"), F.col("_id"), F.col("_pidx"), F.col("_para")
        )
        clusters = minhash_cluster_dedup(
            labeled.select("_pid", "_para"),
            "_pid",
            "_para",
            k=k,
            num_hashes=num_hashes,
            bands=bands,
            threshold=threshold,
        )
        kept_flags = (
            labeled.join(clusters, "_pid")
            .where(F.col("_pid") == F.col("canonical_id"))
            .select("_id", "_pidx")
        )

    kept = paras.where(~F.col("_dedupable")).select(
        "_id", "_pidx", "_para"
    ).unionByName(
        paras.select("_id", "_pidx", "_para")
        .join(kept_flags, ["_id", "_pidx"])
    )
    rebuilt = kept.groupBy("_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("_pidx", "_para"))
                ),
                lambda s: s["_para"],
            ),
            join_sep,
        ).alias("_rebuilt"),
        F.count(F.lit(1)).cast("long").alias("_n_kept"),
    )
    totals = paras.groupBy("_id").agg(
        F.count(F.lit(1)).cast("long").alias("_n_total")
    )
    stats = totals.join(rebuilt, "_id", "left").select(
        F.col("_id"),
        F.coalesce(F.col("_rebuilt"), F.lit("")).alias("_rebuilt"),
        F.col("_n_total"),
        (F.col("_n_total") - F.coalesce(F.col("_n_kept"), F.lit(0)))
        .cast("long")
        .alias("_n_removed"),
    )
    out = df.join(stats, df[id_col] == stats["_id"], "left")
    has_text = F.col(text_col).isNotNull()
    return out.select(
        *[df[c] for c in df.columns],
        F.when(
            has_text, F.coalesce(F.col("_rebuilt"), F.lit(""))
        ).alias(out_col),
        F.when(has_text, F.coalesce(F.col("_n_total"), F.lit(0)))
        .cast("long")
        .alias("n_paragraphs"),
        F.when(has_text, F.coalesce(F.col("_n_removed"), F.lit(0)))
        .cast("long")
        .alias("n_paragraphs_removed"),
    )
