"""KMV (k-minimum-values) distinct-count sketches.

``approx_count_distinct`` is Spark's HLL and is neither mergeable across
engines nor replayable by an external oracle.  KMV (Bar-Yossef et al.
2002, "Counting distinct elements in a data stream") is the portable
alternative: hash every value to a uniform in ``[0, 1)``, keep the ``k``
smallest distinct hashes, and estimate the distinct count as
``(k - 1) / u_(k)`` where ``u_(k)`` is the k-th smallest.  With fewer
than ``k`` distinct hashes the sketch IS the exact distinct set.

Why it earns a place next to the built-in: the sketch is a plain
``array<long>`` column — mergeable by re-minning the union
(:func:`kmv_merge_expr`), storable in any table, and bit-reproducible in
any engine with ``md5`` (the repo's portable-hash idiom), so a DuckDB
oracle recomputes estimates exactly.

Scale shape: per-group candidate pruning uses ``row_number() <= k``
over ``(group ORDER BY hash)``, which Spark plans as a pre-exchange
``WindowGroupLimit`` — each map task forwards at most ``k`` rows per
group, so the sort/exchange sees ``O(groups * k)`` rows no matter how
many distinct values exist.  Values themselves never shuffle, only
8-byte hashes.

Reference parity: dbldatagen has no sketch surface; this supports the
corpus-statistics side of the training-data toolkit (``corpus_stats``
uses HLL internally — KMV is the auditable twin).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dbldatagen_spark.functions._hashing import md5_60

__all__ = [
    "kmv_hash_expr",
    "kmv_sketch",
    "kmv_set_ops",
    "kmv_merge_expr",
    "kmv_estimate_expr",
    "cms_bucket_expr",
    "cms_sketch",
    "cms_merge",
    "cms_estimate",
    "cms_join_size",
    "histogram_sketch",
    "histogram_merge",
    "histogram_quantiles",
    "cms_heavy_hitters",
    "hll_register_exprs",
    "hll_sketch",
    "hll_merge_expr",
    "hll_estimate_expr",
]

_TWO_60 = float(1 << 60)


def kmv_hash_expr(value: Column, *, seed: int = 0) -> Column:
    """60-bit md5-derived hash of ``value`` as a non-negative long —
    the engine-portable uniform basis (DuckDB twin:
    ``('0x' || substr(md5(seed || ':' || v), 1, 15))::BIGINT``)."""
    return md5_60(F.concat_ws(":", F.lit(seed), value.cast("string")))


def kmv_estimate_expr(sketch: Column, k: int) -> Column:
    """Distinct-count estimate from a sketch array of minimum hashes:
    exact cardinality below ``k``, else ``(k - 1) / u_(k)`` with
    ``u_(k) = (h_(k) + 0.5) / 2^60``."""
    kth_u = (F.element_at(sketch, k).cast("double") + F.lit(0.5)) / F.lit(_TWO_60)
    return F.when(
        F.size(sketch) < k, F.size(sketch).cast("double")
    ).otherwise(F.lit(float(k - 1)) / kth_u)


def kmv_merge_expr(sketches: Column, k: int) -> Column:
    """Merge an ``array<array<long>>`` of sketches into one: distinct
    hashes of the union, sorted, first ``k``.  Associative and
    commutative — the lossless union bound any mergeable-aggregate
    pipeline needs (cf. :mod:`dbldatagen_spark.functions.mergeable`)."""
    return F.slice(F.array_sort(F.array_distinct(F.flatten(sketches))), 1, k)


def kmv_sketch(
    df: DataFrame,
    value_col: str,
    *,
    group_cols: Optional[Sequence[str]] = None,
    k: int = 64,
    seed: int = 0,
) -> DataFrame:
    """Per-group KMV sketch of ``value_col``'s distinct count.  Returns
    ``group_cols + (sketch array<long>, n_kept, dv_estimate)``.  NULL
    values are excluded (``COUNT(DISTINCT)`` semantics).

    Plan: distinct ``(group, hash)`` hash-agg (map-side combine) —
    only 8-byte hashes shuffle — then ``row_number() <= k`` planned as
    pre-exchange ``WindowGroupLimit``, then a bounded ``collect_list``
    (at most ``k`` entries per group) folded into the estimate.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    groups = list(group_cols or [])
    hashed = (
        df.where(F.col(value_col).isNotNull())
        .select(*groups, kmv_hash_expr(F.col(value_col), seed=seed).alias("_h"))
        .distinct()
    )
    if groups:
        w = Window.partitionBy(*groups).orderBy("_h")
        kept = hashed.withColumn("_rn", F.row_number().over(w)).where(
            F.col("_rn") <= k
        )
    else:
        # global sketch: limit-after-orderBy plans as
        # TakeOrderedAndProject (per-partition heads) — a
        # partitionBy(lit(1)) window would funnel EVERY distinct hash
        # through one task, the exact straggler hot_key_report avoids
        kept = hashed.orderBy("_h").limit(k)
    agg = kept.groupBy(*groups).agg(
        F.array_sort(F.collect_list("_h")).alias("sketch"),
        F.count(F.lit(1)).cast("long").alias("n_kept"),
    )
    return agg.withColumn("dv_estimate", kmv_estimate_expr(F.col("sketch"), k))


def kmv_set_ops(
    sketch_a: DataFrame,
    sketch_b: DataFrame,
    *,
    k: int,
    join_cols: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Set operations on two KMV sketches built with the same
    ``(k, seed)`` — the audience-overlap arithmetic (Beyer et al.,
    "On Synopses for Distinct-Value Estimation"): from the merged
    k-minimum set ``M`` of the union,

    - ``union_estimate``: the standard KMV estimate over ``M``
      (lossless union law — identical to sketching the union),
    - ``jaccard_estimate``: ``|M ∩ A ∩ B| / |M|`` — ``M`` is a uniform
      hash-sample of the union, so the fraction of its members seen by
      BOTH sides estimates ``|A ∩ B| / |A ∪ B|``,
    - ``intersection_estimate``: ``jaccard * union_estimate``.

    Inputs are ``kmv_sketch`` outputs (``sketch`` + optional group
    columns). With ``join_cols`` the sketches pair up per group (inner
    join); without, both must be single-row global sketches (checked)
    and pair via a broadcast cross join. Returns ``join_cols +
    (n_union_kept, n_common, union_estimate, jaccard_estimate,
    intersection_estimate)``.

    Everything is integer/array arithmetic over two <=k-element
    arrays — engine-portable (the md5 hash basis), deterministic, and
    cheap: the join moves ``k`` longs per group, never values.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    keys = list(join_cols or [])
    a = sketch_a.select(*keys, F.col("sketch").alias("_sa"))
    b = sketch_b.select(*keys, F.col("sketch").alias("_sb"))
    if keys:
        joined = a.join(b, keys)
    else:
        if a.count() != 1 or b.count() != 1:
            raise ValueError(
                "global kmv_set_ops needs single-row sketches; pass "
                "join_cols for grouped sketches"
            )
        joined = a.crossJoin(F.broadcast(b))
    merged = F.slice(
        F.array_sort(F.array_distinct(F.concat("_sa", "_sb"))), 1, k
    )
    out = joined.withColumn("_m", merged).select(
        *keys,
        F.size("_m").cast("long").alias("n_union_kept"),
        F.size(
            F.filter(
                F.col("_m"),
                lambda h: F.array_contains(F.col("_sa"), h)
                & F.array_contains(F.col("_sb"), h),
            )
        )
        .cast("long")
        .alias("n_common"),
        kmv_estimate_expr(F.col("_m"), k).alias("union_estimate"),
    )
    jaccard = F.when(
        F.col("n_union_kept") > 0,
        F.col("n_common").cast("double") / F.col("n_union_kept"),
    ).otherwise(F.lit(0.0))
    return out.withColumn("jaccard_estimate", jaccard).withColumn(
        "intersection_estimate",
        F.col("jaccard_estimate") * F.col("union_estimate"),
    )


def cms_bucket_expr(
    value: Column, depth_idx: Column, *, width: int, seed: int = 0
) -> Column:
    """Count-min bucket for ``value`` in hash row ``depth_idx``:
    the 60-bit md5-derived portable hash of ``seed:row:value`` modulo
    ``width`` (DuckDB twin:
    ``('0x' || substr(md5(concat_ws(':', seed, d, v)), 1, 15))::BIGINT
    % width``)."""
    hv = md5_60(
        F.concat_ws(
            ":", F.lit(seed), depth_idx.cast("string"), value.cast("string")
        )
    )
    return F.pmod(hv, F.lit(width)).cast("int")


def cms_sketch(
    df: DataFrame,
    value_col: str,
    *,
    width: int = 256,
    depth: int = 4,
    seed: int = 0,
    group_cols: Optional[Sequence[str]] = None,
    weight_col: Optional[str] = None,
) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) of
    ``value_col``'s frequencies, one sketch per group:
    ``group_cols + (depth_idx, bucket, cnt)`` in sparse form (cells
    never incremented are absent — an estimate reads them as 0).
    Counter updates commute, so unlike quantile or heavy-hitter
    sketches the result is **order-independent**: every cell is exactly
    ``SUM(count of colliding values)``, which is why an external SQL
    oracle reproduces it cell-for-cell.

    Plan: one map-side-combined hash-agg per distinct ``(group,
    value)`` — raw rows collapse *before* anything widens — then a
    ``depth``-way explode of 8-byte hashes into the bounded
    ``(group, depth, bucket)`` cell aggregation.  The sketch itself is
    at most ``groups x depth x width`` rows regardless of input size,
    which is the whole point: merge (:func:`cms_merge`) and estimate
    (:func:`cms_estimate`) touch state tables, never data.

    NULL values are excluded.  Point-query error bound: with
    probability ``1 - (1/2)^depth`` the estimate overshoots by at most
    ``2n/width`` (never undershoots).  ``weight_col`` (integer counts,
    e.g. per-document token totals) switches cells from row counts to
    weight sums — the token-share sketch a corpus-mixing job wants —
    keeping every guarantee (weights must be non-negative for the
    never-undershoots bound).
    """
    if width < 2:
        raise ValueError(f"width must be >= 2, got {width}")
    if depth < 1:
        raise ValueError(f"depth must be >= 1, got {depth}")
    groups = list(group_cols or [])
    w_expr = (
        F.count(F.lit(1)).cast("long")
        if weight_col is None
        else F.sum(F.col(weight_col).cast("long")).cast("long")
    )
    vals = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(*groups, F.col(value_col).alias("_v"))
        .agg(w_expr.alias("_w"))
    )
    exploded = vals.select(
        *groups,
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("depth_idx"),
        F.col("_v"),
        F.col("_w"),
    )
    return (
        exploded.select(
            *groups,
            F.col("depth_idx"),
            cms_bucket_expr(
                F.col("_v"), F.col("depth_idx"), width=width, seed=seed
            ).alias("bucket"),
            F.col("_w"),
        )
        .groupBy(*groups, "depth_idx", "bucket")
        .agg(F.sum("_w").cast("long").alias("cnt"))
    )


def cms_merge(
    sketches: Sequence[DataFrame],
    *,
    group_cols: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Merge sparse count-min sketches built with the same
    ``(width, depth, seed)``: union the cells and re-sum.  Cell-wise
    addition is associative and commutative, so daily sketches fold in
    any order — ``cms_sketch(A union B) == cms_merge([cms_sketch(A),
    cms_sketch(B)])`` cell-for-cell (the invariant the pytest
    asserts).  One bounded shuffle of state rows."""
    if not sketches:
        raise ValueError("sketches must name at least one sketch frame")
    groups = list(group_cols or [])
    u = sketches[0]
    for s in sketches[1:]:
        u = u.unionByName(s)
    return u.groupBy(*groups, "depth_idx", "bucket").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )


def _require_global_cms(sketch: DataFrame, op: str) -> None:
    """Reject grouped sketches where joining on (depth_idx, bucket)
    alone would silently mix groups' cells."""
    extra = [c for c in sketch.columns if c not in ("depth_idx", "bucket", "cnt")]
    if extra:
        raise ValueError(
            f"{op} needs a GLOBAL sketch (depth_idx, bucket, cnt); this one "
            f"carries group columns {extra} — filter to one group and drop "
            "them first (joining on cells alone would mix groups)"
        )


def cms_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    value_col: str,
    *,
    width: int,
    depth: int,
    seed: int = 0,
    out_col: str = "cms_count",
) -> DataFrame:
    """Point-query a count-min sketch: for each distinct probe value,
    the estimate is the MIN over the ``depth`` hash rows of that
    value's cell (absent cell = 0).  Returns ``(value_col, out_col)``.
    Never undershoots the true count; overshoot is bounded by
    collisions (see :func:`cms_sketch`).

    Plan: probes explode ``depth`` ways, the sketch side is broadcast
    (bounded by ``depth x width`` rows), and the min folds back — no
    shuffle touches the probed table beyond its own distinct.

    Accepts GLOBAL sketches only (``(depth_idx, bucket, cnt)``): a
    grouped sketch would silently mix every group's cells into one
    min, so it is rejected — filter to one group first."""
    if width < 2:
        raise ValueError(f"width must be >= 2, got {width}")
    if depth < 1:
        raise ValueError(f"depth must be >= 1, got {depth}")
    _require_global_cms(sketch, "cms_estimate")
    pb = (
        probes.where(F.col(value_col).isNotNull())
        .select(F.col(value_col).alias("_v"))
        .distinct()
        .select(
            F.col("_v"),
            F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("depth_idx"),
        )
        .withColumn(
            "bucket",
            cms_bucket_expr(F.col("_v"), F.col("depth_idx"), width=width, seed=seed),
        )
    )
    joined = pb.join(F.broadcast(sketch), ["depth_idx", "bucket"], "left")
    return (
        joined.groupBy("_v")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias(out_col))
        .withColumnRenamed("_v", value_col)
    )


def cms_join_size(sk_a: DataFrame, sk_b: DataFrame) -> DataFrame:
    """Equi-join cardinality estimate from two count-min sketches built
    with the same ``(width, depth, seed)`` on the respective join keys
    (Cormode & Muthukrishnan's inner-product estimate): per depth row,
    the sum over buckets of ``cntA * cntB``; the estimate is the MIN
    over rows.  Never undershoots ``|A JOIN B|`` — collisions only add.
    Returns one row: ``(join_size_estimate)``.

    This is the classic optimizer probe: size a prospective join from
    two bounded state tables (``depth x width`` rows each) without
    touching either input — decide broadcast vs shuffle vs prefilter
    (cf. :mod:`dbldatagen_spark.functions.bloom`) before paying for the
    real thing.  Cells absent from either side contribute zero, so the
    sparse inner join is exact.  Products accumulate in
    ``decimal(38,0)`` (two near-2^63 cells would overflow a long) and
    the final estimate is emitted as a long.

    Accepts GLOBAL sketches only — a grouped sketch would silently sum
    cross-group cell products; filter to one group first.
    """
    _require_global_cms(sk_a, "cms_join_size")
    _require_global_cms(sk_b, "cms_join_size")
    a = sk_a.select(
        "depth_idx", "bucket", F.col("cnt").cast("decimal(19,0)").alias("_ca")
    )
    b = sk_b.select(
        "depth_idx", "bucket", F.col("cnt").cast("decimal(19,0)").alias("_cb")
    )
    sums = (
        a.join(F.broadcast(b), ["depth_idx", "bucket"])
        .groupBy("depth_idx")
        .agg(F.sum((F.col("_ca") * F.col("_cb")).cast("decimal(38,0)")).alias("_s"))
    )
    # a depth row with NO overlapping cells has inner-product 0 — it must
    # drive the min to 0, not vanish from the inner join
    spine = a.select("depth_idx").union(b.select("depth_idx")).distinct()
    per_row = spine.join(sums, "depth_idx", "left").select(
        F.coalesce(F.col("_s"), F.lit(0).cast("decimal(38,0)")).alias("_s")
    )
    return per_row.agg(
        F.coalesce(F.min("_s").cast("long"), F.lit(0).cast("long")).alias(
            "join_size_estimate"
        )
    )


def histogram_sketch(
    df: DataFrame,
    value_col: str,
    *,
    lo: float,
    hi: float,
    bins: int,
    group_cols: Optional[Sequence[str]] = None,
    weight_col: Optional[str] = None,
) -> DataFrame:
    """Fixed-bin histogram sketch of ``value_col``:
    ``group_cols + (bin, cnt)`` in sparse form (empty bins absent).
    Bin ``i`` covers ``[lo + i*w, lo + (i+1)*w)`` with
    ``w = (hi - lo) / bins``; values outside ``[lo, hi]`` clamp into
    the edge bins (documented, not silent — the edge-bin mass IS the
    out-of-range mass).  Bin increments commute, so like
    :func:`cms_sketch` the result is order-independent and an external
    SQL oracle reproduces it bin-for-bin — this is the mergeable
    approximate-quantile path (:func:`histogram_quantiles`), where
    exact ``percentile`` would need a full sort and Spark's
    ``approx_percentile`` state is neither mergeable across engines
    nor replayable.

    One map-side-combined hash-agg; only ``(group, bin-int)`` pairs
    shuffle and the sketch is at most ``groups x bins`` rows.
    ``weight_col`` (non-negative integer weights) switches bins from
    row counts to weight sums — e.g. a token-mass distribution over
    document quality scores; :func:`histogram_quantiles` then answers
    "below what score sits 90% of the TOKENS" instead of documents.
    """
    if bins < 1:
        raise ValueError(f"bins must be >= 1, got {bins}")
    if not hi > lo:
        raise ValueError(f"need hi > lo, got lo={lo} hi={hi}")
    groups = list(group_cols or [])
    w = (float(hi) - float(lo)) / float(bins)
    b = F.floor((F.col(value_col).cast("double") - F.lit(float(lo))) / F.lit(w))
    clamped = F.least(F.lit(bins - 1), F.greatest(F.lit(0), b.cast("int")))
    w_expr = (
        F.count(F.lit(1)).cast("long")
        if weight_col is None
        else F.sum(F.col(weight_col).cast("long")).cast("long")
    )
    return (
        df.where(F.col(value_col).isNotNull())
        .groupBy(*groups, clamped.alias("bin"))
        .agg(w_expr.alias("cnt"))
    )


def histogram_merge(
    sketches: Sequence[DataFrame],
    *,
    group_cols: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Merge histogram sketches built with the same ``(lo, hi, bins)``:
    union the bins and re-sum.  Associative and commutative —
    ``histogram_sketch(A union B) == histogram_merge([sketch(A),
    sketch(B)])`` bin-for-bin."""
    if not sketches:
        raise ValueError("sketches must name at least one sketch frame")
    groups = list(group_cols or [])
    u = sketches[0]
    for s in sketches[1:]:
        u = u.unionByName(s)
    return u.groupBy(*groups, "bin").agg(F.sum("cnt").cast("long").alias("cnt"))


def histogram_quantiles(
    sketch: DataFrame,
    qs: Sequence[float],
    *,
    lo: float,
    hi: float,
    bins: int,
    group_cols: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Quantile estimates from a :func:`histogram_sketch`: per group
    and per ``q`` in ``qs`` (each in ``(0, 1]``), walk the cumulative
    bin counts to the first bin where ``cum >= q*n`` and interpolate
    linearly inside it (uniform-within-bin assumption — the same
    estimator as Prometheus' ``histogram_quantile``; error is bounded
    by one bin width, this is NOT exact ``percentile_cont``).  Returns
    ``group_cols + (q, estimate)``.

    When ``q*n`` lands exactly on a bin boundary the walk resolves to
    the earlier bin at fraction 1.0 — the shared edge — so the answer
    is single-valued and an external cumulative-sum oracle agrees
    bit-for-bit (all-double interpolation arithmetic, no rounding).

    Plan: the per-group bin list is bounded by ``bins``, so the sort +
    fold runs on arrays of known size — one bounded ``collect_list``
    per group, one explode over ``len(qs)`` probes, no window over the
    data.
    """
    if not qs:
        raise ValueError("qs must name at least one quantile")
    for q in qs:
        if not (0.0 < q <= 1.0):
            raise ValueError(f"each q must be in (0, 1], got {q}")
    if bins < 1:
        raise ValueError(f"bins must be >= 1, got {bins}")
    if not hi > lo:
        raise ValueError(f"need hi > lo, got lo={lo} hi={hi}")
    groups = list(group_cols or [])
    w = (float(hi) - float(lo)) / float(bins)
    packed = sketch.groupBy(*groups).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("bin").alias("b"), F.col("cnt").alias("c")))
        ).alias("_bins"),
        F.sum("cnt").cast("long").alias("_n"),
    )
    probes = packed.select(
        *groups,
        "_bins",
        "_n",
        F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q"),
    )
    target = F.col("q") * F.col("_n").cast("double")
    # fold state: (cum long, found bool, bin int, before long, cnt long)
    init = F.struct(
        F.lit(0).cast("long").alias("cum"),
        F.lit(False).alias("found"),
        F.lit(0).alias("bin"),
        F.lit(0).cast("long").alias("before"),
        F.lit(0).cast("long").alias("cnt"),
    )

    def _step(acc, e):
        newcum = acc["cum"] + e["c"]
        hit = (~acc["found"]) & (newcum.cast("double") >= target)
        return F.struct(
            newcum.alias("cum"),
            (acc["found"] | hit).alias("found"),
            F.when(hit, e["b"]).otherwise(acc["bin"]).alias("bin"),
            F.when(hit, acc["cum"]).otherwise(acc["before"]).alias("before"),
            F.when(hit, e["c"]).otherwise(acc["cnt"]).alias("cnt"),
        )

    st = F.aggregate(F.col("_bins"), init, _step)
    frac = (target - st["before"].cast("double")) / st["cnt"].cast("double")
    est = F.lit(float(lo)) + (st["bin"].cast("double") + frac) * F.lit(w)
    return probes.select(
        *groups,
        F.col("q"),
        F.when(F.col("_n") > 0, est).alias("estimate"),
    )


def cms_heavy_hitters(
    df: DataFrame,
    value_col: str,
    *,
    threshold,
    width: int = 256,
    depth: int = 4,
    seed: int = 0,
) -> DataFrame:
    """Heavy hitters with NO false negatives: values whose frequency
    reaches ``threshold``, found by screening every distinct value
    against a count-min sketch and exactly counting only the survivors.
    Returns ``(value_col, cms_count, exact_count, is_heavy)`` for the
    screened candidates — ``is_heavy`` marks true hitters; screened-in
    impostors (CMS collisions) surface with ``is_heavy = false`` rather
    than silently vanishing, so the screen's precision is auditable.

    The guarantee direction is the useful one: CMS never undershoots,
    so every true heavy hitter survives the screen; the exact pass then
    removes the overshoot impostors.  The exact count runs only over
    rows whose value survived (a broadcast semi join of candidate
    values prunes the scan before the count shuffles).

    Scale shape: screening is sketch-sized work (:func:`cms_estimate`);
    the exact pass shuffles only rows of surviving values — with a
    sane ``threshold`` that is a vanishing fraction of the input.
    Size ``width`` for the screen to earn its keep: the average cell
    holds ``n/width``, so ``width >> n/threshold`` keeps collision
    noise under the threshold and the survivor set near the true
    hitters; a too-narrow sketch still returns correct answers but
    screens everything in and the exact pass degenerates to a full
    count (the registry query demonstrates this failure mode on
    purpose at width=32).

    ``threshold`` is an ``int``, or a ONE-row DataFrame whose first
    column is the (integer) threshold — the data-derived-threshold
    case ("1.3x the mean count"): passing the aggregate as a frame
    rides it into the plan as a broadcast instead of forcing an eager
    scalar job per call (one fewer full scan + countDistinct shuffle
    before the real plan; the screen itself is unchanged).
    """
    if isinstance(threshold, DataFrame):
        tf = threshold.select(
            F.col(threshold.columns[0]).cast("long").alias("__cms_thr")
        )
        thr = F.col("__cms_thr")
        screen = lambda est: est.crossJoin(F.broadcast(tf)).where(  # noqa: E731
            F.col("cms_count") >= thr
        )
    else:
        if threshold < 1:
            raise ValueError(f"threshold must be >= 1, got {threshold}")
        thr = F.lit(int(threshold))
        screen = lambda est: est.where(F.col("cms_count") >= thr)  # noqa: E731
    sk = cms_sketch(df, value_col, width=width, depth=depth, seed=seed)
    screened = screen(
        cms_estimate(sk, df, value_col, width=width, depth=depth, seed=seed)
    )
    # no broadcast hint on purpose: a well-sized screen survives few
    # values, but a too-low threshold makes the survivor set input-sized
    # and a forced broadcast would OOM the driver — AQE picks broadcast
    # when the set is actually small
    pruned = df.join(screened.select(value_col), value_col, "semi")
    exact = pruned.groupBy(value_col).agg(
        F.count(F.lit(1)).cast("long").alias("exact_count")
    )
    return screened.join(exact, value_col).select(
        value_col,
        "cms_count",
        "exact_count",
        (F.col("exact_count") >= thr).alias("is_heavy"),
    )


def _hll_alpha(m: int) -> float:
    """Bias-correction constant from Flajolet et al. 2007 ("HyperLogLog:
    the analysis of a near-optimal cardinality estimation algorithm")."""
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_register_exprs(
    value: Column, *, p: int = 8, seed: int = 0
) -> tuple[Column, Column]:
    """``(bucket, rho)`` for one value under a ``2^p``-register HLL over
    the repo's portable 60-bit md5 hash basis (:func:`kmv_hash_expr`).
    The LOW ``p`` bits pick the register; ``rho`` is the position of
    the highest set bit counted from the top of the remaining
    ``60 - p`` bits (1-based; an all-zero remainder scores
    ``60 - p + 1``).  Integer-only, so a SQL oracle replays it exactly:
    ``bucket = h % 2^p``, ``rem = h // 2^p``,
    ``rho = CASE WHEN rem = 0 THEN 61 - p ELSE 61 - p - length(bin(rem))
    END``.  NOTE ``h DIV 2^p`` must be an INTEGER division — a float
    ``floor(h / 2^p)`` loses bits past 2^53 and derails the oracle.
    """
    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4, 16], got {p}")
    h = kmv_hash_expr(value, seed=seed)
    bucket = (h % F.lit(1 << p)).cast("int")
    rem = F.shiftright(h, p)
    rmax = 61 - p
    rho = (
        F.when(rem == 0, F.lit(rmax))
        .otherwise(F.lit(rmax) - F.length(F.bin(rem)))
        .cast("int")
    )
    return bucket, rho


def hll_estimate_expr(registers: Column, *, p: int = 8) -> Column:
    """Cardinality estimate from a dense ``array<int>`` register vector
    (0 = empty register).  Engine-portable by construction: the
    indicator sum ``S = sum_j 2^(rmax - r_j)`` is computed in BIGINT
    (each term is an exact power of two, the sum is order-independent
    integer arithmetic, and ``max S = 2^61`` fits), so the only float
    steps are ONE division by ``S`` and — in the small-range
    linear-counting branch (Flajolet's ``E <= 2.5m`` rule) — one
    ``m * ln(m / zeros)``.  A DuckDB oracle replays both bit-for-bit.
    """
    m = 1 << p
    rmax = 61 - p
    s_int = F.aggregate(
        registers,
        F.lit(0).cast("long"),
        lambda acc, r: acc
        + F.pow(F.lit(2.0), F.lit(rmax) - r).cast("long"),
    )
    zeros = F.size(F.filter(registers, lambda r: r == 0))
    # alpha * m^2 * 2^rmax collapsed to one Python-computed literal so
    # both engines parse the identical double and divide once
    c = _hll_alpha(m) * float(m) * float(m) * float(1 << rmax)
    raw = F.lit(c) / s_int.cast("double")
    linear = F.lit(float(m)) * F.log(F.lit(float(m)) / zeros)
    return F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0), linear
    ).otherwise(raw)


def hll_merge_expr(sketches: Column, *, p: int = 8) -> Column:
    """Merge an ``array<array<int>>`` of dense register vectors by
    element-wise max — the lossless HLL union law (associative,
    commutative, idempotent), same contract as :func:`kmv_merge_expr`."""
    m = 1 << p
    empty = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)), lambda i: F.lit(0)
    )
    return F.aggregate(
        sketches,
        empty,
        lambda acc, s: F.zip_with(acc, s, lambda a, b: F.greatest(a, b)),
    )


def hll_sketch(
    df: DataFrame,
    value_col: str,
    *,
    group_cols: Optional[Sequence[str]] = None,
    p: int = 8,
    seed: int = 0,
) -> DataFrame:
    """Per-group HyperLogLog sketch of ``value_col``'s distinct count
    (Flajolet, Fusy, Gandouet & Meunier 2007).  Returns ``group_cols +
    (registers array<int> of length 2^p, n_zero_registers,
    dv_estimate)``.  NULLs are excluded (``COUNT(DISTINCT)``
    semantics).

    Why next to :func:`kmv_sketch`: KMV keeps ``k`` longs and answers
    set operations; HLL keeps ``2^p`` BYTES-worth of small ints and
    wins when only cardinality is needed — the classic trade.  Unlike
    Spark's ``approx_count_distinct`` (whose HLL state is opaque and
    engine-specific), these registers are a plain column built on the
    portable md5 basis: storable, mergeable (:func:`hll_merge_expr`),
    and exactly replayable by a DuckDB oracle.

    Scale shape: ``(group, bucket) -> max(rho)`` is a hash aggregate
    with map-side combine — at most ``groups * 2^p`` rows shuffle, each
    a couple of ints, regardless of row count.  The dense register
    vector is assembled AFTER that reduction (``map_from_entries`` over
    <= ``2^p`` entries per group), never per input row.
    """
    groups = list(group_cols or [])
    bucket, rho = hll_register_exprs(F.col(value_col), p=p, seed=seed)
    m = 1 << p
    per_bucket = (
        df.where(F.col(value_col).isNotNull())
        .select(*groups, bucket.alias("_b"), rho.alias("_r"))
        .groupBy(*groups, "_b")
        .agg(F.max("_r").alias("_r"))
    )
    as_map = per_bucket.groupBy(*groups).agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("_b"), F.col("_r")))
        ).alias("_m")
    )
    # try_element_at, not element_at: sparse groups are GUARANTEED to
    # miss buckets, and ANSI mode makes map element_at throw on a
    # missing key (same convention as pq_adc_topk in similarity.py)
    registers = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda i: F.coalesce(F.try_element_at(F.col("_m"), i), F.lit(0)),
    )
    out = as_map.select(*groups, registers.alias("registers"))
    return out.select(
        *groups,
        "registers",
        F.size(F.filter(F.col("registers"), lambda r: r == 0))
        .cast("int")
        .alias("n_zero_registers"),
        hll_estimate_expr(F.col("registers"), p=p).alias("dv_estimate"),
    )
