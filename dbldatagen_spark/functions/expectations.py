"""Data-quality gates: declarative expectations and distribution drift.

The generation side of this engine enforces constraints while *writing*
data; these operators are the consuming side's mirror — assert properties
of data you *received*, before training on it:

- :func:`expectation_report` evaluates a rule set in ONE scan (every
  rule becomes a conditional count in the same aggregation — no
  per-rule pass, no collect);
- :func:`psi_report` quantifies distribution drift between a reference
  sample and a production sample with the Population Stability Index
  over exact-quantile buckets (the standard go/no-go monitor for
  feature and score drift).
"""

from __future__ import annotations

from typing import Mapping, Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbldatagen_spark.functions._hashing import md5_60


def expectation_report(
    df: DataFrame,
    rules: Mapping[str, str],
) -> DataFrame:
    """Evaluate named boolean SQL expectations against every row.

    ``rules`` maps a rule name to a SQL boolean expression (evaluated
    with ``F.expr``, NULL counts as a failure — an unknown is not a
    pass). Returns one row per rule:

    ``(rule, n_rows, n_pass, n_fail)``

    sorted by rule name. The whole report is ONE map-side-combined
    aggregation over a single scan — adding rules adds expressions, not
    passes — so it costs the same at 100 TB as the cheapest count.
    """
    if not rules:
        raise ValueError("rules must be non-empty")
    aggs = [F.count(F.lit(1)).cast("long").alias("_n")]
    for i, (_, expr) in enumerate(sorted(rules.items())):
        aggs.append(
            F.sum(
                F.coalesce(F.expr(expr).cast("boolean"), F.lit(False)).cast(
                    "long"
                )
            ).alias(f"_p{i}")
        )
    row = df.agg(*aggs)
    names = sorted(rules)
    stack = ", ".join(f"'{n}', _p{i}" for i, n in enumerate(names))
    return (
        row.selectExpr("_n", f"stack({len(names)}, {stack}) AS (rule, n_pass)")
        .select(
            "rule",
            F.col("_n").alias("n_rows"),
            # coalesce: sum over an empty frame is NULL, but "0 rows
            # passed" is the truthful report for an empty input
            F.coalesce(F.col("n_pass").cast("long"), F.lit(0)).alias("n_pass"),
            F.coalesce(
                (F.col("_n") - F.col("n_pass")).cast("long"), F.lit(0)
            ).alias("n_fail"),
        )
        .orderBy("rule")
    )


def psi_report(
    expected: DataFrame,
    actual: DataFrame,
    value_col: str,
    *,
    num_buckets: int = 10,
    min_share: float = 1e-6,
) -> DataFrame:
    """Population Stability Index between a reference distribution and a
    current one, over the reference's exact quantile buckets.

    Bucket edges are the ``num_buckets - 1`` interior exact quantiles of
    ``expected`` (interpolated — engine-portable); both frames are
    bucketed against those SAME edges, shares are computed per bucket,
    and each bucket contributes ``(pa - pe) * ln(pa / pe)`` with shares
    clamped to ``min_share`` so empty buckets stay finite. Returns one
    row per bucket:

    ``(bucket, expected_share, actual_share, psi_term)``

    Total PSI is ``sum(psi_term)`` (conventional reading: < 0.1 stable,
    0.1–0.25 shifting, > 0.25 drifted).

    Plan shape: one bounded quantile aggregation on the reference,
    broadcast to both scans; one map-side-combined count per (frame,
    bucket); a final join of two ``num_buckets``-row frames. Values
    never shuffle.
    """
    if num_buckets < 2:
        raise ValueError(f"num_buckets must be >= 2, got {num_buckets}")
    if not 0 < min_share < 1:
        raise ValueError(f"min_share must be in (0, 1), got {min_share}")
    qs = [i / num_buckets for i in range(1, num_buckets)]
    cuts = expected.agg(
        *[
            F.expr(f"percentile({value_col}, {q!r})").alias(f"_q{i}")
            for i, q in enumerate(qs)
        ]
    )

    def _shares(df, share_alias):
        v = F.col(value_col).cast("double")
        bucket = F.lit(1)
        for i in range(len(qs)):
            bucket = bucket + (v > F.col(f"_q{i}")).cast("int")
        counted = (
            # NULL values carry no distribution mass: left in, they form
            # a NULL bucket that silently deflates every share
            df.where(F.col(value_col).isNotNull())
            .crossJoin(F.broadcast(cuts))
            .select(bucket.alias("bucket"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("_c"))
        )
        total = counted.agg(F.sum("_c").alias("_t"))
        return counted.crossJoin(F.broadcast(total)).select(
            "bucket", (F.col("_c") / F.col("_t")).alias(share_alias)
        )

    e = _shares(expected, "expected_share")
    a = _shares(actual, "actual_share")
    lo = F.lit(float(min_share))
    pe = F.greatest(F.coalesce(F.col("expected_share"), F.lit(0.0)), lo)
    pa = F.greatest(F.coalesce(F.col("actual_share"), F.lit(0.0)), lo)
    # canonical bucket spine + two broadcast LEFT joins: a full outer
    # join here cannot broadcast (Spark plans it sort-merge); the spine
    # keeps both joins broadcast AND guarantees every bucket row exists
    # even when one side leaves a bucket empty
    spine = expected.sparkSession.range(1, num_buckets + 1).select(
        F.col("id").cast("int").alias("bucket")
    )
    return (
        spine.join(F.broadcast(e), "bucket", "left")
        .join(F.broadcast(a), "bucket", "left")
        .select(
            F.col("bucket").cast("int").alias("bucket"),
            F.round(F.coalesce(F.col("expected_share"), F.lit(0.0)), 6).alias(
                "expected_share"
            ),
            F.round(F.coalesce(F.col("actual_share"), F.lit(0.0)), 6).alias(
                "actual_share"
            ),
            F.round((pa - pe) * F.log(pa / pe), 6).alias("psi_term"),
        )
        .orderBy("bucket")
    )


def sequence_gaps(
    df: DataFrame,
    id_col: str,
    *,
    bucket_size: int = 1_000_000,
) -> DataFrame:
    """Find missing ranges in a supposedly-contiguous id sequence — the
    ingestion QA check for "did we drop events between min and max".

    Returns ``(gap_start, gap_end, gap_len)`` for every maximal missing
    run strictly inside ``[min(id), max(id)]``, sorted by ``gap_start``.

    Scale shape: a naive ``lag() OVER (ORDER BY id)`` funnels the whole
    table through ONE task. Instead ids are bucketed by
    ``id // bucket_size``; within-bucket gaps come from a lag window
    over the bucket partitioning (parallel across buckets), and
    cross-bucket gaps — including whole missing buckets — come from a
    lag over the per-bucket (min, max) summary, which is bounded at one
    row per bucket. Duplicate ids are harmless (dedup happens on the
    bucketed projection of ids only).
    """
    if bucket_size < 2:
        raise ValueError(f"bucket_size must be >= 2, got {bucket_size}")
    from pyspark.sql import Window

    ids = df.select(F.col(id_col).cast("long").alias("_id")).distinct()
    b = ids.withColumn("_b", F.floor(F.col("_id") / F.lit(int(bucket_size))))

    w_in = Window.partitionBy("_b").orderBy("_id")
    inner = (
        b.withColumn("_prev", F.lag("_id").over(w_in))
        .where(F.col("_prev").isNotNull() & (F.col("_id") > F.col("_prev") + 1))
        .select(
            (F.col("_prev") + 1).alias("gap_start"),
            (F.col("_id") - 1).alias("gap_end"),
        )
    )

    summary = b.groupBy("_b").agg(
        F.min("_id").alias("_lo"), F.max("_id").alias("_hi")
    )
    w_s = Window.orderBy("_b")  # one row per bucket — bounded, not row-scale
    cross = (
        summary.withColumn("_prev_hi", F.lag("_hi").over(w_s))
        .where(
            F.col("_prev_hi").isNotNull()
            & (F.col("_lo") > F.col("_prev_hi") + 1)
        )
        .select(
            (F.col("_prev_hi") + 1).alias("gap_start"),
            (F.col("_lo") - 1).alias("gap_end"),
        )
    )

    return (
        inner.union(cross)
        .select(
            "gap_start",
            "gap_end",
            (F.col("gap_end") - F.col("gap_start") + 1).alias("gap_len"),
        )
        .orderBy("gap_start")
    )


def schema_diff(before: DataFrame, after: DataFrame) -> DataFrame:
    """Schema-evolution report between two frames (yesterday's table vs
    today's): one row per difference —

    ``(column, change, before_type, after_type)``

    with ``change`` in ``added`` / ``removed`` / ``type_changed``.
    Purely metadata (no job runs, nothing is scanned); the result is a
    small local DataFrame so it can join into expectation pipelines.
    Nullability changes are ignored on purpose — parquet writers flip
    nullability freely and alerting on it is noise.
    """
    b = {f.name: f.dataType.simpleString() for f in before.schema.fields}
    a = {f.name: f.dataType.simpleString() for f in after.schema.fields}
    rows = []
    for name in sorted(set(b) | set(a)):
        if name not in a:
            rows.append((name, "removed", b[name], None))
        elif name not in b:
            rows.append((name, "added", None, a[name]))
        elif b[name] != a[name]:
            rows.append((name, "type_changed", b[name], a[name]))
    spark = before.sparkSession
    return spark.createDataFrame(
        rows, "column string, change string, before_type string, after_type string"
    )


def missing_periods(
    df: DataFrame,
    ts_col: str,
    *,
    period: str = "day",
    group_col: Optional[str] = None,
) -> DataFrame:
    """Calendar-spine completeness check: which ``period`` buckets
    between a series' first and last observation have NO data — the
    time-based sibling of :func:`sequence_gaps` ("did we ingest
    anything for March 14th"), per group when ``group_col`` is given.

    Returns ``(group?, missing_start)`` — one row per empty bucket,
    sorted. The spine explodes per group from (min, max) only — bounded
    by span/period, never by row count — and the observed buckets
    arrive pre-aggregated, so the anti-join compares two bucket-count-
    sized sets, not events.
    """
    if period not in ("day", "week", "month", "hour"):
        raise ValueError(
            f"period must be hour|day|week|month, got {period!r}"
        )
    p = F.date_trunc(period, F.col(ts_col).cast("timestamp"))
    keys = [group_col] if group_col else []
    observed = df.select(*keys, p.alias("_p")).distinct()
    step = {
        "hour": "interval 1 hour",
        "day": "interval 1 day",
        "week": "interval 7 days",
        "month": "interval 1 month",
    }[period]
    spans = observed.groupBy(*keys).agg(
        F.min("_p").alias("_lo"), F.max("_p").alias("_hi")
    )
    spine = spans.select(
        *keys,
        F.explode_outer(
            F.expr(f"sequence(_lo, _hi, {step})")
        ).alias("_p"),
    ).where(F.col("_p").isNotNull())
    out_cols = [*keys, F.col("_p").alias("missing_start")]
    return (
        spine.join(observed, [*keys, "_p"], "left_anti")
        .select(*out_cols)
        .orderBy(*keys, "missing_start")
    )


def table_checksum(
    df: DataFrame,
    cols: Sequence[str],
    *,
    seed: int = 0,
) -> DataFrame:
    """Order-independent content checksum of ``cols``: one row
    ``(n_rows, checksum)`` where ``checksum`` is the exact
    ``decimal(38,0)`` SUM of each row's 60-bit md5-derived hash of the
    ``:``-joined column values (NULL encoded as an explicit sentinel so
    ``(NULL, 'x')`` and ``('x', NULL)`` differ). Two frames hold the
    same multiset of rows over ``cols`` iff their ``(n_rows,
    checksum)`` pairs match (modulo the astronomically unlikely sum
    collision) — dataset equality at 100 TB without a sort, a shuffle,
    or moving either table: one scan each, map-side partial sums, a
    single number compared.

    The hash is the repo's engine-portable md5 idiom, so an external
    system (or the DuckDB oracle) recomputes the identical checksum —
    cross-engine replication verification, not just Spark-vs-Spark.
    Column VALUES are compared as their canonical string forms; for
    doubles use only when both sides render identically (ints, strings,
    dates are always safe).

    Summation is commutative, so the checksum is also incrementally
    maintainable: checksum(A union B) = checksum(A) + checksum(B) row
    counts and sums both add (the pytest asserts it).
    """
    if not cols:
        raise ValueError("cols must name at least one column")
    parts: list = []
    for c in cols:
        parts.append(F.coalesce(F.col(c).cast("string"), F.lit("\x00null\x00")))
    row_str = F.concat_ws(":", F.lit(seed), *parts)
    hv = md5_60(row_str).cast("decimal(38,0)")
    return df.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.coalesce(F.sum(hv), F.lit(0).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("checksum"),
    )


def benford_report(
    df: DataFrame,
    value_col: str,
) -> DataFrame:
    """First-digit distribution vs Benford's law — the classic
    integrity screen for naturally occurring magnitudes (payments,
    populations, file sizes): fabricated or truncated data deviates
    from ``P(d) = log10(1 + 1/d)``.  Considers strictly positive
    values' leading significant digit.  Returns one row per digit 1-9:
    ``(digit, n, observed_frac, expected_frac, abs_dev)`` — judge with
    the usual caveats (needs several orders of magnitude of spread;
    assigned numbers like ids or prices-ending-in-9 legitimately
    deviate).

    Engine-exact: the leading digit comes from string arithmetic (no
    float log in the digit path), ``observed_frac`` is an integer
    ratio, ``expected_frac`` a closed-form double — every value
    reproduces bit-for-bit in an external replay.

    Plan: one map-side-combined 9-group aggregation over the scan; a
    broadcast single-row total joins back. Nothing else moves.
    """
    v = F.col(value_col).cast("double")
    # leading significant digit via the string form: first char of the
    # digits of abs(v) with the decimal point and leading zeros removed
    digits = F.regexp_replace(
        F.regexp_replace(F.abs(v).cast("string"), r"[.\-]", ""), r"^0+", ""
    )
    first = F.substring(digits, 1, 1).cast("int")
    base = (
        df.where(v > 0.0)
        .select(first.alias("digit"))
        .where(F.col("digit").between(1, 9))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    total = base.agg(F.sum("n").cast("double").alias("_total"))
    expected = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double"))
    return (
        base.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n",
            (F.col("n").cast("double") / F.col("_total")).alias("observed_frac"),
            expected.alias("expected_frac"),
            F.abs(
                F.col("n").cast("double") / F.col("_total") - expected
            ).alias("abs_dev"),
        )
        .orderBy("digit")
    )
