"""PII detection / redaction over text columns — pure Catalyst expressions.

A large-scale training-data pipeline scrubs personally identifiable
information before anything else touches the corpus. Everything here is
``regexp_replace`` / ``regexp_count`` over the scan — no UDFs, no shuffle:
at 100 TB the operator runs entirely inside the parquet-scan stage and
costs one pass over the bytes.

Patterns deliberately use the common regex subset (character classes,
bounded quantifiers, word boundaries) that Java regex (Spark) and RE2
(DuckDB, used by the correctness oracle) interpret identically.

No counterpart in the reference repo (its scope ends at data generation);
this extends the pipeline surface the same way ``functions/dedup.py`` does.
"""

from __future__ import annotations

from typing import Dict, Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dbldatagen_spark.functions._hashing import md5_60
from dbldatagen_spark.functions._parallel import ensure_parallelism

# A real IPv4 octet: 0-255 with no leading-zero tolerance beyond "0"
# itself. Keeps "1.2.3.999"-style version strings out of the [IP] bucket;
# a four-segment string of valid octets ("release 1.2.3.4") still matches
# — redaction-side false positives are the safe direction for a training
# pipeline, and no lookaround-free regex can tell the two apart (RE2, the
# oracle's engine, has no lookbehind).
_OCTET = r"(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"

# kind -> (pattern, replacement token). Order matters: more specific
# patterns run first so e.g. an SSN is not half-eaten by the phone rule.
PII_PATTERNS: Dict[str, Tuple[str, str]] = {
    "email": (
        r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
        "[EMAIL]",
    ),
    "ssn": (
        r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b",
        "[SSN]",
    ),
    # area code either fully parenthesized or starting at a word boundary —
    # "(555) 123-4567" and "555-123-4567" match; the mismatched-paren
    # "555) 123-4567" and a mid-number start ("0555 123-4567") do not.
    "phone": (
        r"(\([0-9]{3}\)|\b[0-9]{3})[-. ][0-9]{3}[-.][0-9]{4}\b",
        "[PHONE]",
    ),
    "ipv4": (
        rf"\b{_OCTET}(\.{_OCTET}){{3}}\b",
        "[IP]",
    ),
    "credit_card": (
        r"\b[0-9]{4}[- ][0-9]{4}[- ][0-9]{4}[- ][0-9]{4}\b",
        "[CARD]",
    ),
}

_DEFAULT_KINDS = tuple(PII_PATTERNS)


def redact_text_expr(
    text: Column, kinds: Sequence[str] = _DEFAULT_KINDS
) -> Column:
    """Expression producing ``text`` with each PII kind replaced by its
    bracket token, applied in declaration order."""
    out = text
    for kind in kinds:
        pattern, token = PII_PATTERNS[kind]
        out = F.regexp_replace(out, pattern, token)
    return out


def redact_pii(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    kinds: Optional[Sequence[str]] = None,
    counts: bool = True,
) -> DataFrame:
    """Scrub PII from ``text_col``; returns ``(id, redacted, n_<kind>...)``.

    ``counts=True`` additionally reports per-kind match counts (taken
    BEFORE redaction, so overlapping kinds each see the original text).
    The whole operator is map-only: one projection over the scan, no
    shuffle, codegen-friendly at any scale.
    """
    use = tuple(kinds) if kinds is not None else _DEFAULT_KINDS
    unknown = [k for k in use if k not in PII_PATTERNS]
    if unknown:
        raise ValueError(f"unknown PII kinds: {unknown}; known: {list(PII_PATTERNS)}")
    df = ensure_parallelism(df)
    text = F.col(text_col)
    cols = [F.col(id_col), redact_text_expr(text, use).alias("redacted")]
    if counts:
        for kind in use:
            pattern, _ = PII_PATTERNS[kind]
            cols.append(
                F.regexp_count(text, F.lit(pattern)).cast("long").alias(f"n_{kind}")
            )
    return df.select(*cols)


def k_anonymity_report(
    df: DataFrame,
    quasi_cols: Sequence[str],
    *,
    sensitive_col: Optional[str] = None,
    k_threshold: int = 5,
) -> DataFrame:
    """Per-equivalence-class k-anonymity (and, with ``sensitive_col``,
    l-diversity) report — the release gate for quasi-identifier
    combinations in a training or published dataset.

    One row per distinct combination of ``quasi_cols``:
    ``(quasi..., class_size, violates_k[, l_distinct, l_distinct ==
    1 -> homogeneous])``. A class smaller than ``k_threshold`` is
    re-identifiable (``violates_k``); a class whose sensitive attribute
    takes a single value leaks it outright (``homogeneous``).

    One hash aggregation on the quasi columns with map-side combine —
    the output is bounded by distinct quasi combinations, not rows, so
    the report stays small at any corpus size.
    """
    if not quasi_cols:
        raise ValueError("quasi_cols must be non-empty")
    if k_threshold < 1:
        raise ValueError(f"k_threshold must be >= 1, got {k_threshold}")
    aggs = [F.count(F.lit(1)).cast("long").alias("class_size")]
    if sensitive_col is not None:
        aggs.append(
            F.count_distinct(F.col(sensitive_col)).cast("long").alias("l_distinct")
        )
    out = df.groupBy(*[F.col(c) for c in quasi_cols]).agg(*aggs)
    out = out.withColumn("violates_k", F.col("class_size") < F.lit(k_threshold))
    if sensitive_col is not None:
        out = out.withColumn("homogeneous", F.col("l_distinct") <= 1)
    return out


def dp_noisy_counts(
    df: DataFrame,
    group_cols: Sequence[str],
    *,
    epsilon: float = 1.0,
    seed: int = 42,
) -> DataFrame:
    """Laplace-mechanism noisy counts per group — the release shape of a
    differentially-private histogram (sensitivity 1, scale
    ``1/epsilon``).

    Returns ``(group_cols..., true_count, noisy_count)`` where the noise
    is a Laplace(1/epsilon) draw derived by inverse-CDF from a 60-bit
    md5 uniform of ``(seed, group key)`` — fully deterministic and
    engine-portable, so releases are reproducible and testable by an
    oracle. THE CAVEAT THAT MAKES THIS TESTABLE ALSO BOUNDS ITS
    GUARANTEE: with a known or reused seed this is NOT differential
    privacy — in production draw ``seed`` fresh per release and treat it
    as a secret (the mechanism and its calibration are unchanged;
    only the noise source's secrecy is).

    One map-side-combined aggregation; noise is a scan-local expression
    over the (tiny) per-group result. ``true_count`` is returned for
    pipeline QA — drop it before any actual release.
    """
    if not group_cols:
        raise ValueError("group_cols must name at least one column")
    if epsilon <= 0:
        raise ValueError(f"epsilon must be positive, got {epsilon}")
    counts = df.groupBy(*[F.col(c) for c in group_cols]).agg(
        F.count(F.lit(1)).cast("long").alias("true_count")
    )
    key = F.concat_ws(
        "-", F.lit(seed), *[F.col(c).cast("string") for c in group_cols]
    )
    hv = md5_60(key)
    # u in (0, 1): never 0 or 1, so both log args stay positive
    u = (hv.cast("double") + F.lit(0.5)) / F.lit(float(1 << 60))
    b = F.lit(1.0 / float(epsilon))
    centered = u - F.lit(0.5)
    noise = -b * F.signum(centered) * F.log(
        F.lit(1.0) - F.lit(2.0) * F.abs(centered)
    )
    return counts.withColumn(
        "noisy_count", F.col("true_count") + noise
    )
