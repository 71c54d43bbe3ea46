"""Deterministic, partition-independent seeding.

The single most load-bearing property of the engine (SURVEY §7.3): the same
plan + seed must produce bit-identical data regardless of partitioning,
cluster size, or build count. ``rand(seed)`` is per-partition seeded in
Spark, so it is never used; instead every cell gets

    cell_seed = xxhash64(lit(column_seed), row_id)

which depends only on the row id and a driver-side column seed
(cf. reference ``/root/reference/dbldatagen/core/engine/seed.py:48-64`` for
the same approach; implementation here is original).

``xxhash64`` is evaluated JVM-side inside whole-stage codegen, so the cost
at 100 TB scale is one hash per cell with no Python, no shuffle, and no
state — embarrassingly parallel across executors.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from dbldatagen_spark.operators.sqltext import call, case_when, cast, sql_lit
from dbldatagen_spark.plans.spec import ROW_ID_COL  # noqa: F401  (re-exported)

_MASK64 = (1 << 64) - 1
# 2^53 keeps the uniform fraction exactly representable in a double mantissa.
_FRACTION_DENOM = 1 << 53

# Fixed odd 64-bit mixing constants (splitmix64-style) for decorrelation.
_MIX_A = 0x9E3779B97F4A7C15  # 2^64 / golden ratio
_MIX_B = 0xBF58476D1CE4E5B9
_MIX_C = 0x94D049BB133111EB
_NULL_XOR = 0xDEADBEEF  # decorrelate the null-mask stream from the value stream


def _to_signed64(v: int) -> int:
    v &= _MASK64
    return v - (1 << 64) if v >= (1 << 63) else v


def _splitmix64(x: int) -> int:
    """One splitmix64 round — public-domain mixing function."""
    x = (x + _MIX_A) & _MASK64
    x = ((x ^ (x >> 30)) * _MIX_B) & _MASK64
    x = ((x ^ (x >> 27)) * _MIX_C) & _MASK64
    return x ^ (x >> 31)


def derive_column_seed(global_seed: int, table_name: str, column_name: str) -> int:
    """Driver-side 64-bit seed for a column, decorrelated across tables and
    columns. Polynomial string hash (·31 over table, ·37 over column) folded
    into the global seed, then one splitmix64 round; wrapped to signed 64
    for use as a BIGINT literal (Spark has no unsigned long).
    """
    h = global_seed & _MASK64
    for ch in table_name:
        h = (h * 31 + ord(ch)) & _MASK64
    for ch in column_name:
        h = (h * 37 + ord(ch)) & _MASK64
    return _to_signed64(_splitmix64(h))


def decorrelate(seed: int, salt: int) -> int:
    """Derive an independent driver-side seed stream (e.g. per array index,
    per struct field, per placeholder) from a column seed."""
    return _to_signed64(_splitmix64((seed & _MASK64) ^ ((salt * _MIX_A) & _MASK64)))


def cell_seed(column_seed: int, id_col: "str | Column") -> "str | Column":
    """Per-row 64-bit seed, partition-independent: ``xxhash64(seed, id)``.

    Like the other seed primitives below it maps SQL text to SQL text; a
    ``Column`` argument (a registered distribution's ``unit_expr``, the
    copula and Markov expressions) yields a ``Column``."""
    if isinstance(id_col, Column):
        return F.xxhash64(F.lit(column_seed), id_col)
    return call("xxhash64", sql_lit(column_seed), id_col)


def uniform_fraction(seed_col: "str | Column") -> "str | Column":
    """Map a 64-bit seed to a double uniform in [0, 1).

    Uses ``pmod(seed, 2^53) / 2^53`` so every distinct fraction is exactly
    representable (53-bit mantissa) — same precision argument as reference
    ``core/engine/seed.py:67-76``.
    """
    if isinstance(seed_col, Column):
        return F.pmod(seed_col, F.lit(_FRACTION_DENOM)).cast("double") / F.lit(
            float(_FRACTION_DENOM)
        )
    return (
        f"({cast(call('pmod', seed_col, sql_lit(_FRACTION_DENOM)), 'DOUBLE')}"
        f" / {sql_lit(float(_FRACTION_DENOM))})"
    )


def uniform_fraction_open(seed_col: "str | Column") -> "str | Column":
    """Uniform in (0, 1) — safe for log()/inverse-CDF transforms."""
    if isinstance(seed_col, Column):
        return (
            F.pmod(seed_col, F.lit(_FRACTION_DENOM - 1)).cast("double") + F.lit(0.5)
        ) / F.lit(float(_FRACTION_DENOM))
    frac = cast(call("pmod", seed_col, sql_lit(_FRACTION_DENOM - 1)), "DOUBLE")
    return f"(({frac} + {sql_lit(0.5)}) / {sql_lit(float(_FRACTION_DENOM))})"


def null_mask(
    value: str, null_fraction: float, column_seed: int, id_col: str
) -> str:
    """Bernoulli null injection decorrelated from the value stream via an
    XOR'd seed (reference ``core/engine/seed.py:79-107``)."""
    if not null_fraction:
        return value
    if null_fraction >= 1.0:
        return "NULL"
    null_seed = _to_signed64((column_seed & _MASK64) ^ _NULL_XOR)
    frac = uniform_fraction(cell_seed(null_seed, id_col))
    return case_when(f"{frac} < {sql_lit(float(null_fraction))}", "NULL", value)
