"""Numeric column builders: sequences and ranged values.

All builders return a single pure ``Column`` expression over the row-id /
cell-seed columns (reference semantics:
``/root/reference/dbldatagen/core/engine/columns/numeric.py:88-213`` and
``core/engine/columns/pk.py:12-27``; implementation original).

Scale notes:

* integral ranges sample a *lattice index* then apply ``idx*step + min`` —
  two multiplies and an add per cell, fully codegen'd;
* ``F.pmod`` (not ``%``) everywhere: Spark ``%`` is signed and xxhash64
  seeds are frequently negative (SURVEY §7.3 "negative modulo");
* values are clamped *before* any narrowing cast so the engine is safe
  under ``spark.sql.ansi.enabled=true`` (no silent overflow, no runtime
  error).
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

from dbldatagen_spark.operators.distributions import (
    index_expr,
    unit_expr,
)
from dbldatagen_spark.plans.spec import (
    RangeColumn,
    SequenceColumn,
    Uniform,
    WeightedValues,
    decimal_precision_scale,
)

_SPARK_TYPE = {
    "byte": "tinyint",
    "short": "smallint",
    "int": "int",
    "long": "bigint",
    "float": "float",
    "double": "double",
    "boolean": "boolean",
    "string": "string",
    "date": "date",
    "timestamp": "timestamp",
    "binary": "binary",
}

_LATTICE_EPS = 1e-9


def spark_type_name(dtype: str) -> str:
    """Map a canonical spec dtype to a Spark SQL cast target."""
    if dtype.startswith("decimal"):
        p, s = decimal_precision_scale(dtype)
        return f"decimal({p},{s})"
    return _SPARK_TYPE[dtype]


def sequence_expr(strategy: SequenceColumn, id_col: Column, dtype: str) -> Column:
    """``start + row_id * step`` — the reconstructible PK workhorse."""
    value = id_col.cast("long") * F.lit(int(strategy.step)) + F.lit(
        int(strategy.start)
    )
    return value.cast(spark_type_name(dtype))


def range_count(strategy: RangeColumn, dtype: str) -> int:
    """Number of points on the inclusive lattice :func:`range_expr` steps
    through for ``dtype`` (``step`` defaults to 1).  Integral dtypes count
    exactly in integer arithmetic up to ``floor(max_value)``, so no point
    lies above ``max_value`` at any span.  Fractional and decimal dtypes
    count ``floor(span/step + eps) + 1`` in double, so 1.0..5.0 step 0.5 has
    the 9 points 1.0, 1.5, ..., 5.0; the 1e-9 epsilon absorbs float
    representation error in ``span/step``.  (The reference's F4 fixture
    counts 8 values under a half-open convention.)
    """
    step = strategy.step or 1
    if dtype in ("byte", "short", "int", "long"):
        lo, hi = int(strategy.min_value), math.floor(strategy.max_value)
        return (hi - lo) // int(step) + 1
    span = float(strategy.max_value) - float(strategy.min_value)
    return int(math.floor(span / float(step) + _LATTICE_EPS)) + 1


def range_expr(
    strategy: RangeColumn, dtype: str, seed_col: Column, *, random: bool = True,
    id_col: Column = None,
) -> Column:
    """Ranged value in ``[min_value, max_value]``.

    ``random=True`` draws the lattice index from ``seed_col`` through the
    distribution; a fractional dtype without a ``step`` is continuous.

    ``random=False`` is the v0 ``DataGenerator`` path for non-random
    columns: it cycles the lattice, index ``pmod(id_col, count)`` (falling
    back to ``seed_col``), which matches the reference's modulo iteration
    (``column_generation_spec.py:1299-1363``) without the double-mod dance
    because ``pmod`` is already non-negative.  ``step`` defaults to 1 on
    every dtype.  The lattice size is :func:`range_count`.
    """
    base = dtype if not dtype.startswith("decimal") else "decimal"
    if base in ("byte", "short", "int", "long"):
        return _integral_range(strategy, dtype, seed_col, random=random, id_col=id_col)
    if base in ("float", "double", "decimal"):
        return _fractional_range(strategy, dtype, seed_col, random=random, id_col=id_col)
    raise ValueError(f"range strategy incompatible with dtype {dtype!r}")


def _lattice_index(
    strategy: RangeColumn, count: int, seed_col: Column, random: bool, id_col: Column
) -> Column:
    if not random:
        src = id_col if id_col is not None else seed_col
        return F.pmod(src.cast("long"), F.lit(count)).cast("long")
    dist = strategy.distribution
    if isinstance(dist, WeightedValues):
        raise ValueError("WeightedValues is only valid on a values list")
    return index_expr(seed_col, count, dist)


def _integral_range(
    strategy: RangeColumn, dtype: str, seed_col: Column, random: bool, id_col: Column
) -> Column:
    count = range_count(strategy, dtype)
    idx = _lattice_index(strategy, count, seed_col, random, id_col)
    value = idx * F.lit(int(strategy.step or 1)) + F.lit(int(strategy.min_value))
    return value.cast(spark_type_name(dtype))


def _fractional_range(
    strategy: RangeColumn, dtype: str, seed_col: Column, random: bool, id_col: Column
) -> Column:
    """float / double / decimal: continuous when random without a step,
    else the ``idx*step + min`` lattice computed in double."""
    lo, hi = float(strategy.min_value), float(strategy.max_value)
    if random and strategy.step is None:
        unit = unit_expr(seed_col, strategy.distribution)
        value = unit * F.lit(hi - lo) + F.lit(lo)
    else:
        count = range_count(strategy, dtype)
        idx = _lattice_index(strategy, count, seed_col, random, id_col)
        value = idx.cast("double") * F.lit(float(strategy.step or 1)) + F.lit(lo)
    # a decimal cast rounds HALF_UP at target scale itself (same rule the
    # reference applies via an explicit round, numeric.py:208-212) — an
    # extra F.round first would double the per-row decimal work
    return value.cast(spark_type_name(dtype))
