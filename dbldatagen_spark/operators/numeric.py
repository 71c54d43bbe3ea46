"""Numeric column builders: sequences and ranged values.

All builders return one Spark SQL expression (text) over the row-id /
cell-seed columns (reference semantics:
``/root/reference/dbldatagen/core/engine/columns/numeric.py:88-213`` and
``core/engine/columns/pk.py:12-27``; implementation original).

Scale notes:

* integral ranges sample a *lattice index* then apply ``idx*step + min`` —
  two multiplies and an add per cell, fully codegen'd;
* ``pmod`` (not ``%``) everywhere: Spark ``%`` is signed and xxhash64
  seeds are frequently negative (SURVEY §7.3 "negative modulo");
* values are clamped *before* any narrowing cast so the engine is safe
  under ``spark.sql.ansi.enabled=true`` (no silent overflow, no runtime
  error).
"""

from __future__ import annotations

import math
from typing import Optional

from dbldatagen_spark.operators.distributions import (
    index_expr,
    unit_expr,
)
from dbldatagen_spark.operators.sqltext import call, cast, sql_lit
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


def sequence_expr(strategy: SequenceColumn, id_col: str, dtype: str) -> str:
    """``start + row_id * step`` — the reconstructible PK workhorse."""
    value = (
        f"({cast(id_col, 'BIGINT')} * {sql_lit(int(strategy.step))}"
        f" + {sql_lit(int(strategy.start))})"
    )
    return cast(value, spark_type_name(dtype))


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
    strategy: RangeColumn, dtype: str, seed_col: str, *, random: bool = True,
    id_col: Optional[str] = None,
) -> str:
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


def lattice_index(
    count: int, dist, seed_col: str, random: bool, id_col: Optional[str]
) -> str:
    """Index into a ``count``-point lattice: drawn from ``seed_col`` through
    ``dist`` when ``random``, else cycled by ``pmod(id_col, count)``
    (``seed_col`` when no ``id_col``)."""
    if not random:
        src = id_col if id_col is not None else seed_col
        return cast(call("pmod", cast(src, "BIGINT"), sql_lit(count)), "BIGINT")
    if isinstance(dist, WeightedValues):
        raise ValueError("WeightedValues is only valid on a values list")
    return index_expr(seed_col, count, dist)


def _integral_range(
    strategy: RangeColumn, dtype: str, seed_col: str, random: bool,
    id_col: Optional[str],
) -> str:
    count = range_count(strategy, dtype)
    idx = lattice_index(count, strategy.distribution, seed_col, random, id_col)
    value = (
        f"({idx} * {sql_lit(int(strategy.step or 1))}"
        f" + {sql_lit(int(strategy.min_value))})"
    )
    return cast(value, spark_type_name(dtype))


def _fractional_range(
    strategy: RangeColumn, dtype: str, seed_col: str, random: bool,
    id_col: Optional[str],
) -> str:
    """float / double / decimal: continuous when random without a step,
    else the ``idx*step + min`` lattice computed in double."""
    lo, hi = float(strategy.min_value), float(strategy.max_value)
    if random and strategy.step is None:
        unit = unit_expr(seed_col, strategy.distribution)
        value = f"({unit} * {sql_lit(hi - lo)} + {sql_lit(lo)})"
    else:
        count = range_count(strategy, dtype)
        idx = lattice_index(count, strategy.distribution, seed_col, random, id_col)
        value = (
            f"({cast(idx, 'DOUBLE')} * {sql_lit(float(strategy.step or 1))}"
            f" + {sql_lit(lo)})"
        )
    # a decimal cast rounds HALF_UP at target scale itself (same rule the
    # reference applies via an explicit round, numeric.py:208-212) — an
    # extra round first would double the per-row decimal work
    return cast(value, spark_type_name(dtype))
