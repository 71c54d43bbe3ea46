"""Struct and array column builders (recursive, pure expressions).

Reference semantics: ``/root/reference/dbldatagen/core/engine/generator.py:
399-486`` — per-field/per-index decorrelated child seeds; variable array
length via a decorrelated length seed + ``slice``. Implementation original.

Scale note: an ArrayColumn of max_length L expands to L element expressions
in the plan — linear Catalyst cost, bounded by the plan-time cap of 1000
(``plans/spec.py MAX_ARRAY_LENGTH``).
"""

from __future__ import annotations

from dbldatagen_spark.operators.seed import decorrelate
from dbldatagen_spark.operators.sqltext import call, cast, quote, sql_lit
from dbldatagen_spark.plans.spec import ArrayColumn, StructColumn

_STRUCT_FIELD_SALT = 0x51EC7
_ARRAY_INDEX_SALT = 0xA44A1
_ARRAY_LEN_SALT = 0x1E46


def struct_expr(
    strategy: StructColumn,
    column_seed: int,
    id_col: str,
    build_child,
) -> str:
    """``struct`` of recursively-built fields, each with a decorrelated
    child seed so sibling fields are independent.

    ``build_child(child_spec, child_seed, id_col)`` is supplied by the
    generator to avoid a circular import.
    """
    fields = []
    for i, child in enumerate(strategy.fields):
        child_seed = decorrelate(column_seed, _STRUCT_FIELD_SALT + i)
        fields.append(f"{build_child(child, child_seed, id_col)} AS {quote(child.name)}")
    return call("struct", *fields)


def array_expr(
    strategy: ArrayColumn,
    column_seed: int,
    id_col: str,
    build_child,
) -> str:
    """Array of ``max_length`` independent element draws; variable length via
    ``slice(arr, 1, min + pmod(len_seed, span+1))``."""
    elements = []
    for i in range(strategy.max_length):
        child_seed = decorrelate(column_seed, _ARRAY_INDEX_SALT + i)
        elements.append(build_child(strategy.element, child_seed, id_col))
    arr = call("array", *elements)
    if strategy.min_length == strategy.max_length:
        return arr
    span = strategy.max_length - strategy.min_length
    len_seed = decorrelate(column_seed, _ARRAY_LEN_SALT)
    draw = call("pmod", call("xxhash64", sql_lit(len_seed), id_col), sql_lit(span + 1))
    length = f"({cast(draw, 'INT')} + {sql_lit(strategy.min_length)})"
    return call("slice", arr, sql_lit(1), length)
