"""Engine core: compile a plan into DataFrames.

Execution model (reference lifecycle
``/root/reference/dbldatagen/core/engine/generator.py:48-109`` /
``core/engine/utils.py:61-94``; implementation original):

1. seed DataFrame: ``spark.range(rows)`` → rename to ``__synth_row_id`` —
   the *only* source; everything else is column expressions over it;
2. every column compiles to Spark SQL *text* — the builders in
   ``operators/`` return text, not ``Column`` objects, and Catalyst parses
   it into the same expression trees the ``Column`` API would build;
   building text needs no py4j round trip;
3. columns are batched into **select levels** by dependency order
   (expression columns referencing generated columns, ``seed_from``
   correlations), and each level is one ``df.selectExpr("*", ...)``
   (:class:`~dbldatagen_spark.operators.sqltext.Level`), so N columns
   cost O(levels) projections and about one py4j command each (the item
   list crosses the gateway element by element). The levels come
   from ``plans.planner.dependency_levels``, the one toposort shared with
   table ordering and the v0 ``DataGenerator``. The only ``Column`` pieces
   — pandas-UDF text columns (faker) and a registered distribution's
   ``unit_expr`` — are named in one ``select`` below their level and
   referenced by name from the text; ``CollapseProject`` folds it;
4. final projection to the declared column order drops the row id.

Nothing here shuffles. The physical plan for any generated table is
``Range → Project`` (one whole-stage-codegen span), which scales linearly
with executors and rows.
"""

from __future__ import annotations

import re
from typing import Callable, Dict, List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbldatagen_spark.operators.fk import foreign_key_expr
from dbldatagen_spark.operators.nested import array_expr, struct_expr
from dbldatagen_spark.operators.numeric import (
    range_expr,
    sequence_expr,
    spark_type_name,
)
from dbldatagen_spark.operators.seed import (
    ROW_ID_COL,
    cell_seed,
    derive_column_seed,
    null_mask,
)
from dbldatagen_spark.operators.sqltext import (
    Level,
    bind_column,
    cast,
    parser_scope,
    quote,
    sql_lit,
    user_sql,
)
from dbldatagen_spark.operators.strings import pattern_expr, uuid_expr, values_expr
from dbldatagen_spark.operators.temporal import date_expr, timestamp_expr
from dbldatagen_spark.plans.planner import dependency_levels, resolve_plan
from dbldatagen_spark.plans.spec import (
    ArrayColumn,
    ColumnSpec,
    ConstantColumn,
    DataGenPlan,
    DateColumn,
    ExpressionColumn,
    FakerColumn,
    ForeignKeyColumn,
    PatternColumn,
    RangeColumn,
    SequenceColumn,
    SpecValidationError,
    StructColumn,
    TableSpec,
    TimestampColumn,
    UUIDColumn,
    ValuesColumn,
)

_IDENT_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
# SQL keywords/functions that must not count as column references
_SQL_NOISE = {
    "select", "case", "when", "then", "else", "end", "and", "or", "not",
    "cast", "as", "null", "true", "false", "in", "like", "between", "is",
    "if", "concat", "abs", "floor", "ceil", "round", "hash", "rand", "id",
    "string", "int", "bigint", "double", "float", "boolean", "date",
    "timestamp", "decimal", "long",
}


def expression_refs(expr: str, known_columns: set) -> set:
    """Column names referenced by a SQL expression string (textual scan, as
    in reference ``schema_parser.py:328-361``): identifiers that match known
    columns, minus obvious SQL keywords unless they're genuinely columns."""
    refs = set()
    for ident in _IDENT_RE.findall(expr):
        low = ident.lower()
        if ident in known_columns:
            refs.add(ident)
        elif low in known_columns and low not in _SQL_NOISE:
            refs.add(low)
    return refs


def build_strategy_expr(
    col: ColumnSpec,
    column_seed: int,
    id_col: str,
    *,
    plan: Optional[DataGenPlan] = None,
) -> str:
    """Dispatch one strategy to its builder → unmasked value expression
    (SQL text over the row-id text ``id_col``)."""
    st = col.strategy
    dtype = col.effective_dtype
    seed_col = cell_seed(column_seed, id_col)

    def _child(child_spec: ColumnSpec, child_seed: int, child_id: str) -> str:
        inner = build_strategy_expr(
            child_spec,
            child_spec.seed if child_spec.seed is not None else child_seed,
            child_id,
            plan=plan,
        )
        if child_spec.null_fraction:
            inner = null_mask(
                inner, child_spec.null_fraction,
                child_spec.seed if child_spec.seed is not None else child_seed,
                child_id,
            )
        return inner

    if isinstance(st, SequenceColumn):
        return sequence_expr(st, id_col, dtype if dtype != "infer" else "long")
    if isinstance(st, RangeColumn):
        return range_expr(st, dtype, seed_col, id_col=id_col)
    if isinstance(st, ValuesColumn):
        return values_expr(
            st.values, seed_col, st.distribution, id_col=id_col,
            dtype=col.dtype,
        )
    if isinstance(st, ConstantColumn):
        value = sql_lit(st.value)
        if col.dtype is not None:
            value = cast(value, spark_type_name(col.dtype))
        return value
    if isinstance(st, ExpressionColumn):
        return user_sql(st.expr)
    if isinstance(st, UUIDColumn):
        return uuid_expr(seed_col, column_seed)
    if isinstance(st, PatternColumn):
        return pattern_expr(st.pattern, seed_col, id_col, column_seed)
    if isinstance(st, TimestampColumn):
        return timestamp_expr(st, seed_col, id_col=id_col)
    if isinstance(st, DateColumn):
        return date_expr(st, seed_col, id_col=id_col)
    if isinstance(st, StructColumn):
        return struct_expr(st, column_seed, id_col, _child)
    if isinstance(st, ArrayColumn):
        return array_expr(st, column_seed, id_col, _child)
    if isinstance(st, ForeignKeyColumn):
        if plan is None:
            raise SpecValidationError(
                f"column {col.name!r}: foreign keys require a multi-table plan"
            )
        parent = plan.table(st.parent_table)
        return foreign_key_expr(
            st, column_seed, id_col, parent, plan.table_seed(parent.name)
        )
    if isinstance(st, FakerColumn):
        from dbldatagen_spark.operators.text import faker_pool_expr

        return bind_column(faker_pool_expr(st, column_seed, F.expr(id_col)))
    raise SpecValidationError(f"unknown strategy {st!r}")


def build_column_expr(
    col: ColumnSpec,
    table_seed: int,
    table_name: str,
    id_col: str,
    *,
    plan: Optional[DataGenPlan] = None,
) -> str:
    """Full column expression (SQL text): strategy value + null mask."""
    column_seed = (
        col.seed
        if col.seed is not None
        else derive_column_seed(table_seed, table_name, col.name)
    )
    seed_input = quote(col.seed_from) if col.seed_from else id_col
    value = build_strategy_expr(col, column_seed, seed_input, plan=plan)
    if col.null_fraction:
        # null stream keyed to the row id (not seed_from) so null placement
        # is independent of the correlated source values
        value = null_mask(value, col.null_fraction, column_seed, id_col)
    return value


def _dependency_levels(table: TableSpec) -> List[List[ColumnSpec]]:
    """Batch columns into select levels honoring expression refs and
    seed_from (:func:`~dbldatagen_spark.plans.planner.dependency_levels`;
    cycles rejected)."""
    names = {c.name for c in table.columns}
    deps: Dict[str, set] = {}
    for c in table.columns:
        d = set()
        if isinstance(c.strategy, ExpressionColumn):
            d |= expression_refs(c.strategy.expr, names)
        if c.seed_from:
            if c.seed_from not in names:
                raise SpecValidationError(
                    f"column {c.name!r}: seed_from references unknown column "
                    f"{c.seed_from!r}"
                )
            src = table.column(c.seed_from)
            if src.seed_from is not None:
                raise SpecValidationError(
                    f"column {c.name!r}: seed_from chains are not allowed "
                    f"({c.seed_from!r} itself uses seed_from)"
                )
            d.add(c.seed_from)
        d.discard(c.name)
        deps[c.name] = d
    by_name = {c.name: c for c in table.columns}
    return [[by_name[n] for n in level] for level in dependency_levels(deps)]


_TARGET_ROWS_PER_PARTITION = 5_000_000
_MIN_ROWS_PER_PARTITION = 10_000


def default_partitions(rows: int, default_parallelism: int) -> int:
    """Partition count sized for the row count, not a fixed constant.

    Targets ~5M rows/partition at scale (so a 10B-row table gets ~2000
    partitions on any cluster) while never splitting small tables below
    ~10K rows/partition (so a 200-row dimension is a single partition).
    """
    ideal = (rows + _TARGET_ROWS_PER_PARTITION - 1) // _TARGET_ROWS_PER_PARTITION
    parts = max(ideal, default_parallelism)
    small_cap = max(1, (rows + _MIN_ROWS_PER_PARTITION - 1) // _MIN_ROWS_PER_PARTITION)
    return max(1, min(parts, small_cap))


def generate_table(
    spark: SparkSession,
    table: TableSpec,
    *,
    seed: Optional[int] = None,
    plan: Optional[DataGenPlan] = None,
) -> DataFrame:
    """Build one table over ``spark.range`` renamed to ``__synth_row_id``."""
    table_seed = seed if seed is not None else (table.seed if table.seed is not None else 42)
    if table.partitions is not None:
        partitions = table.partitions
    else:
        try:
            default_parts = spark.sparkContext.defaultParallelism
        except Exception:  # Spark Connect has no sparkContext
            default_parts = 200
        partitions = default_partitions(int(table.rows), default_parts)
    df = spark.range(0, int(table.rows), numPartitions=partitions)
    df = df.withColumnRenamed("id", ROW_ID_COL)
    id_col = quote(ROW_ID_COL)
    with parser_scope(spark):
        for level_cols in _dependency_levels(table):
            level = Level()
            for c in level_cols:
                with level.binding(c.name):
                    text = build_column_expr(c, table_seed, table.name, id_col, plan=plan)
                level.add(c.name, text)
            df = level.apply(df)
    return df.selectExpr(*[quote(c.name) for c in table.columns])


def generate(
    spark: SparkSession, plan: DataGenPlan
) -> Dict[str, DataFrame]:
    """Build every table in FK-dependency order (parents first), returning
    ``{name: DataFrame}``. No table ever depends on another's *data* — only
    on its spec — so generation is still join-free."""
    resolved = resolve_plan(plan)
    out: Dict[str, DataFrame] = {}
    for name in resolved.generation_order:
        table = plan.table(name)
        out[name] = generate_table(
            spark, table, seed=plan.table_seed(name), plan=plan
        )
    return out
