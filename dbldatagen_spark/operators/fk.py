"""Foreign keys without joins: parent-PK reconstruction.

The defining trick of the reference engine
(``/root/reference/dbldatagen/core/engine/fk.py:21-136``): a child FK value
is produced by (1) sampling a *parent row index* in ``[0, parent_rows)``
with the FK's distribution (default Zipf(1.2) skew), then (2) re-running
the parent PK's generation expression **at that index**. Because PK
strategies are restricted to deterministic functions of (parent column
seed, row index) — sequence / pattern / uuid — the child can recompute the
exact parent value with zero shuffle, zero join, and without the parent
DataFrame even existing.

At 100 TB scale this is the difference between an embarrassingly-parallel
map and a multi-TB shuffle join: referential integrity costs one extra hash
per FK cell.
"""

from __future__ import annotations

from dbldatagen_spark.operators.distributions import index_expr
from dbldatagen_spark.operators.numeric import sequence_expr
from dbldatagen_spark.operators.seed import cell_seed, derive_column_seed
from dbldatagen_spark.operators.strings import pattern_expr, uuid_expr
from dbldatagen_spark.plans.spec import (
    ColumnSpec,
    ForeignKeyColumn,
    PatternColumn,
    SequenceColumn,
    SpecValidationError,
    TableSpec,
    UUIDColumn,
)


def reconstruct_pk_expr(
    parent_pk: ColumnSpec, parent_seed: int, parent_table: str, row_index: str
) -> str:
    """Re-derive the parent PK value at ``row_index`` (SQL text, a long)."""
    strategy = parent_pk.strategy
    col_seed = (
        parent_pk.seed
        if parent_pk.seed is not None
        else derive_column_seed(parent_seed, parent_table, parent_pk.name)
    )
    if isinstance(strategy, SequenceColumn):
        return sequence_expr(strategy, row_index, parent_pk.effective_dtype)
    if isinstance(strategy, UUIDColumn):
        return uuid_expr(cell_seed(col_seed, row_index), col_seed)
    if isinstance(strategy, PatternColumn):
        return pattern_expr(
            strategy.pattern, cell_seed(col_seed, row_index), row_index, col_seed
        )
    raise SpecValidationError(
        f"FK parent PK strategy {strategy.strategy!r} is not reconstructible "
        "(must be sequence/pattern/uuid)"
    )


def foreign_key_expr(
    strategy: ForeignKeyColumn,
    column_seed: int,
    id_col: str,
    parent: TableSpec,
    parent_seed: int,
) -> str:
    """FK value: sample parent row index with the FK's distribution, then
    reconstruct the parent PK at that index."""
    pk_name = strategy.parent_column
    if parent.primary_key != pk_name:
        raise SpecValidationError(
            f"FK references {parent.name}.{pk_name} which is not its primary key"
        )
    parent_pk = parent.column(pk_name)
    seed_col = cell_seed(column_seed, id_col)
    row_index = index_expr(seed_col, int(parent.rows), strategy.distribution)
    return reconstruct_pk_expr(parent_pk, parent_seed, parent.name, row_index)
