"""Plan resolution: cross-table validation + FK-dependency table ordering.

Reference lifecycle: ``/root/reference/dbldatagen/core/engine/planner.py:
219-395`` (expression-ref validation, seed_from chain rejection, PK
strategy checks, FK graph + Kahn toposort). Implementation original.

:func:`dependency_levels` is the package's one toposort: table order here,
column select levels in ``generator`` and the v0 ``DataGenerator``, and
``compat.topologicalSort`` all call it with their own dependency maps.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Dict, Iterable, List, Mapping, Set

from dbldatagen_spark.plans.spec import (
    DataGenPlan,
    ExpressionColumn,
    ForeignKeyColumn,
    SpecValidationError,
    TableSpec,
)


@dataclass(frozen=True)
class FKResolution:
    child_table: str
    child_column: str
    parent_table: str
    parent_column: str


@dataclass(frozen=True)
class ResolvedPlan:
    plan: DataGenPlan
    generation_order: List[str] = field(default_factory=list)
    fk_resolutions: List[FKResolution] = field(default_factory=list)


def dependency_levels(deps: Mapping[str, Iterable[str]]) -> List[List[str]]:
    """Kahn's algorithm, one level at a time: each level holds the names
    whose dependencies all sit in earlier levels, in ``deps`` order.
    A cycle, or a dependency on a name outside ``deps``, raises
    :class:`SpecValidationError`."""
    remaining = {name: set(d) for name, d in deps.items()}
    done: Set[str] = set()
    levels: List[List[str]] = []
    while remaining:
        level = [name for name, d in remaining.items() if d <= done]
        if not level:
            raise SpecValidationError(
                f"cyclic dependencies among {sorted(remaining)}"
            )
        levels.append(level)
        done.update(level)
        for name in level:
            del remaining[name]
    return levels


def _validate_table(table: TableSpec) -> None:
    from dbldatagen_spark.generator import expression_refs

    names = {c.name for c in table.columns}
    for c in table.columns:
        if isinstance(c.strategy, ExpressionColumn):
            refs = expression_refs(c.strategy.expr, names)
            if c.name in refs:
                raise SpecValidationError(
                    f"table {table.name!r} column {c.name!r}: expression "
                    "references itself"
                )
        if c.seed_from is not None and c.seed_from not in names:
            raise SpecValidationError(
                f"table {table.name!r} column {c.name!r}: seed_from references "
                f"unknown column {c.seed_from!r}"
            )


def resolve_plan(plan: DataGenPlan) -> ResolvedPlan:
    """Validate FK references and compute parents-first generation order
    (:func:`dependency_levels`, declaration order within a level); cycles
    are an error."""
    table_names = {t.name for t in plan.tables}
    fk_resolutions: List[FKResolution] = []
    deps: Dict[str, Set[str]] = {t.name: set() for t in plan.tables}

    for table in plan.tables:
        _validate_table(table)
        for col in table.columns:
            if isinstance(col.strategy, ForeignKeyColumn):
                fk = col.strategy
                if fk.parent_table not in table_names:
                    raise SpecValidationError(
                        f"table {table.name!r} column {col.name!r}: FK parent "
                        f"table {fk.parent_table!r} not in plan"
                    )
                parent = plan.table(fk.parent_table)
                if parent.primary_key is None:
                    raise SpecValidationError(
                        f"FK {table.name}.{col.name}: parent {parent.name!r} "
                        "declares no primary_key"
                    )
                if parent.primary_key != fk.parent_column:
                    raise SpecValidationError(
                        f"FK {table.name}.{col.name}: references "
                        f"{parent.name}.{fk.parent_column} but the primary key "
                        f"is {parent.primary_key!r}"
                    )
                if fk.parent_table != table.name:
                    deps[table.name].add(fk.parent_table)
                fk_resolutions.append(
                    FKResolution(table.name, col.name, fk.parent_table, fk.parent_column)
                )

    order = [name for level in dependency_levels(deps) for name in level]
    return ResolvedPlan(plan=plan, generation_order=order, fk_resolutions=fk_resolutions)
