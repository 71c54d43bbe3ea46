"""Declarative spec models for the data-generation plan.

Semantics mirror the reference's declarative core API
(``/root/reference/dbldatagen/core/spec/schema.py``):

* a :class:`DataGenPlan` holds :class:`TableSpec`\\ s; the plan seed
  auto-propagates ``seed + i`` to table *i* unless a table pins its own
  (reference ``core/spec/schema.py:1390-1456``);
* each :class:`ColumnSpec` carries exactly one generation *strategy*
  (a discriminated union in the reference, ``core/spec/schema.py:832-846``;
  here, one of the strategy dataclasses below);
* distributions form their own union (``core/spec/schema.py:275-278``).

All models are plain dataclasses with eager validation in ``__post_init__``
so a malformed plan fails at construction, before any Spark work.
Everything is JSON-round-trippable via ``to_dict`` / ``from_dict``
(see :mod:`dbldatagen_spark.plans.serialization`).
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, field
from enum import Enum
from typing import Any, Optional, Sequence, Union

# ---------------------------------------------------------------------------
# Limits / constants (mirroring the reference's plan-time guards,
# core/spec/schema.py:88-92 & core/spec/_constants.py)
# ---------------------------------------------------------------------------

INT64_MIN = -(2**63)
INT64_MAX = 2**63 - 1
MAX_ARRAY_LENGTH = 1000  # Catalyst expression-count guard
MAX_PATTERN_SEQ_WIDTH = 24
MAX_PATTERN_DIGIT_WIDTH = 18
MAX_PATTERN_HEX_WIDTH = 15
MAX_PATTERN_ALPHA_WIDTH = 64
DEFAULT_DECIMAL_PRECISION = 10
DEFAULT_DECIMAL_SCALE = 0

_IDENTIFIER_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")

# The row-id column every generated table is built over; no spec column
# may take its name (Spark resolves names case-insensitively).
ROW_ID_COL = "__synth_row_id"

_ROWS_SUFFIXES = {"k": 10**3, "m": 10**6, "b": 10**9, "t": 10**12}

# Type names accepted for ColumnSpec.dtype, normalized spelling -> canonical.
_DTYPE_ALIASES = {
    "int": "int",
    "integer": "int",
    "long": "long",
    "bigint": "long",
    "short": "short",
    "smallint": "short",
    "byte": "byte",
    "tinyint": "byte",
    "float": "float",
    "real": "float",
    "double": "double",
    "string": "string",
    "str": "string",
    "varchar": "string",
    "char": "string",
    "text": "string",
    "numeric": "decimal",
    "boolean": "boolean",
    "bool": "boolean",
    "date": "date",
    "timestamp": "timestamp",
    "datetime": "timestamp",
    "decimal": "decimal",
    "number": "decimal",
    "binary": "binary",
}

_INTEGRAL_BOUNDS = {
    "byte": (-128, 127),
    "short": (-32768, 32767),
    "int": (-(2**31), 2**31 - 1),
    "long": (INT64_MIN, INT64_MAX),
}


class SpecValidationError(ValueError):
    """Raised when a spec model fails plan-time validation."""


def _check(cond: bool, msg: str) -> None:
    if not cond:
        raise SpecValidationError(msg)


def parse_rows(rows: Union[int, str]) -> int:
    """Parse a row count: plain int or human string like ``"10K"``/``"1.5B"``.

    Mirrors reference ``core/spec/schema.py`` TableSpec.rows semantics.
    """
    if isinstance(rows, bool):
        raise SpecValidationError("rows must be an int or string, not bool")
    if isinstance(rows, int):
        _check(rows > 0, f"rows must be positive, got {rows}")
        return rows
    if isinstance(rows, str):
        s = rows.strip().lower().replace("_", "").replace(",", "")
        m = re.match(r"^(\d+(?:\.\d+)?)([kmbt]?)$", s)
        _check(m is not None, f"unparseable rows string: {rows!r}")
        value = float(m.group(1)) * _ROWS_SUFFIXES.get(m.group(2), 1)
        _check(value == int(value), f"rows string {rows!r} is not an integer count")
        n = int(value)
        _check(0 < n <= INT64_MAX, f"rows {rows!r} out of int64 range")
        return n
    raise SpecValidationError(f"rows must be int or str, got {type(rows).__name__}")


def normalize_dtype(dtype: str) -> str:
    """Normalize a type spelling; ``decimal(p,s)`` keeps precision/scale."""
    s = dtype.strip().lower()
    m = re.match(r"^(decimal|number|numeric)\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)$", s)
    if m:
        p, sc = int(m.group(2)), int(m.group(3))
        _check(1 <= p <= 38, f"decimal precision must be in [1,38], got {p}")
        _check(0 <= sc <= p, f"decimal scale must be in [0,precision], got {sc}")
        return f"decimal({p},{sc})"
    m = re.match(r"^(decimal|number|numeric)\s*\(\s*(\d+)\s*\)$", s)
    if m:  # precision-only form: scale defaults to 0
        p = int(m.group(2))
        _check(1 <= p <= 38, f"decimal precision must be in [1,38], got {p}")
        return f"decimal({p},0)"
    if re.match(r"^(varchar|char)\s*\(\s*\d+\s*\)$", s):
        return "string"
    _check(s in _DTYPE_ALIASES, f"unknown dtype {dtype!r}")
    return _DTYPE_ALIASES[s]


def decimal_precision_scale(dtype: str) -> tuple[int, int]:
    m = re.match(r"^decimal\((\d+),(\d+)\)$", dtype)
    if m:
        return int(m.group(1)), int(m.group(2))
    return DEFAULT_DECIMAL_PRECISION, DEFAULT_DECIMAL_SCALE


def base_dtype(dtype: str) -> str:
    """``decimal(10,2)`` -> ``decimal``; other types unchanged."""
    return "decimal" if dtype.startswith("decimal") else dtype


# ---------------------------------------------------------------------------
# Distributions (reference core/spec/schema.py:275-278 union)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Uniform:
    """Uniform over the index/value space."""

    kind: str = field(default="uniform", init=False)


@dataclass(frozen=True)
class Normal:
    """Gaussian; mean/stddev in *value* space. When None, auto-centered:

    value space: midpoint / span÷6; index space: n/2, n/6
    (reference ``core/engine/distributions.py:105-159,243-291``).
    """

    mean: Optional[float] = None
    stddev: Optional[float] = None
    kind: str = field(default="normal", init=False)

    def __post_init__(self) -> None:
        if self.stddev is not None:
            _check(self.stddev > 0, f"Normal stddev must be > 0, got {self.stddev}")


@dataclass(frozen=True)
class LogNormal:
    mu: float = 0.0
    sigma: float = 1.0
    kind: str = field(default="lognormal", init=False)

    def __post_init__(self) -> None:
        _check(self.sigma > 0, f"LogNormal sigma must be > 0, got {self.sigma}")


@dataclass(frozen=True)
class Zipf:
    """Power-law over rank; higher exponent = more skew toward low indices."""

    exponent: float = 1.2
    kind: str = field(default="zipf", init=False)

    def __post_init__(self) -> None:
        _check(self.exponent > 1.0, f"Zipf exponent must be > 1.0, got {self.exponent}")


@dataclass(frozen=True)
class Exponential:
    rate: float = 1.0
    kind: str = field(default="exponential", init=False)

    def __post_init__(self) -> None:
        _check(self.rate > 0, f"Exponential rate must be > 0, got {self.rate}")


@dataclass(frozen=True)
class Beta:
    """Beta(alpha, beta) on [0,1]; realized via deterministic inverse-CDF."""

    alpha: float = 2.0
    beta: float = 2.0
    kind: str = field(default="beta", init=False)

    def __post_init__(self) -> None:
        _check(self.alpha > 0 and self.beta > 0, "Beta params must be > 0")


@dataclass(frozen=True)
class Gamma:
    shape: float = 1.0
    scale: float = 1.0
    kind: str = field(default="gamma", init=False)

    def __post_init__(self) -> None:
        _check(self.shape > 0 and self.scale > 0, "Gamma params must be > 0")


@dataclass(frozen=True)
class Pareto:
    shape: float = 1.5
    kind: str = field(default="pareto", init=False)

    def __post_init__(self) -> None:
        _check(self.shape > 0, "Pareto shape must be > 0")


@dataclass(frozen=True)
class WeightedValues:
    """Relative weights aligned with a values list; need not sum to 1."""

    weights: tuple[float, ...] = ()
    kind: str = field(default="weighted", init=False)

    def __init__(self, weights: Sequence[float]):
        object.__setattr__(self, "weights", tuple(float(w) for w in weights))
        object.__setattr__(self, "kind", "weighted")
        _check(len(self.weights) > 0, "WeightedValues needs at least one weight")
        _check(all(w >= 0 for w in self.weights), "weights must be non-negative")
        _check(all(math.isfinite(w) for w in self.weights), "weights must be finite")


Distribution = Union[
    Uniform, Normal, LogNormal, Zipf, Exponential, Beta, Gamma, Pareto, WeightedValues
]

DISTRIBUTION_KINDS = {
    "uniform": Uniform,
    "normal": Normal,
    "lognormal": LogNormal,
    "zipf": Zipf,
    "exponential": Exponential,
    "beta": Beta,
    "gamma": Gamma,
    "pareto": Pareto,
    "weighted": WeightedValues,
}


def register_distribution(name: str, cls: type = None):
    """Register a custom distribution for string-spec parsing (reference
    ``distributions/data_distribution.py:223-247`` ``@register_distribution``).

    A custom class participates in continuous value ranges by exposing
    ``unit_expr(self, seed_col) -> Column`` mapping the 64-bit cell-seed
    column to a double in [0, 1] — pure Spark expressions, so the engine's
    no-UDF / partition-independence guarantees carry over.  This is one of
    the two ``Column`` boundaries of the engine (pandas-UDF text columns
    are the other): the built-in builders emit Spark SQL text, which
    Catalyst parses into the same trees as the ``Column`` API, so the
    engine passes ``seed_col`` in as a ``Column``, names the returned
    ``Column`` in a projection below the level and references that name
    from the text (``CollapseProject`` folds it back in).  The seed
    primitives in :mod:`dbldatagen_spark.operators.seed` accept a
    ``Column`` for this use. Usable directly
    (``register_distribution("tri", Tri)``) or as a decorator
    (``@register_distribution("tri")``).
    """
    _check(bool(name) and name == name.lower(), "name must be lowercase")
    if cls is None:
        def _decorate(c: type) -> type:
            DISTRIBUTION_KINDS[name] = c
            return c

        return _decorate
    DISTRIBUTION_KINDS[name] = cls
    return cls


# ---------------------------------------------------------------------------
# Column strategies (reference core/spec/schema.py:832-846 union)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class RangeColumn:
    """Numeric range [min_value, max_value], optional step lattice.

    Integral dtype: lattice of ``(max-min)//step + 1`` points, index chosen by
    ``distribution``. Floating: continuous uniform unless ``step`` given.
    Reference: ``core/engine/columns/numeric.py:88-213``.
    """

    min_value: float = 0.0
    max_value: float = 1.0
    step: Optional[float] = None
    distribution: Distribution = field(default_factory=Uniform)
    strategy: str = field(default="range", init=False)

    def __post_init__(self) -> None:
        _check(
            self.max_value >= self.min_value,
            f"range max ({self.max_value}) < min ({self.min_value})",
        )
        if self.step is not None:
            _check(self.step > 0, f"range step must be > 0, got {self.step}")


@dataclass(frozen=True)
class ValuesColumn:
    """Pick from an explicit value list; optionally weighted / distributed."""

    values: tuple = ()
    distribution: Distribution = field(default_factory=Uniform)
    strategy: str = field(default="values", init=False)

    def __init__(self, values: Sequence, distribution: Optional[Distribution] = None):
        object.__setattr__(self, "values", tuple(values))
        object.__setattr__(self, "distribution", distribution or Uniform())
        object.__setattr__(self, "strategy", "values")
        _check(len(self.values) > 0, "ValuesColumn needs at least one value")
        if isinstance(self.distribution, WeightedValues):
            _check(
                len(self.distribution.weights) == len(self.values),
                f"weights length {len(self.distribution.weights)} != "
                f"values length {len(self.values)}",
            )


@dataclass(frozen=True)
class SequenceColumn:
    """Monotone sequence ``start + row_id * step`` (reference pk.py:12-27)."""

    start: int = 1
    step: int = 1
    strategy: str = field(default="sequence", init=False)

    def __post_init__(self) -> None:
        _check(self.step != 0, "sequence step must be nonzero")


@dataclass(frozen=True)
class UUIDColumn:
    """Deterministic UUID-shaped string from two xxhash64 draws
    (8-4-4-4-12; not RFC-4122). Reference ``core/engine/columns/uuid.py``."""

    strategy: str = field(default="uuid", init=False)


@dataclass(frozen=True)
class PatternColumn:
    """Template like ``"ORD-{digit:4}-{alpha:3}"``.

    Placeholders: ``{seq}``/``{seq:N}``, ``{uuid}``, ``{digit:N}``,
    ``{alpha:N}``, ``{hex:N}`` (width caps 24/—/18/64/15).
    Reference ``core/engine/columns/string.py:70-246``.
    """

    pattern: str = ""
    strategy: str = field(default="pattern", init=False)

    def __post_init__(self) -> None:
        _check(bool(self.pattern), "pattern must be non-empty")
        # validate placeholders eagerly
        from dbldatagen_spark.operators.strings import parse_pattern

        parse_pattern(self.pattern)  # raises SpecValidationError on bad tokens


@dataclass(frozen=True)
class ExpressionColumn:
    """Raw Spark SQL expression; output type is inferred (never cast) —
    reference forbids dtype on expression columns (schema.py:1016-1041)."""

    expr: str = ""
    strategy: str = field(default="expression", init=False)

    def __post_init__(self) -> None:
        _check(bool(self.expr.strip()), "expression must be non-empty")


@dataclass(frozen=True)
class ConstantColumn:
    value: Any = None
    strategy: str = field(default="constant", init=False)


@dataclass(frozen=True)
class TimestampColumn:
    """Uniform (or distributed) timestamps in inclusive ``[start, end]``.

    Bounds are ISO strings interpreted as UTC regardless of session timezone
    (reference ``core/engine/columns/temporal.py:19-85``).
    """

    start: str = "2020-01-01 00:00:00"
    end: str = "2020-12-31 23:59:59"
    interval_seconds: int = 1
    distribution: Distribution = field(default_factory=Uniform)
    strategy: str = field(default="timestamp", init=False)

    def __post_init__(self) -> None:
        from dbldatagen_spark.operators.temporal import parse_utc_epoch

        s, e = parse_utc_epoch(self.start), parse_utc_epoch(self.end)
        _check(e >= s, f"timestamp end {self.end!r} before start {self.start!r}")
        _check(self.interval_seconds > 0, "interval_seconds must be > 0")


@dataclass(frozen=True)
class DateColumn:
    """Dates in inclusive ``[start, end]`` sampled on a day lattice."""

    start: str = "2020-01-01"
    end: str = "2020-12-31"
    interval_days: int = 1
    distribution: Distribution = field(default_factory=Uniform)
    strategy: str = field(default="date", init=False)

    def __post_init__(self) -> None:
        from dbldatagen_spark.operators.temporal import parse_date_days

        s, e = parse_date_days(self.start), parse_date_days(self.end)
        _check(e >= s, f"date end {self.end!r} before start {self.start!r}")
        _check(self.interval_days > 0, "interval_days must be > 0")


@dataclass(frozen=True)
class ForeignKeyColumn:
    """FK to ``table.column``; values re-derive the parent PK from a sampled
    parent row index — no join, no parent materialization
    (reference ``core/engine/fk.py:21-136``; default skew Zipf(1.2) per
    ``core/spec/dsl.py:104-120``)."""

    references: str = ""  # "parent_table.pk_column"
    distribution: Distribution = field(default_factory=lambda: Zipf(1.2))
    strategy: str = field(default="foreign_key", init=False)

    def __post_init__(self) -> None:
        parts = self.references.split(".")
        _check(
            len(parts) == 2 and all(_IDENTIFIER_RE.match(p) for p in parts),
            f"foreign key references must be 'table.column', got {self.references!r}",
        )

    @property
    def parent_table(self) -> str:
        return self.references.split(".")[0]

    @property
    def parent_column(self) -> str:
        return self.references.split(".")[1]


@dataclass(frozen=True)
class FakerColumn:
    """Locale-aware fake text via a driver-side pool of pre-generated values
    indexed by a mixed per-row seed (reference ``faker_pool.py:18-135``).

    If the ``faker`` package is unavailable (it is not bundled here), a
    deterministic built-in provider generates method-appropriate fakes so
    plans stay runnable.
    """

    method: str = "name"
    locale: Optional[str] = None
    pool_size: int = 10000
    strategy: str = field(default="faker", init=False)

    def __post_init__(self) -> None:
        _check(bool(self.method), "faker method must be non-empty")
        _check(0 < self.pool_size <= 1_000_000, "pool_size out of range")


@dataclass(frozen=True)
class StructColumn:
    """Nested struct; each field is a full ColumnSpec (Faker/FK forbidden
    inside, reference schema.py:740-759)."""

    fields: tuple = ()
    strategy: str = field(default="struct", init=False)

    def __init__(self, fields: Sequence["ColumnSpec"]):
        object.__setattr__(self, "fields", tuple(fields))
        object.__setattr__(self, "strategy", "struct")
        _check(len(self.fields) > 0, "StructColumn needs at least one field")
        names = [f.name for f in self.fields]
        _check(len(set(names)) == len(names), f"duplicate struct field names: {names}")
        for f in self.fields:
            _check(
                f.strategy.strategy not in ("faker", "foreign_key"),
                f"struct field {f.name!r}: {f.strategy.strategy} not allowed in struct",
            )


@dataclass(frozen=True)
class ArrayColumn:
    """Array of ``max_length`` element draws with per-index decorrelated
    seeds; variable length via a decorrelated length seed + ``F.slice``
    (reference ``core/engine/generator.py:436-486``)."""

    element: "ColumnSpec" = None  # type: ignore[assignment]
    min_length: int = 1
    max_length: int = 1
    strategy: str = field(default="array", init=False)

    def __post_init__(self) -> None:
        _check(self.element is not None, "ArrayColumn needs an element spec")
        _check(
            0 <= self.min_length <= self.max_length,
            f"array lengths invalid: [{self.min_length},{self.max_length}]",
        )
        _check(
            self.max_length <= MAX_ARRAY_LENGTH,
            f"array max_length {self.max_length} exceeds cap {MAX_ARRAY_LENGTH}",
        )
        _check(
            self.element.strategy.strategy not in ("faker", "foreign_key", "array"),
            f"array element strategy {self.element.strategy.strategy} not allowed",
        )


Strategy = Union[
    RangeColumn,
    ValuesColumn,
    SequenceColumn,
    UUIDColumn,
    PatternColumn,
    ExpressionColumn,
    ConstantColumn,
    TimestampColumn,
    DateColumn,
    ForeignKeyColumn,
    FakerColumn,
    StructColumn,
    ArrayColumn,
]

STRATEGY_KINDS = {
    "range": RangeColumn,
    "values": ValuesColumn,
    "sequence": SequenceColumn,
    "uuid": UUIDColumn,
    "pattern": PatternColumn,
    "expression": ExpressionColumn,
    "constant": ConstantColumn,
    "timestamp": TimestampColumn,
    "date": DateColumn,
    "foreign_key": ForeignKeyColumn,
    "faker": FakerColumn,
    "struct": StructColumn,
    "array": ArrayColumn,
}

# Strategies whose output type is inherently fixed (dtype optional/ignored).
_STRING_STRATEGIES = {"uuid", "pattern", "faker"}


# ---------------------------------------------------------------------------
# ColumnSpec / TableSpec / DataGenPlan
# ---------------------------------------------------------------------------


class DataType(str, Enum):
    """Column data types (reference ``core/spec/schema.py:849-879``):
    spellings map to the equivalent Spark SQL types; INTEGER aliases INT
    and ``integer``/``bool``/``str`` are accepted on deserialization."""

    INT = "int"
    LONG = "long"
    FLOAT = "float"
    DOUBLE = "double"
    STRING = "string"
    BOOLEAN = "boolean"
    DATE = "date"
    TIMESTAMP = "timestamp"
    DECIMAL = "decimal"

    INTEGER = "int"

    @classmethod
    def _missing_(cls, value):
        if not isinstance(value, str):
            return None
        aliases = {"integer": cls.INT, "bool": cls.BOOLEAN, "str": cls.STRING}
        return aliases.get(value.lower())


class PrimaryKey:
    """Marks one or more columns as a table's primary key (reference
    ``core/spec/schema.py:881-908``). Composite keys validate but this
    engine's tables accept only single-column keys (a ForeignKeyRef can
    only target a single-column key in the reference too)."""

    def __init__(self, columns: Sequence[str]):
        cols = list(columns)
        _check(len(cols) >= 1, "PrimaryKey requires at least one column")
        _check(
            len(set(cols)) == len(cols),
            f"PrimaryKey columns must be unique, got {cols}",
        )
        self.columns = cols

    def __repr__(self) -> str:
        return f"PrimaryKey(columns={self.columns!r})"

    def __eq__(self, other) -> bool:
        return isinstance(other, PrimaryKey) and self.columns == other.columns


class ForeignKeyRef:
    """Foreign-key reference in ``"table.column"`` form (reference
    ``core/spec/schema.py:910-955``): optional skew distribution over
    parent rows (WeightedValues rejected — it weights a value list, not
    the parent index range) and an optional null fraction."""

    def __init__(
        self,
        ref: str,
        distribution: Optional["Distribution"] = None,
        nullable: bool = False,
        null_fraction: float = 0.0,
    ):
        parts = ref.split(".")
        _check(
            len(parts) == 2 and all(_IDENTIFIER_RE.match(p) for p in parts),
            f"foreign key ref must be 'table.column', got {ref!r}",
        )
        if distribution is None:
            distribution = Uniform()
        _check(
            not isinstance(distribution, WeightedValues),
            "ForeignKeyRef does not support WeightedValues; use Zipf or "
            "another continuous distribution to skew parent references",
        )
        _check(
            0.0 <= null_fraction <= 1.0,
            f"null_fraction must be in [0.0, 1.0], got {null_fraction}",
        )
        self.ref = ref
        self.distribution = distribution
        self.nullable = bool(nullable)
        self.null_fraction = float(null_fraction)

    def __repr__(self) -> str:
        return f"ForeignKeyRef(ref={self.ref!r})"


@dataclass(frozen=True)
class ColumnSpec:
    """One output column (reference ``core/spec/schema.py:957-1224``).

    ``seed_from``: derive the per-cell seed from another column's *values*
    instead of the row id, producing correlated columns; chains are rejected
    at plan resolution (reference ``core/engine/planner.py:549-592``).

    Reference-compat forms: the strategy may be passed as ``gen=`` (the
    reference field name), and ``foreign_key=ForeignKeyRef(...)`` builds
    the FK strategy (folding the ref's nullable/null_fraction) when no
    explicit strategy is given.
    """

    name: str
    strategy: Optional[Strategy] = None
    dtype: Optional[str] = None
    nullable: bool = False
    null_fraction: Optional[float] = None
    seed_from: Optional[str] = None
    seed: Optional[int] = None
    foreign_key: Optional[ForeignKeyRef] = None
    gen: Optional[Strategy] = None

    def __post_init__(self) -> None:
        if self.strategy is None and self.gen is not None:
            object.__setattr__(self, "strategy", self.gen)
        if self.foreign_key is not None:
            fk = self.foreign_key
            if self.strategy is None:
                object.__setattr__(
                    self,
                    "strategy",
                    ForeignKeyColumn(
                        references=fk.ref, distribution=fk.distribution
                    ),
                )
            else:
                _check(
                    getattr(self.strategy, "strategy", None) == "foreign_key",
                    f"column {self.name!r}: foreign_key= requires a "
                    "ForeignKeyColumn strategy (or none)",
                )
            if fk.nullable and not self.nullable:
                object.__setattr__(self, "nullable", True)
            if fk.null_fraction and self.null_fraction is None:
                object.__setattr__(self, "null_fraction", fk.null_fraction)
        _check(
            self.strategy is not None,
            f"column {self.name!r}: a generation strategy is required "
            "(strategy=/gen=/foreign_key=)",
        )
        _check(
            bool(_IDENTIFIER_RE.match(self.name)),
            f"invalid column name {self.name!r}",
        )
        _check(
            self.name.lower() != ROW_ID_COL,
            f"column name {self.name!r} is reserved for the generator's row id",
        )
        if self.dtype is not None:
            object.__setattr__(self, "dtype", normalize_dtype(self.dtype))
        kind = self.strategy.strategy
        if kind == "expression":
            _check(
                self.dtype is None,
                f"column {self.name!r}: expression columns must not declare dtype "
                "(type is inferred)",
            )
        if self.null_fraction is not None:
            _check(
                0.0 <= self.null_fraction <= 1.0,
                f"column {self.name!r}: null_fraction must be in [0,1]",
            )
            _check(
                self.nullable or self.null_fraction == 0.0,
                f"column {self.name!r}: null_fraction > 0 requires nullable=True",
            )
        if self.seed_from is not None:
            _check(
                _IDENTIFIER_RE.match(self.seed_from) is not None,
                f"column {self.name!r}: invalid seed_from {self.seed_from!r}",
            )
            _check(
                self.seed_from != self.name,
                f"column {self.name!r}: seed_from cannot reference itself",
            )
            _check(
                kind not in ("sequence", "expression", "foreign_key"),
                f"column {self.name!r}: seed_from unsupported for {kind} strategy",
            )
        # dtype/strategy coherence + integral range guards
        if kind == "range" and self.dtype is not None:
            bd = base_dtype(self.dtype)
            _check(
                bd in ("byte", "short", "int", "long", "float", "double", "decimal"),
                f"column {self.name!r}: range strategy incompatible with {self.dtype}",
            )
            if bd in _INTEGRAL_BOUNDS:
                lo, hi = _INTEGRAL_BOUNDS[bd]
                st: RangeColumn = self.strategy  # type: ignore[assignment]
                _check(
                    lo <= st.min_value <= hi and lo <= st.max_value <= hi,
                    f"column {self.name!r}: range [{st.min_value},{st.max_value}] "
                    f"outside {bd} bounds",
                )
                span = st.max_value - st.min_value
                _check(
                    span < 2**63,
                    f"column {self.name!r}: range span {span} >= 2^63",
                )
        if kind == "sequence" and self.dtype is not None:
            _check(
                base_dtype(self.dtype) in ("byte", "short", "int", "long"),
                f"column {self.name!r}: sequence requires an integral dtype",
            )

    @property
    def effective_dtype(self) -> str:
        """Resolved dtype after strategy defaults (expression stays None→'infer')."""
        if self.dtype is not None:
            return self.dtype
        kind = self.strategy.strategy
        if kind in _STRING_STRATEGIES:
            return "string"
        if kind == "values":
            return "string"
        if kind == "sequence":
            return "long"
        if kind == "range":
            return "double"
        if kind == "timestamp":
            return "timestamp"
        if kind == "date":
            return "date"
        if kind == "expression":
            return "infer"
        if kind == "constant":
            v = self.strategy.value  # type: ignore[union-attr]
            if isinstance(v, bool):
                return "boolean"
            if isinstance(v, int):
                return "long"
            if isinstance(v, float):
                return "double"
            return "string"
        if kind in ("struct", "array", "foreign_key"):
            return "infer"
        return "string"


@dataclass(frozen=True)
class TableSpec:
    """One output table (reference ``core/spec/schema.py:1227-1387``)."""

    name: str
    rows: Union[int, str]
    columns: tuple = ()
    primary_key: Optional[str] = None
    seed: Optional[int] = None
    partitions: Optional[int] = None

    def __init__(
        self,
        name: str,
        rows: Union[int, str],
        columns: Sequence[ColumnSpec],
        primary_key: Optional[str] = None,
        seed: Optional[int] = None,
        partitions: Optional[int] = None,
    ):
        object.__setattr__(self, "name", name)
        object.__setattr__(self, "rows", parse_rows(rows))
        object.__setattr__(self, "columns", tuple(columns))
        object.__setattr__(self, "primary_key", primary_key)
        object.__setattr__(self, "seed", seed)
        object.__setattr__(self, "partitions", partitions)
        _check(bool(_IDENTIFIER_RE.match(name)), f"invalid table name {name!r}")
        _check(len(self.columns) > 0, f"table {name!r} has no columns")
        names = [c.name for c in self.columns]
        _check(
            len(set(names)) == len(names),
            f"table {name!r}: duplicate column names {names}",
        )
        if partitions is not None:
            _check(partitions > 0, f"table {name!r}: partitions must be > 0")
        if primary_key is not None:
            _check(
                primary_key in names,
                f"table {name!r}: primary_key {primary_key!r} is not a column",
            )
            pk = self.column(primary_key)
            _check(
                pk.strategy.strategy in ("sequence", "pattern", "uuid"),
                f"table {name!r}: PK strategy must be sequence/pattern/uuid "
                f"(reconstructible for FK), got {pk.strategy.strategy}",
            )
            _check(
                pk.null_fraction in (None, 0.0),
                f"table {name!r}: primary key cannot be nullable",
            )
        # sequence overflow at row n (reference schema.py:1345-1387)
        for c in self.columns:
            if c.strategy.strategy == "sequence":
                st: SequenceColumn = c.strategy  # type: ignore[assignment]
                last = st.start + (self.rows - 1) * st.step
                _check(
                    INT64_MIN <= last <= INT64_MAX,
                    f"table {name!r} column {c.name!r}: sequence overflows int64 "
                    f"at row {self.rows}",
                )

    def column(self, name: str) -> ColumnSpec:
        for c in self.columns:
            if c.name == name:
                return c
        raise KeyError(name)


@dataclass(frozen=True)
class DataGenPlan:
    """Multi-table plan; table *i* defaults to seed ``seed + i``
    (reference ``core/spec/schema.py:1390-1456``)."""

    tables: tuple = ()
    seed: int = 42
    default_locale: Optional[str] = None

    def __init__(
        self,
        tables: Sequence[TableSpec],
        seed: int = 42,
        default_locale: Optional[str] = None,
    ):
        object.__setattr__(self, "tables", tuple(tables))
        object.__setattr__(self, "seed", int(seed))
        object.__setattr__(self, "default_locale", default_locale)
        _check(len(self.tables) > 0, "plan has no tables")
        names = [t.name for t in self.tables]
        _check(len(set(names)) == len(names), f"duplicate table names: {names}")

    def table(self, name: str) -> TableSpec:
        for t in self.tables:
            if t.name == name:
                return t
        raise KeyError(name)

    def table_seed(self, name: str) -> int:
        t = self.table(name)
        if t.seed is not None:
            return t.seed
        idx = [i for i, tt in enumerate(self.tables) if tt.name == name][0]
        return self.seed + idx
