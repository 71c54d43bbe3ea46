"""v0-compatible fluent builder: ``DataGenerator(...).withColumn(...).build()``.

A thin facade with the reference's classic API shape
(``/root/reference/dbldatagen/data_generator.py:53-217`` and
``column_generation_spec.py:69-375``; implementation original) compiled
onto this engine's pure-expression builders. Differences by design:

* randomness is always partition-independent (xxhash64 cell seeds), never
  ``rand(seed)`` — v0's repeatability caveat under repartitioning
  (SURVEY §4.2) does not exist here;
* distributions are pure expressions, not nondeterministic pandas UDFs;
* template/ILText/plugin text are the only pandas-UDF paths.

Scale: ``build()`` produces a ``Range → Project`` plan (plus one final
``Filter`` if constraints are present and one shuffle only for
``UniqueCombinations``), so generation parallelism is limited only by the
partition count.
"""

from __future__ import annotations

import logging
import math as _math
import re
from dataclasses import dataclass, field as dc_field
from typing import Any, Dict, List, Optional, Sequence, Tuple, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dbldatagen_spark.operators import templates as tmod
from dbldatagen_spark.operators.constraints import Constraint, SqlExpr
from dbldatagen_spark.operators.distributions import index_expr
from dbldatagen_spark.operators.numeric import (
    range_count,
    range_expr,
    spark_type_name,
)
from dbldatagen_spark.operators.seed import (
    cell_seed,
    decorrelate,
    derive_column_seed,
    null_mask,
)
from dbldatagen_spark.operators.sqltext import (
    Level,
    bind_column,
    call,
    cast,
    parser_scope,
    quote,
    sql_lit,
    user_sql,
)
from dbldatagen_spark.operators.strings import values_expr
from dbldatagen_spark.plans.spec import (
    Distribution,
    Normal,
    RangeColumn,
    SpecValidationError,
    Uniform,
    WeightedValues,
    normalize_dtype,
)
from dbldatagen_spark.generator import expression_refs
from dbldatagen_spark.plans.planner import dependency_levels

INFER_DATATYPE = "__infer__"

_MASK64 = (1 << 64) - 1


def _is_complex_type(type_str: str) -> bool:
    """array<...> / map<...> / struct<...> spellings (kept verbatim)."""
    s = type_str.strip().lower()
    return s.startswith(("array<", "map<", "struct<"))


def _cast_target(dtype: str) -> str:
    """Spark cast target for a spec dtype; complex DDL strings pass through."""
    return dtype if _is_complex_type(dtype) else spark_type_name(dtype)


_ATOMIC_TYPES = {
    "string": T.StringType, "boolean": T.BooleanType, "tinyint": T.ByteType,
    "smallint": T.ShortType, "int": T.IntegerType, "bigint": T.LongType,
    "float": T.FloatType, "double": T.DoubleType, "date": T.DateType,
    "timestamp": T.TimestampType, "binary": T.BinaryType,
}


def _datatype_from_string(ddl: str) -> T.DataType:
    """DDL string -> Spark DataType. Atomic types resolve without an active
    SparkSession (so spec introspection works driver-free); complex and
    decimal types go through Spark's own parser."""
    key = ddl.strip().lower()
    if key in _ATOMIC_TYPES:
        return _ATOMIC_TYPES[key]()
    m = re.fullmatch(r"decimal\((\d+),\s*(\d+)\)", key)
    if m:
        return T.DecimalType(int(m.group(1)), int(m.group(2)))
    return T._parse_datatype_string(ddl)


def parse_distribution(spec: Union[str, Distribution, None]) -> Optional[Distribution]:
    """Parse ``"beta(alpha=5.0, beta=2.0)"``-style distribution strings
    (reference registry parsing,
    ``distributions/data_distribution.py:162-247``)."""
    from dbldatagen_spark.plans.spec import DISTRIBUTION_KINDS

    if spec is None or isinstance(
        spec, tuple(DISTRIBUTION_KINDS.values())
    ):
        return spec  # type: ignore[return-value]
    if not isinstance(spec, str):
        raise SpecValidationError(f"bad distribution spec {spec!r}")
    m = re.match(r"^\s*([A-Za-z_]+)\s*(?:\((.*)\))?\s*$", spec)
    if not m:
        raise SpecValidationError(f"unparseable distribution {spec!r}")
    name = m.group(1).lower()
    if name == "normal":
        name = "normal"
    if name not in DISTRIBUTION_KINDS:
        raise SpecValidationError(
            f"unknown distribution {name!r} (known: {sorted(DISTRIBUTION_KINDS)})"
        )
    kwargs: Dict[str, float] = {}
    if m.group(2):
        for part in m.group(2).split(","):
            if not part.strip():
                continue
            if "=" not in part:
                raise SpecValidationError(
                    f"distribution args must be keyword form: {spec!r}"
                )
            k, v = part.split("=", 1)
            kwargs[k.strip()] = float(v.strip())
    cls = DISTRIBUTION_KINDS[name]
    if name == "weighted":
        raise SpecValidationError("weighted is expressed via the weights= option")
    return cls(**kwargs)  # type: ignore[arg-type]


def _coprime_multiplier(grid: int) -> int:
    """Odd multiplier near golden-ratio*grid, coprime with grid — drives the
    bijective scatter map for unique random values (reference
    ``column_generation_spec.py:685-761`` strategy; original math)."""
    import math

    a = max(1, int(grid * 0.6180339887498949)) | 1
    while math.gcd(a, grid) != 1:
        a += 2
    return a


@dataclass
class _V0Column:
    name: str
    col_type: Optional[str]  # canonical dtype, None => string, INFER_DATATYPE ok
    min_value: Optional[float] = None
    max_value: Optional[float] = None
    step: Optional[float] = None
    values: Optional[List[Any]] = None
    weights: Optional[List[float]] = None
    random: Optional[bool] = None
    distribution: Optional[Distribution] = None
    template: Optional[str] = None
    escape_special_chars: bool = False
    text: Optional[Any] = None  # object with make_expr(seed_col, base_col)
    fmt: Optional[str] = None
    prefix: Optional[str] = None
    suffix: Optional[str] = None
    text_separator: str = "_"
    percent_nulls: Optional[float] = None
    expr: Optional[str] = None
    num_columns: Optional[Union[int, Tuple[int, int]]] = None
    struct_type: Optional[str] = None  # 'array' to combine multi-columns
    omit: bool = False
    base_columns: List[str] = dc_field(default_factory=list)
    base_column_type: str = "auto"  # auto | values | hash
    unique_values: Optional[int] = None
    begin: Optional[Any] = None
    end: Optional[Any] = None
    interval: Optional[Any] = None
    nullable: bool = True
    implicit: bool = False  # schema-imported, spec not yet customized

    # -- reference ColumnGenerationSpec read surface -----------------------
    # (reference column_generation_spec.py:458-1207; engine internals like
    # makeGenerationExpressions are not mirrored — expression compilation
    # lives on the generator here)

    def _option_map(self) -> Dict[str, Any]:
        return {
            "type": self.datatype,
            "minValue": self.min_value,
            "maxValue": self.max_value,
            "step": self.step,
            "values": self.values,
            "weights": self.weights,
            "random": self.random,
            "distribution": self.distribution,
            "template": self.template,
            "text": self.text,
            "format": self.fmt,
            "prefix": self.prefix,
            "suffix": self.suffix,
            "text_separator": self.text_separator,
            "percentNulls": self.percent_nulls,
            "expr": self.expr,
            "numColumns": self.numColumns,
            "numFeatures": self.numFeatures,
            "structType": self.struct_type,
            "omit": self.omit,
            "baseColumn": self.baseColumn,
            "baseColumnType": self.base_column_type,
            "uniqueValues": self.unique_values,
            "begin": self.begin,
            "end": self.end,
            "interval": self.interval,
            "nullable": self.nullable,
            "implicit": self.implicit,
            "escapeSpecialChars": self.escape_special_chars,
        }

    @property
    def specOptions(self) -> Dict[str, Any]:
        """Option dict view of the spec (testing/introspection aid)."""
        return self._option_map()

    def keys(self):
        """Names of the options carrying a value."""
        return [k for k, v in self._option_map().items() if v is not None]

    def __getitem__(self, key: str):
        if key is None:
            raise ValueError("key should be non-empty")
        return self._option_map().get(key)

    def getOrElse(self, key: str, default=None):
        v = self._option_map().get(key)
        return v if v is not None else default

    @property
    def datatype(self) -> T.DataType:
        """Spark type generated for this column (untyped/inferred -> STRING,
        this engine's default)."""
        if self.col_type in (None, "__infer__"):
            return T.StringType()
        return _datatype_from_string(_cast_target(self.col_type))

    @property
    def isFieldOmitted(self) -> bool:
        return self.omit

    @property
    def isRandom(self) -> bool:
        return bool(self.random)

    @property
    def textGenerator(self):
        return self.text

    @property
    def inferDatatype(self) -> bool:
        return self.col_type == "__infer__"

    @property
    def isWeightedValuesColumn(self) -> bool:
        return self.weights is not None and self.values is not None

    @property
    def baseColumn(self):
        """The base column option as given: a single name, a list for
        multi-column bases, or the default seed column ``id``."""
        if not self.base_columns:
            return "id"
        if len(self.base_columns) == 1:
            return self.base_columns[0]
        return list(self.base_columns)

    @property
    def baseColumns(self) -> List[str]:
        return list(self.base_columns) if self.base_columns else ["id"]

    def setBaseColumnDatatypes(self, columnDatatypes) -> None:
        if not isinstance(columnDatatypes, list):
            raise ValueError("`columnDatatypes` parameter must be list")
        self._base_column_datatypes = list(columnDatatypes)

    @property
    def min(self):
        return self.min_value

    @property
    def max(self):
        return self.max_value

    @property
    def exprs(self):
        return None  # the multi-expression option has no analogue here

    @property
    def numColumns(self):
        return self.num_columns if self.struct_type != "array" else None

    @property
    def numFeatures(self):
        return self.num_columns if self.struct_type == "array" else None

    def structType(self):
        return self.struct_type

    def getNames(self) -> List[str]:
        """Output column names: multi-column specs expand to name_0..name_N."""
        if self.num_columns is not None and self.struct_type != "array":
            n = self.num_columns if isinstance(self.num_columns, int) else self.num_columns[1]
            if n > 1:
                return [f"{self.name}_{i}" for i in range(n)]
        return [self.name]

    def getNamesAndTypes(self) -> List[Tuple[str, T.DataType]]:
        dt = self.datatype
        if self.struct_type == "array":
            dt = T.ArrayType(dt)
        return [(n, dt) for n in self.getNames()]

    def getPlanEntry(self) -> str:
        desc = self.expr or self.template or (
            f"values({len(self.values)})" if self.values else "range"
        )
        return f"building column generator for column {self.name} <- {desc}"

    @property
    def randomSeed(self):
        """Per-spec random seed. None: this engine derives every column's
        seed stream from the generator seed + column name (reference
        ``column_generation_spec.py:490-497`` carries it per-spec)."""
        return None

    def makeGenerationExpressions(self):
        """Expression compilation lives on the generator in this engine
        (the spec is pure data) — use ``DataGenerator.build()`` /
        ``computeBuildPlan()``; reference
        ``column_generation_spec.py:1644+`` compiles per-spec instead."""
        raise NotImplementedError(
            "expression compilation is driven by DataGenerator.build() in "
            "this engine; column specs are pure data"
        )


_OPTION_ALIASES = {
    "percent_nulls": "percentNulls",
    "unique_values": "uniqueValues",
    "base_column": "baseColumn",
    "base_column_type": "baseColumnType",
    "num_columns": "numColumns",
    "num_features": "numFeatures",
    "text_separator": "textSeparator",
    "escape_special_chars": "escapeSpecialChars",
    "min": "minValue",
    "max": "maxValue",
}

_KNOWN_OPTIONS = {
    "minValue", "maxValue", "step", "values", "weights", "random",
    "distribution", "template", "escapeSpecialChars", "text", "format",
    "prefix", "suffix", "textSeparator", "percentNulls", "expr",
    "numColumns", "numFeatures", "structType", "omit", "baseColumn",
    "baseColumnType", "uniqueValues", "begin", "end", "interval",
    "nullable", "implicit", "dataRange",
}


class DataGenerator:
    """Fluent synthetic-table builder (v0-compatible surface)."""

    def __init__(
        self,
        sparkSession: Optional[SparkSession] = None,
        name: Optional[str] = None,
        rows: int = 100000,
        partitions: Optional[int] = None,
        randomSeed: Optional[int] = None,
        random: bool = False,
        seedColumnName: str = "id",
        startingId: int = 0,
        randomSeedMethod: Optional[str] = None,
        **_ignored,
    ):
        # randomSeedMethod ("fixed"/"hash_fieldname") is accepted for v0
        # compatibility but has no effect: every column already derives an
        # independent hash-based seed stream, which subsumes both modes.
        self.spark = sparkSession or SparkSession.getActiveSession()
        self.name = name or "synthetic_data"
        self._rows = int(rows)
        self._partitions = partitions
        if randomSeed is None:
            # class-level default installed via useSeed(), else 42
            randomSeed = (DataGenerator._class_random_seed
                          if DataGenerator._class_random_seed is not None else 42)
        self._seed = int(randomSeed)
        self._default_random = bool(random)
        self.seed_column = seedColumnName
        self._starting_id = int(startingId)
        self._columns: List[_V0Column] = []
        self._id_output = False
        self._constraints: List[Constraint] = []
        self._schema_fields: Dict[str, str] = {}

    # -- spec building ------------------------------------------------------

    def clone(self) -> "DataGenerator":
        """Deep copy of the spec sharing the same Spark session (reference
        ``data_generator.py:446-455``; the session itself is never
        deep-copied — ``data_generator.py:219-229`` excludes it too, since
        a SparkSession is not copyable)."""
        import copy

        cls = self.__class__
        out = cls.__new__(cls)
        for k, v in self.__dict__.items():
            if k == "spark":
                out.spark = v
            else:
                setattr(out, k, copy.deepcopy(v))
        return out

    @property
    def logger(self) -> logging.Logger:
        """Instance logger (reference ``data_generator.py`` keeps one per
        generator; a shared module logger suffices here and keeps the
        instance deep-copyable for :meth:`clone`)."""
        return logging.getLogger("dbldatagen_spark")

    @property
    def rowCount(self) -> int:
        return self._rows

    def withIdOutput(self) -> "DataGenerator":
        self._id_output = True
        return self

    @property
    def schema(self) -> T.StructType:
        """Output schema (non-omitted fields, multi-column specs flattened).

        Parity: reference ``data_generator.py:606-620`` exposes ``schema``
        through ``describe()``.
        """
        return T.StructType(
            [
                T.StructField(name, T._parse_datatype_string(dtype))
                for name, dtype in self._output_fields()
            ]
        )

    @property
    def build_order(self) -> List[List[str]]:
        """Column build order as parallel phases (seed column excluded).

        Parity: reference ``data_generator.py:1464-1475``.
        """
        return [[c.name for c in level] for level in self._dependency_levels()]

    def explain(self, suppressOutput: bool = False) -> str:
        """Render the build plan as text (parity: reference
        ``data_generator.py:480-518``); returns and optionally prints it."""
        order = self.build_order
        lines = [
            "",
            "Data generation plan",
            "====================",
            f"spec=DataGenerator(name={self.name}, rows={self._rows}, "
            f"startingId={self._starting_id}, partitions={self._partitions})",
            "",
            f"seed column: {self.seed_column}",
            "",
            f"column build order: {order}",
            "",
            "build plan:",
        ]
        for phase_no, phase in enumerate(order):
            for colname in phase:
                col = next(c for c in self._columns if c.name == colname)
                desc = col.expr or col.template or (
                    f"values({len(col.values)})" if col.values else "range"
                )
                lines.append(f" ==> phase {phase_no}: {colname} <- {desc}")
        for con in self._constraints:
            lines.append(f" ==> constraint: {con.__class__.__name__}")
        lines.extend(["", "===================="])
        text = "\n".join(lines)
        if not suppressOutput:
            print(text)
        return text

    def describe(self) -> Dict[str, Any]:
        """Dictionary description of the generator (parity: reference
        ``data_generator.py:606-629``)."""
        return {
            "name": self.name,
            "rowCount": self._rows,
            "schema": self.schema,
            "randomSeed": self._seed,
            "partitions": self._partitions,
            "columnDefinitions": {c.name: c for c in self._columns},
        }

    def __repr__(self) -> str:
        return (
            f"DataGenerator(name={self.name!r}, rows={self._rows}, "
            f"partitions={self._partitions})"
        )

    # -- reference-parity surface ------------------------------------------
    # (reference data_generator.py:240-770, 973, 1484-1608, 1957-2005)

    _ALLOWED_OPTION_KEYS = ("startingId", "rowCount", "row_count", "output_id")
    _nextNameIndex = 0
    _class_random_seed: Optional[int] = None

    @classmethod
    def useSeed(cls, seedVal: int) -> None:
        """Set the class-level default random seed used by generators that
        do not pass ``randomSeed`` (reference ``data_generator.py:410-417``)."""
        cls._class_random_seed = seedVal

    @classmethod
    def use_seed(cls, seedVal: int) -> None:
        """Deprecated alias of :meth:`useSeed`."""
        import warnings

        warnings.warn("use_seed is deprecated, use useSeed instead",
                      DeprecationWarning, stacklevel=2)
        cls.useSeed(seedVal)

    @classmethod
    def reset(cls) -> None:
        """Reset class-level state (the generated-name counter)."""
        cls._nextNameIndex = 0

    @classmethod
    def generateName(cls) -> str:
        """Next ``Untitled_<n>`` dataset name (reference
        ``data_generator.py:436-444``)."""
        cls._nextNameIndex += 1
        return f"Untitled_{cls._nextNameIndex}"

    @property
    def seedColumnName(self) -> str:
        return self.seed_column

    @property
    def randomSeed(self) -> int:
        return self._seed

    @property
    def random(self) -> bool:
        """Default randomness for columns built without an explicit
        ``random=`` argument."""
        return self._default_random

    @property
    def constraints(self) -> List[Constraint]:
        return list(self._constraints)

    @property
    def columnGenerationSpecs(self) -> List[_V0Column]:
        return list(self._columns)

    @property
    def schemaFields(self) -> List[T.StructField]:
        """Output schema fields (non-omitted, multi-column specs flattened)."""
        return list(self.schema.fields)

    def _inferred_fields(self) -> List[Tuple[str, str]]:
        """All fields including omitted ones and the seed column — the
        interim view the reference calls the inferred schema."""
        fields: List[Tuple[str, str]] = [(self.seed_column, "BIGINT")]
        for c in self._columns:
            dt = (c.col_type or "string").upper()
            if dt == INFER_DATATYPE.upper():
                dt = "STRING"
            if c.num_columns is not None and c.struct_type != "array":
                n = c.num_columns if isinstance(c.num_columns, int) else c.num_columns[1]
                fields.extend((f"{c.name}_{i}", dt) for i in range(n))
            elif c.struct_type == "array":
                fields.append((c.name, f"ARRAY<{dt}>"))
            else:
                fields.append((c.name, dt))
        return fields

    @property
    def inferredSchema(self) -> T.StructType:
        """Interim schema over every spec, including omitted columns and
        the seed column (reference ``data_generator.py:666-678``)."""
        return T.StructType(
            [
                T.StructField(name, T._parse_datatype_string(dtype))
                for name, dtype in self._inferred_fields()
            ]
        )

    def getInferredColumnNames(self) -> List[str]:
        return [name for name, _ in self._inferred_fields()]

    def getColumnType(self, colName: str) -> T.DataType:
        """Spark type for a column; the seed column is LONG; untyped specs
        report STRING (this engine's default — the reference reports
        INTEGER for its rare untyped case)."""
        if colName == self.seed_column:
            return T.LongType()
        col = next(c for c in self._columns if c.name == colName)
        if col.col_type in (None, INFER_DATATYPE):
            return T.StringType()
        return T._parse_datatype_string(spark_type_name(col.col_type))

    def isFieldExplicitlyDefined(self, colName: str) -> bool:
        col = next((c for c in self._columns if c.name == colName), None)
        return col is not None and not col.implicit

    @staticmethod
    def flatten(lst: List[Any]) -> List[Any]:
        return [item for sublist in lst for item in sublist]

    def hasColumnSpec(self, colName: str) -> bool:
        if colName == self.seed_column:
            return True
        return any(c.name == colName for c in self._columns)

    def getColumnSpec(self, name: str) -> _V0Column:
        if not (name and name.strip()):
            raise ValueError("column name must be non empty string")
        if name == self.seed_column:
            return _V0Column(name=self.seed_column, col_type="bigint",
                             omit=not self._id_output)
        col = next((c for c in self._columns if c.name == name), None)
        if col is None:
            raise KeyError(name)
        return col

    def __getitem__(self, key: str) -> _V0Column:
        return self.getColumnSpec(key)

    def getOutputColumnNames(self) -> List[str]:
        return [name for name, _ in self._output_fields()]

    def getOutputColumnNamesAndTypes(self) -> List[Tuple[str, T.DataType]]:
        return [
            (name, T._parse_datatype_string(dtype))
            for name, dtype in self._output_fields()
        ]

    def withRowCount(self, rc: int) -> "DataGenerator":
        self._rows = int(rc)
        return self

    def setRowCount(self, rc: int) -> "DataGenerator":
        """Deprecated alias of :meth:`withRowCount`."""
        import warnings

        warnings.warn("setRowCount is deprecated, use withRowCount instead",
                      DeprecationWarning, stacklevel=2)
        return self.withRowCount(rc)

    def option(self, optionKey: str, optionValue: Any) -> "DataGenerator":
        """Set a generator option (reference allowed keys: startingId,
        rowCount/row_count, output_id); applied immediately."""
        if optionKey not in self._ALLOWED_OPTION_KEYS:
            raise SpecValidationError(
                f"unknown generator option {optionKey!r} "
                f"(allowed: {list(self._ALLOWED_OPTION_KEYS)})"
            )
        if optionKey == "startingId":
            self._starting_id = int(optionValue)
        elif optionKey in ("rowCount", "row_count"):
            self._rows = int(optionValue)
        elif optionKey == "output_id" and optionValue:
            self._id_output = True
        return self

    def options(self, **kwargs: Any) -> "DataGenerator":
        for key, value in kwargs.items():
            self.option(key, value)
        return self

    def computeBuildPlan(self) -> "DataGenerator":
        """Compute the debug pseudo build plan (reference
        ``data_generator.py:1568-1607``): populates ``self._buildPlan`` /
        ``self.executionHistory`` and marks the plan computed. Purely
        informational — column generation order comes from the dependency
        toposort either way."""
        plan = [f"Build Spark data frame with seed column: '{self.seed_column}'"]
        for phase_no, phase in enumerate(self.build_order):
            for colname in phase:
                col = next(c for c in self._columns if c.name == colname)
                desc = col.expr or col.template or (
                    f"values({len(col.values)})" if col.values else "range"
                )
                plan.append(f"phase {phase_no}: building column {colname} <- {desc}")
        for con in self._constraints:
            plan.append(f"applying constraint {type(con).__name__}")
        self._buildPlan = plan
        self.executionHistory: List[str] = []
        self.buildPlanComputed = True
        return self

    def saveAsDataset(
        self,
        dataset: Any,
        with_streaming: Optional[bool] = None,
        generator_options: Optional[Dict[str, Any]] = None,
    ):
        """Build and write to an OutputDataset; streaming auto-detected
        from the dataset's trigger (reference
        ``data_generator.py:1957-1977``). Returns the StreamingQuery for
        streaming writes, else None."""
        from dbldatagen_spark.sources.sinks import write_data_to_output

        if with_streaming is None:
            trig = getattr(dataset, "trigger", None)
            with_streaming = bool(trig)
        df = self.build(withStreaming=with_streaming, options=generator_options)
        return write_data_to_output(df, dataset)

    def saveToInitializationDict(self) -> Dict[str, Any]:
        """Spec (not data) as a plain dict (reference
        ``data_generator.py:285-292``)."""
        return generator_to_dict(self)

    @classmethod
    def loadFromInitializationDict(
        cls, options: Dict[str, Any], sparkSession: Optional[SparkSession] = None
    ) -> "DataGenerator":
        return generator_from_dict(options, sparkSession)

    def _norm_options(self, options: Dict[str, Any]) -> Dict[str, Any]:
        out: Dict[str, Any] = {}
        for k, v in options.items():
            k2 = _OPTION_ALIASES.get(k, k)
            if k2 == "numFeatures":
                k2 = "numColumns"
            if k2 not in _KNOWN_OPTIONS:
                raise SpecValidationError(f"unknown column option {k!r}")
            out[k2] = v
        return out

    def _mk_column(
        self, colName: str, colType: Optional[str], options: Dict[str, Any]
    ) -> _V0Column:
        o = self._norm_options(options)
        rng = o.pop("dataRange", None)
        if rng is not None:
            if isinstance(rng, NRange):
                o.setdefault("minValue", rng.minValue)
                o.setdefault("maxValue", rng.maxValue)
                if rng.step is not None:
                    o.setdefault("step", rng.step)
            elif isinstance(rng, DateRange):
                # stringify so the column options stay JSON-serializable
                if rng.begin is not None:
                    o.setdefault("begin", _ts_str(rng.begin))
                if rng.end is not None:
                    o.setdefault("end", _ts_str(rng.end))
                if rng.interval is not None:
                    o.setdefault(
                        "interval",
                        f"{int(rng.interval.total_seconds())} seconds",
                    )
            else:
                raise SpecValidationError(
                    f"dataRange must be NRange or DateRange, got {type(rng).__name__}"
                )
        if colType is None or colType == INFER_DATATYPE:
            dtype = INFER_DATATYPE if colType == INFER_DATATYPE else None
        else:
            type_str = (
                colType.simpleString()
                if isinstance(colType, T.DataType)
                else str(colType)
            )
            if _is_complex_type(type_str):
                # array/map/struct kept verbatim: generated via expr/values
                # or NULL-of-type (reference column_generation_spec.py:1410-1412)
                dtype = type_str.strip()
            else:
                dtype = normalize_dtype(type_str)
        base = o.get("baseColumn", self.seed_column)
        base_cols = [base] if isinstance(base, str) else list(base)
        values = o.get("values")
        num_cols = o.get("numColumns")
        if isinstance(num_cols, list):
            num_cols = tuple(num_cols)
        weights = o.get("weights")
        if weights is not None:
            if values is None:
                raise SpecValidationError(
                    f"column {colName!r}: weights require values"
                )
            if len(weights) != len(values):
                raise SpecValidationError(
                    f"column {colName!r}: weights/values length mismatch"
                )
        col = _V0Column(
            name=colName,
            col_type=dtype,
            min_value=o.get("minValue"),
            max_value=o.get("maxValue"),
            step=o.get("step"),
            values=list(values) if values is not None else None,
            weights=list(weights) if weights is not None else None,
            random=o.get("random"),
            distribution=parse_distribution(o.get("distribution")),
            template=o.get("template"),
            escape_special_chars=bool(o.get("escapeSpecialChars", False)),
            text=o.get("text"),
            fmt=o.get("format"),
            prefix=o.get("prefix"),
            suffix=o.get("suffix"),
            text_separator=o.get("textSeparator", "_"),
            percent_nulls=o.get("percentNulls"),
            expr=o.get("expr"),
            num_columns=num_cols,
            struct_type=o.get("structType"),
            omit=bool(o.get("omit", False)),
            base_columns=base_cols,
            base_column_type=o.get("baseColumnType", "auto"),
            unique_values=o.get("uniqueValues"),
            begin=o.get("begin"),
            end=o.get("end"),
            interval=o.get("interval"),
            nullable=bool(o.get("nullable", True)),
            implicit=bool(o.get("implicit", False)),
        )
        if col.percent_nulls is not None and not (0.0 <= col.percent_nulls <= 1.0):
            raise SpecValidationError(
                f"column {colName!r}: percentNulls must be in [0,1] "
                "(use 0.12 for 12%)"
            )
        return col

    def withColumn(
        self, colName: str, colType: Union[str, T.DataType, None] = "string",
        **options: Any,
    ) -> "DataGenerator":
        if any(c.name == colName for c in self._columns):
            raise SpecValidationError(f"duplicate column {colName!r}")
        if colName == self.seed_column and not options.get("noWarn"):
            # reference data_generator.py:1043-1045: warn and override
            self.logger.warning(
                "Adding a new column named '%s' overrides seed column '%s'",
                colName, self.seed_column,
            )
            self.logger.warning(
                "Use `seedColumnName` option on DataGenerator construction "
                "for different seed column"
            )
        options.pop("noWarn", None)
        self._columns.append(self._mk_column(colName, colType, options))
        return self

    def withColumnSpec(self, colName: str, **options: Any) -> "DataGenerator":
        """Customize a schema-imported (implicit) column."""
        for i, c in enumerate(self._columns):
            if c.name == colName:
                new = self._mk_column(colName, self._schema_fields.get(colName, c.col_type), options)
                new.implicit = False
                self._columns[i] = new
                return self
        raise SpecValidationError(
            f"withColumnSpec: column {colName!r} not found (use withColumn "
            "or withSchema first)"
        )

    def withSchema(self, schema: T.StructType) -> "DataGenerator":
        """Import a Spark schema: one implicit spec per field (reference
        ``data_generator.py:766-779``)."""
        for field in schema.fields:
            dtype = field.dataType.simpleString()
            self._schema_fields[field.name] = dtype
            self._columns.append(
                self._mk_column(field.name, dtype, {"implicit": True})
            )
        return self

    def withColumnSpecs(
        self,
        patterns: Union[str, Sequence[str], None] = None,
        matchTypes: Union[str, Sequence[str], None] = None,
        **options: Any,
    ) -> "DataGenerator":
        """Wildcard spec application by name regex and/or type match
        (reference ``data_generator.py:804-871``)."""
        pats = None
        if patterns is not None:
            pats = [patterns] if isinstance(patterns, str) else list(patterns)
        mts = None
        if matchTypes is not None:
            mts_list = [matchTypes] if isinstance(matchTypes, (str, T.DataType)) else list(matchTypes)
            mts = set()
            for mt in mts_list:
                if isinstance(mt, T.DataType):
                    mts.add(normalize_dtype(mt.simpleString()))
                else:
                    mts.add(normalize_dtype(str(mt)))
        for i, c in enumerate(self._columns):
            if not c.implicit:
                continue
            if pats is not None and not any(
                re.fullmatch(p, c.name) for p in pats
            ):
                continue
            if mts is not None and (c.col_type or "string") not in mts:
                continue
            new = self._mk_column(c.name, c.col_type, options)
            new.implicit = True
            self._columns[i] = new
        return self

    def withStructColumn(
        self,
        colName: str,
        fields: Union[Sequence[str], Dict[str, Any], None] = None,
        asJson: bool = False,
        **options: Any,
    ) -> "DataGenerator":
        """Struct from existing columns / nested dict spec, optionally
        serialized with ``to_json`` (reference
        ``data_generator.py:1157-1228``)."""
        if not fields:
            raise SpecValidationError("withStructColumn requires fields")
        sql = _struct_sql(fields)
        if asJson:
            sql = f"to_json({sql})"
        return self.withColumn(colName, INFER_DATATYPE, expr=sql, **options)

    # -- constraints --------------------------------------------------------

    def withConstraint(self, constraint: Constraint) -> "DataGenerator":
        self._constraints.append(constraint)
        return self

    def withConstraints(self, constraints: Sequence[Constraint]) -> "DataGenerator":
        self._constraints.extend(constraints)
        return self

    def withSqlConstraint(self, sqlExpression: str) -> "DataGenerator":
        self._constraints.append(SqlExpr(sqlExpression))
        return self

    # -- (de)serialization --------------------------------------------------

    def saveToJson(self, path: Optional[str] = None) -> Optional[str]:
        """Persist the generator *spec* as JSON (reference
        ``data_generator.py:1995-2001``). With ``path`` the JSON is
        written to that file (and None returned); without it, the JSON
        string is returned — the reference signature."""
        import json

        if path is None:
            return json.dumps(generator_to_dict(self))
        with open(path, "w") as f:
            json.dump(generator_to_dict(self), f, indent=2)
        return None

    @classmethod
    def loadFromJson(
        cls, options: str, sparkSession: Optional[SparkSession] = None
    ) -> "DataGenerator":
        """Load a generator spec from a JSON string (reference
        ``data_generator.py:1982-1992``) or from a file path containing
        one."""
        import json

        s = options.lstrip()
        if s.startswith("{"):
            return generator_from_dict(json.loads(s), sparkSession)
        with open(options) as f:
            return generator_from_dict(json.load(f), sparkSession)

    # -- expression compilation --------------------------------------------

    def _col_seed(self, name: str, salt: int = 0) -> int:
        s = derive_column_seed(self._seed, self.name, name)
        return decorrelate(s, salt) if salt else s

    def _seed_source(self, col: _V0Column, col_seed: int) -> str:
        """Random-mode 64-bit seed column for this column."""
        bases = col.base_columns
        if bases == [self.seed_column] or not bases:
            return cell_seed(col_seed, quote(self.seed_column))
        return call("xxhash64", sql_lit(col_seed), *[quote(b) for b in bases])

    def _index_source(self, col: _V0Column) -> str:
        """Non-random lattice index source: base value (numeric) or its hash."""
        bases = col.base_columns
        if bases == [self.seed_column] or not bases:
            return quote(self.seed_column)
        if col.base_column_type == "hash" or len(bases) > 1:
            return call("abs", call("xxhash64", *[quote(b) for b in bases]))
        return quote(bases[0])

    def _is_random(self, col: _V0Column) -> bool:
        return self._default_random if col.random is None else bool(col.random)

    def _value_expr(self, col: _V0Column, salt: int = 0) -> str:
        """The core per-column value expression (pre null-mask, pre alias)."""
        col_seed = self._col_seed(col.name, salt)
        random = self._is_random(col)
        seed_col = (
            call("xxhash64", sql_lit(salt * 0x9E37 + 1), self._seed_source(col, col_seed))
            if salt
            else self._seed_source(col, col_seed)
        )
        dist = col.distribution or Uniform()
        dtype = col.col_type or "string"

        # 1. explicit SQL expression dominates
        if col.expr is not None:
            e = user_sql(col.expr)
            if col.col_type not in (None, INFER_DATATYPE) and col.values is None:
                e = cast(e, _cast_target(dtype))
            return e

        # 1b. complex types without expr/values yield NULL of that type
        # (reference column_generation_spec.py:1410-1412,1444-1445)
        if _is_complex_type(dtype) and col.values is None:
            return cast("NULL", dtype)

        # 2. text generators — pandas-UDF Columns, bound by name. The base
        # column (default: the seed id column, matching the reference where
        # every column's default baseColumn is 'id' and \v substitutes its
        # values) feeds \v/\vN
        if col.template is not None or col.text is not None:
            seed = F.expr(seed_col)
            base = F.col(quote(col.base_columns[0] if col.base_columns else self.seed_column))
            if col.template is not None:
                return bind_column(tmod.template_udf_expr(
                    col.template, seed, base, col.escape_special_chars
                ))
            return bind_column(col.text.make_expr(seed, base))

        # 3. value lists (optionally weighted)
        if col.values is not None:
            out = values_expr(
                col.values, seed_col,
                WeightedValues(col.weights) if col.weights is not None else dist,
                random=random, id_col=self._index_source(col),
            )
            if col.col_type not in (None, INFER_DATATYPE):
                out = cast(out, _cast_target(dtype))
            return out

        # 4. temporal ranges
        if dtype in ("date", "timestamp") or col.begin is not None or col.end is not None:
            return self._temporal_expr(col, seed_col, random, dtype)

        # 5. boolean
        if dtype == "boolean":
            if random:
                idx = index_expr(seed_col, 2, dist)
            else:
                idx = call("pmod", cast(self._index_source(col), "BIGINT"), sql_lit(2))
            return cast(f"({idx} = {sql_lit(1)})", "BOOLEAN")

        # 6. numeric / string-from-numeric ranges
        return self._numeric_expr(col, seed_col, random, dtype)

    def _temporal_expr(
        self, col: _V0Column, seed_col: str, random: bool, dtype: str
    ) -> str:
        from dbldatagen_spark.operators.temporal import date_expr, timestamp_expr
        from dbldatagen_spark.plans.spec import DateColumn, TimestampColumn

        begin = col.begin if col.begin is not None else (
            "2020-01-01" if dtype == "date" else "2020-01-01 00:00:00"
        )
        end = col.end if col.end is not None else (
            "2020-12-31" if dtype == "date" else "2020-12-31 23:59:59"
        )
        id_col = self._index_source(col)
        if col.unique_values is not None:
            # restrict to the first k lattice points: route the draw through
            # pmod(source, k) and take the non-random (index) path
            k = int(col.unique_values)
            id_col = call(
                "pmod", seed_col if random else cast(id_col, "BIGINT"), sql_lit(k)
            )
            random = False
        if dtype == "date":
            interval_days = _interval_to_days(col.interval) if col.interval else 1
            strategy = DateColumn(
                start=_date_str(begin), end=_date_str(end),
                interval_days=interval_days,
                distribution=col.distribution or Uniform(),
            )
            return date_expr(strategy, seed_col, random=random, id_col=id_col)
        interval_secs = _interval_to_seconds(col.interval) if col.interval else 1
        strategy = TimestampColumn(
            start=_ts_str(begin), end=_ts_str(end),
            interval_seconds=interval_secs,
            distribution=col.distribution or Uniform(),
        )
        return timestamp_expr(strategy, seed_col, random=random, id_col=id_col)

    def _numeric_expr(
        self, col: _V0Column, seed_col: str, random: bool, dtype: str
    ) -> str:
        # defaults per type (reference nrange.py type-default ranges)
        num_dtype = dtype if dtype not in ("string", "infer") else "long"
        lo = col.min_value
        hi = col.max_value
        id_col = self._index_source(col)
        if lo is None and hi is None and col.unique_values is None:
            # identity over base (v0: column = base column value)
            value = cast(
                id_col, spark_type_name(num_dtype) if dtype != "string" else "bigint"
            )
            return self._decorate_numeric(col, value, dtype)
        if lo is None:
            lo = 0
        if hi is None:
            hi = lo + (col.unique_values - 1 if col.unique_values else 1_000_000)
        step = col.step or 1
        if col.unique_values is not None and int(col.unique_values) <= 0:
            raise SpecValidationError("uniqueValues must be positive")
        # the lattice runs in long when min and step are integral, else in
        # double; the target type is one cast away
        lattice = "long" if int(step) == step and int(lo) == lo else "double"
        strategy = RangeColumn(lo, hi, step, col.distribution or Uniform())
        if col.unique_values is not None:
            k = int(col.unique_values)
            count = range_count(strategy, lattice)
            if k < count:
                # draw one of k lattice indexes, then cycle the lattice with
                # that draw as the index source; random draws are scattered
                # bijectively (range_expr reduces them mod count) so the k
                # values spread across [min,max] instead of clustering low
                if random:
                    a = _coprime_multiplier(count)
                    b = (self._col_seed(col.name, 77) & _MASK64) % count
                    idx = index_expr(seed_col, k, col.distribution or Uniform())
                    id_col = f"({idx} * {sql_lit(a)} + {sql_lit(b)})"
                else:
                    id_col = call("pmod", cast(id_col, "BIGINT"), sql_lit(k))
                random = False
        elif random and col.step is None and dtype in ("float", "double"):
            strategy = RangeColumn(lo, hi, None, strategy.distribution)  # continuous
            lattice = "double"
        value = range_expr(strategy, lattice, seed_col, random=random, id_col=id_col)
        if dtype not in ("string", "infer"):
            value = cast(value, spark_type_name(dtype))
        return self._decorate_numeric(col, value, dtype)

    def _decorate_numeric(self, col: _V0Column, value: str, dtype: str) -> str:
        """format / prefix / suffix turn numerics into strings."""
        out = value
        if col.fmt is not None:
            out = call("format_string", sql_lit(col.fmt), out)
        if col.prefix is not None or col.suffix is not None:
            sep = sql_lit(col.text_separator)
            parts: List[str] = []
            if col.prefix is not None:
                parts += [sql_lit(col.prefix), sep]
            parts.append(cast(out, "STRING"))
            if col.suffix is not None:
                parts += [sep, sql_lit(col.suffix)]
            out = call("concat", *parts)
        elif col.fmt is None and dtype == "string" and col.values is None:
            out = cast(out, "STRING")
        return out

    def _column_exprs(self, col: _V0Column) -> List[Tuple[str, str]]:
        """One or many (name, SQL text) pairs — multi-column / array support."""
        seed_id = quote(self.seed_column)
        if col.num_columns is None:
            value = self._value_expr(col)
            if col.percent_nulls:
                value = null_mask(
                    value, col.percent_nulls, self._col_seed(col.name, 999), seed_id,
                )
            return [(col.name, value)]
        # replicated columns with decorrelated seeds
        if isinstance(col.num_columns, tuple):
            n_min, n_max = col.num_columns
        else:
            n_min = n_max = int(col.num_columns)
        exprs = [self._value_expr(col, salt=i + 1) for i in range(n_max)]
        if col.struct_type == "array":
            arr = call("array", *exprs)
            if n_min != n_max:
                len_seed = self._col_seed(col.name, 555)
                draw = call(
                    "pmod", call("xxhash64", sql_lit(len_seed), seed_id),
                    sql_lit(n_max - n_min + 1),
                )
                length = f"({cast(draw, 'INT')} + {sql_lit(n_min)})"
                arr = call("slice", arr, sql_lit(1), length)
            if col.percent_nulls:
                arr = null_mask(
                    arr, col.percent_nulls, self._col_seed(col.name, 999), seed_id,
                )
            return [(col.name, arr)]
        out = []
        for i, e in enumerate(exprs):
            if col.percent_nulls:
                e = null_mask(
                    e, col.percent_nulls, self._col_seed(col.name, 999 + i), seed_id,
                )
            out.append((f"{col.name}_{i}", e))
        return out

    # -- build --------------------------------------------------------------

    def _dependency_levels(self) -> List[List[_V0Column]]:
        names = {c.name for c in self._columns}
        deps: Dict[str, set] = {}
        for c in self._columns:
            d = set()
            for b in c.base_columns:
                if b != self.seed_column:
                    if b not in names:
                        raise SpecValidationError(
                            f"column {c.name!r}: baseColumn {b!r} not defined"
                        )
                    d.add(b)
            if c.expr:
                d |= expression_refs(c.expr, names)
            d.discard(c.name)
            deps[c.name] = d
        by_name = {c.name: c for c in self._columns}
        return [[by_name[n] for n in level] for level in dependency_levels(deps)]

    def _base_dataframe(
        self, withStreaming: bool, options: Optional[Dict[str, Any]]
    ) -> DataFrame:
        if withStreaming:
            reader = self.spark.readStream.format("rate")
            opts = dict(options or {})
            reader = reader.option("rowsPerSecond", int(opts.pop("rowsPerSecond", 1)))
            if self._partitions:
                reader = reader.option("numPartitions", self._partitions)
            for k, v in opts.items():
                reader = reader.option(k, v)
            df = reader.load()
            return df.select(
                F.col("value").alias(self.seed_column),
                F.col("timestamp").alias("_source_timestamp"),
            )
        parts = self._partitions
        if not parts:
            try:
                parts = self.spark.sparkContext.defaultParallelism
            except Exception:  # Spark Connect has no sparkContext
                parts = 200  # reference serverless default (datagen_constants.py:48)
        df = self.spark.range(
            self._starting_id, self._starting_id + self._rows, numPartitions=parts
        )
        if self.seed_column != "id":
            df = df.withColumnRenamed("id", self.seed_column)
        return df

    def build(
        self,
        withStreaming: bool = False,
        options: Optional[Dict[str, Any]] = None,
        withTempView: Optional[str] = None,
    ) -> DataFrame:
        if withStreaming:
            for c in self._constraints:
                if not c.supports_streaming:
                    raise SpecValidationError(
                        f"constraint {type(c).__name__} does not support streaming"
                    )
        for c in self._constraints:
            c.prepare(self)
        df = self._base_dataframe(withStreaming, options)
        # the frame's column names, tracked here instead of read back from
        # the JVM (a schema round trip per level)
        current = [self.seed_column]
        if withStreaming:
            current.append("_source_timestamp")
        with parser_scope(self.spark):
            for columns in self._dependency_levels():
                level = Level()
                added: List[str] = []
                for c in columns:
                    with level.binding(c.name):
                        pairs = self._column_exprs(c)
                    for out_name, text in pairs:
                        level.add(out_name, text)
                        added.append(out_name)
                # withColumn-replace semantics: a spec that reuses an existing
                # name (notably the seed column — reference
                # data_generator.py:1043-1044 warns and overrides) replaces the
                # prior column instead of producing an ambiguous duplicate. The
                # new expression is still computed against the pre-select frame,
                # so an overriding `id` spec draws from the raw seed. A level
                # that replaces nothing keeps `*`: py4j sends a list one item
                # per command, so naming every carried column per level would
                # make a chain of levels quadratic in commands.
                keep = [n for n in current if n not in added]
                if len(keep) == len(current):
                    df = level.apply(df)
                else:
                    df = level.apply(df, [quote(n) for n in keep])
                current = keep + added
        # constraints: transforms then one fused where
        for c in self._constraints:
            df = c.transform(df)
        combined = Constraint.combine_filters(self._constraints)
        if combined is not None:
            df = df.where(combined)
        out_cols: List[str] = []
        if self._id_output:
            out_cols.append(self.seed_column)
        if withStreaming and options and options.get("includeSourceTimestamp"):
            out_cols.append("_source_timestamp")
        for c in self._columns:
            if c.omit:
                continue
            if c.num_columns is not None and c.struct_type != "array":
                n = c.num_columns if isinstance(c.num_columns, int) else c.num_columns[1]
                out_cols.extend(f"{c.name}_{i}" for i in range(n))
            else:
                out_cols.append(c.name)
        # a user spec overriding the seed column would otherwise be listed
        # twice (withIdOutput + its own spec); keep the first occurrence
        seen: set = set()
        out_cols = [n for n in out_cols if not (n in seen or seen.add(n))]
        df = df.selectExpr(*[quote(n) for n in out_cols])
        if withTempView:
            df.createOrReplaceTempView(withTempView)
        return df

    # -- script generation (reference data_generator.py:1780-1955) ----------

    def _output_fields(self) -> List[Tuple[str, str]]:
        fields = []
        seed_overridden = any(
            c.name == self.seed_column and not c.omit for c in self._columns
        )
        if self._id_output and not seed_overridden:
            fields.append((self.seed_column, "BIGINT"))
        for c in self._columns:
            if c.omit:
                continue
            dt = (c.col_type or "string").upper()
            if dt == INFER_DATATYPE.upper():
                dt = "STRING"
            if c.num_columns is not None and c.struct_type != "array":
                n = c.num_columns if isinstance(c.num_columns, int) else c.num_columns[1]
                fields.extend((f"{c.name}_{i}", dt) for i in range(n))
            elif c.struct_type == "array":
                fields.append((c.name, f"ARRAY<{dt}>"))
            else:
                fields.append((c.name, dt))
        return fields

    def scriptTable(
        self,
        name: Optional[str] = None,
        location: Optional[str] = None,
        tableFormat: str = "delta",
        asHtml: bool = False,
    ) -> str:
        cols = ",\n".join(f"    {n} {t}" for n, t in self._output_fields())
        sql = f"CREATE TABLE IF NOT EXISTS {name or self.name} (\n{cols}\n)\nUSING {tableFormat}"
        if location:
            sql += f"\nLOCATION '{location}'"
        if asHtml:
            from dbldatagen_spark.compat import HtmlUtils

            return HtmlUtils.formatCodeAsHtml(sql)
        return sql

    def scriptMerge(
        self,
        tgtName: str,
        srcName: str,
        *,
        joinExpr: str,
        updateExpr: Optional[Sequence[str]] = None,
        delExpr: Optional[str] = None,
        insertExpr: Optional[Sequence[str]] = None,
        updateColumns: Optional[Sequence[str]] = None,
        insertColumns: Optional[Sequence[str]] = None,
        timeExpr: Optional[str] = None,
        asHtml: bool = False,
    ) -> str:
        fields = [n for n, _ in self._output_fields()]
        update_cols = list(updateColumns or fields)
        insert_cols = list(insertColumns or fields)
        update_set = ", ".join(
            f"tgt.{c} = {e}" if updateExpr else f"tgt.{c} = src.{c}"
            for c, e in zip(
                update_cols,
                updateExpr or [f"src.{c}" for c in update_cols],
            )
        )
        insert_vals = ", ".join(
            insertExpr or [f"src.{c}" for c in insert_cols]
        )
        src_clause = f"{srcName}" + (f" {timeExpr}" if timeExpr else "")
        sql = [
            f"MERGE INTO {tgtName} AS tgt",
            f"USING {src_clause} AS src",
            f"ON {joinExpr}",
        ]
        if delExpr:
            sql.append(f"WHEN MATCHED AND {delExpr} THEN DELETE")
        sql.append(f"WHEN MATCHED THEN UPDATE SET {update_set}")
        sql.append(
            f"WHEN NOT MATCHED THEN INSERT ({', '.join(insert_cols)}) "
            f"VALUES ({insert_vals})"
        )
        out = "\n".join(sql)
        if asHtml:
            from dbldatagen_spark.compat import HtmlUtils

            return HtmlUtils.formatCodeAsHtml(out)
        return out


class DataRange:
    """Abstract base for range objects (reference ``datarange.py:14-56``):
    a min/max(/step) triple a column spec can draw from.  Subclasses decide
    what "empty" and "fully populated" mean for their value domain."""

    minValue = None
    maxValue = None

    def isEmpty(self):
        """True when no bound of the range is set."""
        raise NotImplementedError(
            f"'{type(self).__name__}' does not implement 'isEmpty'"
        )

    def isFullyPopulated(self):
        """True when every bound of the range is set."""
        raise NotImplementedError(
            f"'{type(self).__name__}' does not implement 'isFullyPopulated'"
        )

    def adjustForColumnDatatype(self, ctype):
        """Fill unset bounds with the column type's defaults."""
        raise NotImplementedError(
            f"'{type(self).__name__}' does not implement 'adjustForColumnDatatype'"
        )

    def getDiscreteRange(self):
        """Number of lattice points the range spans."""
        raise NotImplementedError(
            f"'{type(self).__name__}' does not implement 'getDiscreteRange'"
        )

    @property
    def min(self):
        return self.minValue

    @property
    def max(self):
        return self.maxValue


class NRange(DataRange):
    """v0-compatible numeric range object: ``withColumn(..., dataRange=NRange(0, 100, 5))``."""

    def __init__(self, minValue=None, maxValue=None, step=None):
        self.minValue = minValue
        self.maxValue = maxValue
        self.step = step

    def isEmpty(self):
        return self.minValue is None and self.maxValue is None and self.step is None

    def isFullyPopulated(self):
        return (
            self.minValue is not None
            and self.maxValue is not None
            and self.step is not None
        )

    def getDiscreteRange(self):
        """Number of discrete lattice points (max itself excluded), with
        reference semantics (``nrange.py:215-239``): int unit-step ranges
        stay exact; fractional steps floor; unset bounds/step and zero
        step raise ``ValueError``."""
        if self.minValue is None or self.maxValue is None or self.step is None:
            raise ValueError(
                "Range must have 'minValue', 'maxValue', and 'step' defined."
            )
        if self.step == 0:
            raise ValueError(
                "Parameter 'step' must be non-zero when computing discrete range."
            )
        if (
            isinstance(self.minValue, int)
            and isinstance(self.maxValue, int)
            and self.step == 1
        ):
            return float(self.maxValue - self.minValue)
        return float(
            _math.floor((self.maxValue - self.minValue) * (1.0 / float(self.step)))
        )

    def getContinuousRange(self):
        """Width of the interval as a float (``nrange.py:241-250``)."""
        if self.minValue is None or self.maxValue is None:
            raise ValueError("Range must have 'minValue' and 'maxValue' defined.")
        return (self.maxValue - self.minValue) * 1.0

    @staticmethod
    def _precision_and_scale(x):
        """(precision, scale) of a numeric value at up to 14 significant
        digits (``nrange.py:271-290`` semantics)."""
        max_digits = 14
        int_part = int(abs(x))
        magnitude = 1 if int_part == 0 else int(_math.log10(int_part)) + 1
        if magnitude >= max_digits:
            return magnitude, 0
        frac_part = abs(x) - int_part
        multiplier = 10 ** (max_digits - magnitude)
        frac_digits = multiplier + int(multiplier * frac_part + 0.5)
        while frac_digits % 10 == 0:
            frac_digits //= 10
        scale = int(_math.log10(frac_digits))
        return magnitude + scale, scale

    def getScale(self):
        """Maximum number of decimal places across min/max/step
        (``nrange.py:252-269``)."""
        scales = [0]
        for v in (self.minValue, self.maxValue, self.step):
            if v is not None:
                scales.append(self._precision_and_scale(v)[1])
        return max(scales)

    def adjustForColumnDatatype(self, ctype):
        """Fill unset bounds/step with the column type's defaults and
        validate integral bounds (``nrange.py:161-213``): unset min/max
        become the type's default range (0..type max; decimals use
        10^(p-s)-1), integral bounds outside the representable range raise
        ``ValueError``, and step defaults to 1 (integral) / 1.0 (float)."""
        int_bounds = {
            T.ByteType: (-(2 ** 7), 2 ** 7 - 1),
            T.ShortType: (-(2 ** 15), 2 ** 15 - 1),
            T.IntegerType: (-(2 ** 31), 2 ** 31 - 1),
            T.LongType: (-(2 ** 63), 2 ** 63 - 1),
        }
        defaults = {
            T.ByteType: (0, 2 ** 7 - 1),
            T.ShortType: (0, 2 ** 15 - 1),
            T.IntegerType: (0, 2 ** 31 - 1),
            T.LongType: (0, 2 ** 63 - 1),
            T.FloatType: (0.0, 3.402e38),
            T.DoubleType: (0.0, 1.79769e308),
        }
        if isinstance(ctype, T.DecimalType):
            default = (0.0, 10.0 ** (ctype.precision - ctype.scale) - 1.0)
        else:
            default = defaults.get(type(ctype))
        if default is not None:
            if self.minValue is None:
                self.minValue = default[0]
            if self.maxValue is None:
                self.maxValue = default[1]

        bounds = int_bounds.get(type(ctype))
        if bounds is not None and self.minValue is not None and self.maxValue is not None:
            type_min, type_max = bounds
            type_name = type(ctype).__name__
            # decreasing ranges (10, 1, -1) are legal: order before checking
            if self.minValue <= self.maxValue:
                smaller = ("minValue", self.minValue)
                larger = ("maxValue", self.maxValue)
            else:
                smaller = ("maxValue", self.maxValue)
                larger = ("minValue", self.minValue)
            if smaller[1] < type_min:
                raise ValueError(
                    f"`{smaller[0]}` of {smaller[1]} is below the minimum "
                    f"allowed {type_name} value {type_min}."
                )
            if larger[1] > type_max:
                raise ValueError(
                    f"`{larger[0]}` of {larger[1]} is above the maximum "
                    f"allowed {type_name} value {type_max}."
                )

        if self.step is None:
            if isinstance(ctype, (T.DoubleType, T.FloatType)):
                self.step = 1.0
            elif isinstance(
                ctype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
            ):
                self.step = 1


def _parse_interval_td(interval):
    """Interval string/timedelta → timedelta via the root
    ``parse_time_interval`` (reference ``utils.py:191-250`` semantics,
    including years = 52 weeks); also accepts ``INTERVAL n SECONDS``
    SQL-style strings for serialization round-trips."""
    import datetime as dt

    if isinstance(interval, dt.timedelta):
        return interval
    from dbldatagen_spark.compat import parse_time_interval

    s = str(interval).strip()
    s = re.sub(r"(?i)^interval\s+", "", s)
    return parse_time_interval(s)


class DateRange(DataRange):
    """v0-compatible date/time range (reference ``daterange.py:19-280``):
    ``begin``/``end`` parse to ``datetime``, ``interval`` to ``timedelta``;
    ``minValue``/``maxValue``/``step`` expose the epoch-seconds lattice,
    with ``maxValue`` snapped to the last whole interval multiple at or
    before ``end``."""

    DEFAULT_UTC_TS_FORMAT = "%Y-%m-%d %H:%M:%S"
    DEFAULT_DATE_FORMAT = "%Y-%m-%d"

    def __init__(self, begin, end, interval=None, datetime_format=None):
        self.datetime_format = datetime_format or self.DEFAULT_UTC_TS_FORMAT
        self.begin = self._coerce_datetime(begin, self.datetime_format)
        self.end = self._coerce_datetime(end, self.datetime_format)
        self.interval = (
            _parse_interval_td(interval) if isinstance(interval, str) else interval
        )

    @staticmethod
    def _coerce_datetime(v, fmt):
        import datetime as dt

        if v is None or isinstance(v, dt.datetime):
            return v
        if isinstance(v, dt.date):
            return dt.datetime(v.year, v.month, v.day)
        s = str(v)
        for f in (fmt, DateRange.DEFAULT_DATE_FORMAT):
            try:
                return dt.datetime.strptime(s, f)
            except ValueError:
                continue
        return dt.datetime.fromisoformat(s)

    @classmethod
    def parseInterval(cls, interval_str):
        """Parse an interval string (reference ``daterange.py:112-116``)."""
        if interval_str is None:
            raise ValueError("Parameter 'interval_str' must be specified")
        return _parse_interval_td(interval_str)

    @classmethod
    def _compute(cls, begin, end, interval, unique_values, fmt):
        import datetime as dt

        effective_interval = (
            _parse_interval_td(interval)
            if isinstance(interval, str)
            else (interval or dt.timedelta(days=1))
        )
        effective_begin = cls._coerce_datetime(begin, fmt)
        effective_end = cls._coerce_datetime(end, fmt)
        now_year = dt.datetime.now().year
        if effective_begin is None:
            effective_begin = dt.datetime(now_year - 1, 1, 1)
        if effective_end is None:
            effective_end = dt.datetime(now_year - 1, 12, 31, 23, 59, 59)
        if unique_values is not None:
            if unique_values < 1:
                raise ValueError(
                    "Parameter 'unique_values' must be a positive integer"
                )
            effective_begin = effective_end - effective_interval * (unique_values - 1)
        return DateRange(effective_begin, effective_end, effective_interval,
                         datetime_format=fmt)

    @classmethod
    def computeDateRange(cls, begin, end, interval, unique_values) -> "DateRange":
        """Date range with type defaults and the ``unique_values`` back-off
        rule: ``begin = end - interval * (unique_values - 1)`` (reference
        ``daterange.py:156-183``)."""
        return cls._compute(begin, end, interval, unique_values,
                            cls.DEFAULT_DATE_FORMAT)

    @classmethod
    def computeTimestampRange(cls, begin, end, interval, unique_values) -> "DateRange":
        """Timestamp analogue of :meth:`computeDateRange` (reference
        ``daterange.py:185-211``)."""
        return cls._compute(begin, end, interval, unique_values,
                            cls.DEFAULT_UTC_TS_FORMAT)

    def computeTimestampIntervals(self, start, end, interval) -> int:
        """Whole interval count between two datetimes (reference
        ``daterange.py:219-231``)."""
        return _math.floor((end - start) / interval)

    # epoch-seconds lattice views (reference stores these in __init__;
    # properties keep them live if a caller mutates begin/end/interval)
    @property
    def minValue(self):  # type: ignore[override]
        return self.begin.timestamp() if self.begin is not None else None

    @property
    def maxValue(self):  # type: ignore[override]
        if self.end is None:
            return None
        if self.begin is not None and self.interval is not None:
            return self.begin.timestamp() + self.interval.total_seconds() * (
                self.computeTimestampIntervals(self.begin, self.end, self.interval)
            )
        return self.end.timestamp()

    @property
    def step(self):
        return self.interval.total_seconds() if self.interval is not None else None

    def isEmpty(self):
        # reference daterange.py:254-259 — a constructed range is never empty
        return False

    def isFullyPopulated(self):
        return (
            self.begin is not None
            and self.end is not None
            and self.interval is not None
        )

    def adjustForColumnDatatype(self, ctype):
        # no type-based adjustment for temporal ranges (daterange.py:240-245)
        pass

    def getDiscreteRange(self):
        return (self.maxValue - self.minValue) * (1.0 / self.step)

    def getContinuousRange(self):
        return (self.maxValue - self.minValue) * 1.0

    def getScale(self):
        return 0

    def __str__(self):
        return (
            f"DateRange({self.begin},{self.end},{self.interval} == "
            f"{self.minValue}, {self.maxValue}, {self.step})"
        )


# -- v0 generator (de)serialization ----------------------------------------

_CONSTRAINT_KINDS = {}


def _register_constraint_kinds():
    from dbldatagen_spark.operators import constraints as cmod

    for name in (
        "SqlExpr", "PositiveValues", "NegativeValues", "LiteralRange",
        "LiteralRelation", "RangedValues", "ChainedRelation", "UniqueCombinations",
    ):
        _CONSTRAINT_KINDS[name] = getattr(cmod, name)


_register_constraint_kinds()


def generator_to_dict(gen: "DataGenerator") -> Dict[str, Any]:
    """Serialize a DataGenerator spec (not its data) to a plain dict.

    Columns using non-serializable ``text=`` plugins (PyfuncText with
    arbitrary closures) raise, as in the reference's polymorphic
    serialization (``serialization.py:11-44``).
    """
    import dataclasses as dc

    from dbldatagen_spark.plans.serialization import distribution_to_dict

    cols = []
    for c in gen._columns:
        d = dc.asdict(c)
        if c.distribution is not None:
            d["distribution"] = distribution_to_dict(c.distribution)
        if c.text is not None:
            d["text"] = _serialize_text(c.text)
        if isinstance(c.num_columns, tuple):
            d["num_columns"] = list(c.num_columns)
        cols.append(d)
    constraints = []
    for con in gen._constraints:
        params = {k: v for k, v in vars(con).items()}
        constraints.append({"kind": type(con).__name__, "params": params})
    return {
        "kind": "DataGenerator",
        "name": gen.name,
        "rows": gen._rows,
        "partitions": gen._partitions,
        "randomSeed": gen._seed,
        "random": gen._default_random,
        "seedColumnName": gen.seed_column,
        "startingId": gen._starting_id,
        "idOutput": gen._id_output,
        "columns": cols,
        "constraints": constraints,
    }


def generator_from_dict(
    d: Dict[str, Any], sparkSession: Optional[SparkSession] = None
) -> "DataGenerator":
    from dbldatagen_spark.plans.serialization import distribution_from_dict

    if d.get("kind") != "DataGenerator":
        raise SpecValidationError("not a serialized DataGenerator")
    gen = DataGenerator(
        sparkSession=sparkSession,
        name=d["name"],
        rows=d["rows"],
        partitions=d.get("partitions"),
        randomSeed=d.get("randomSeed", 42),
        random=d.get("random", False),
        seedColumnName=d.get("seedColumnName", "id"),
        startingId=d.get("startingId", 0),
    )
    if d.get("idOutput"):
        gen.withIdOutput()
    for cd in d["columns"]:
        cd = dict(cd)
        if cd.get("distribution") is not None:
            cd["distribution"] = distribution_from_dict(cd["distribution"])
        if cd.get("text") is not None:
            cd["text"] = _deserialize_text(cd["text"])
        if isinstance(cd.get("num_columns"), list):
            cd["num_columns"] = tuple(cd["num_columns"])
        col = _V0Column(**cd)
        gen._columns.append(col)
    for con in d.get("constraints", []):
        cls = _CONSTRAINT_KINDS.get(con["kind"])
        if cls is None:
            raise SpecValidationError(f"unknown constraint kind {con['kind']!r}")
        obj = cls.__new__(cls)
        obj.__dict__.update(con["params"])
        gen._constraints.append(obj)
    return gen


def _serialize_text(text: Any) -> Dict[str, Any]:
    from dbldatagen_spark.operators.templates import FakerText, ILText

    if isinstance(text, ILText):
        return {
            "kind": "ILText",
            "paragraphs": list(text.paragraphs),
            "sentences": list(text.sentences),
            "words": list(text.words),
        }
    if isinstance(text, FakerText):
        return {"kind": "FakerText", "method": text.method, "locale": text.locale,
                "pool_size": text.pool_size}
    raise SpecValidationError(
        f"text generator {type(text).__name__} is not serializable"
    )


def _deserialize_text(d: Dict[str, Any]):
    from dbldatagen_spark.operators.templates import FakerText, ILText

    kind = d.get("kind")
    if kind == "ILText":
        return ILText(tuple(d["paragraphs"]), tuple(d["sentences"]), tuple(d["words"]))
    if kind == "FakerText":
        return FakerText(d["method"], d.get("locale"), d.get("pool_size", 10000))
    raise SpecValidationError(f"unknown text generator kind {kind!r}")


def _struct_sql(fields: Union[Sequence[str], Dict[str, Any]]) -> str:
    """``named_struct(...)`` SQL from a field list or nested dict spec."""
    if isinstance(fields, dict):
        parts = []
        for k, v in fields.items():
            parts.append(f"'{k}'")
            if isinstance(v, dict):
                parts.append(_struct_sql(v))
            elif isinstance(v, (list, tuple)):
                elems = ", ".join(
                    _struct_sql(e) if isinstance(e, dict) else str(e) for e in v
                )
                parts.append(f"array({elems})")
            else:
                parts.append(str(v))
        return f"named_struct({', '.join(parts)})"
    parts = []
    for fname in fields:
        parts.append(f"'{fname}'")
        parts.append(str(fname))
    return f"named_struct({', '.join(parts)})"


def _date_str(v) -> str:
    import datetime as dt

    if isinstance(v, dt.datetime):
        return v.date().isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    return str(v).split(" ")[0]


def _ts_str(v) -> str:
    import datetime as dt

    if isinstance(v, (dt.datetime, dt.date)):
        return str(v)
    return str(v)


def _interval_to_seconds(interval) -> int:
    """Parse ``"1 hour"`` / ``"days=1,hours=2"`` / timedelta → seconds."""
    import datetime as dt

    if isinstance(interval, dt.timedelta):
        return max(1, int(interval.total_seconds()))
    if isinstance(interval, (int, float)):
        return max(1, int(interval))
    s = str(interval).strip().lower()
    units = {
        "week": 604800, "day": 86400, "hour": 3600, "minute": 60,
        "second": 1,
    }
    total = 0
    for m in re.finditer(r"(\d+)\s*(week|day|hour|minute|second)s?", s):
        total += int(m.group(1)) * units[m.group(2)]
    for m in re.finditer(r"(week|day|hour|minute|second)s?\s*=\s*(\d+)", s):
        total += int(m.group(2)) * units[m.group(1)]
    return max(1, total)


def _interval_to_days(interval) -> int:
    return max(1, _interval_to_seconds(interval) // 86400)
