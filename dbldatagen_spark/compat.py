"""Reference top-level API parity: the names a ``dbldatagen`` user
imports from the package root that have no structural counterpart in
this engine's own module layout.

Surface matched: reference ``dbldatagen/__init__.py:26-78`` — utility
functions (``utils.py:86-183``), constants (``datagen_constants.py``),
``SparkSingleton`` (``spark_singleton.py``), ``HtmlUtils``
(``html_utils.py:12-100``), ``ColumnGeneratorBuilder``
(``function_builder.py:29-133``). Implementations original.
"""

from __future__ import annotations

import itertools
from typing import Any, Iterable, List, Optional, Sequence, Set, Tuple, Union

DEFAULT_RANDOM_SEED = 42
RANDOM_SEED_RANDOM = -1
RANDOM_SEED_FIXED = "fixed"
RANDOM_SEED_HASH_FIELD_NAME = "hash_fieldname"

# Type aliases (reference ``datagen_types.py``): the argument shapes APIs
# accept wherever a column or a number is expected.
try:  # numpy scalar types are accepted but numpy itself stays optional
    import numpy as _np

    NumericLike = Union[float, int, _np.float64, _np.int32, _np.int64]
except ImportError:  # pragma: no cover
    NumericLike = Union[float, int]

from pyspark.sql import Column as _Column

from dbldatagen_spark.plans.planner import dependency_levels
from dbldatagen_spark.plans.spec import SpecValidationError

ColumnLike = Union[_Column, str]


class DataGenError(Exception):
    """Raised for spec/validation errors (reference ``utils.py:60-83``)."""

    def __init__(self, msg: str, baseException: Optional[Exception] = None):
        super().__init__(msg)
        self.msg = msg
        self.baseException = baseException


def ensure(cond: Any, msg: str = "condition does not hold true") -> None:
    """Raise :class:`DataGenError` unless ``cond`` is truthy."""
    if not cond:
        raise DataGenError(msg)


def topologicalSort(
    sources: Iterable[Tuple[str, Union[Set[str], Sequence[str]]]],
    initial_columns: Optional[List[str]] = None,
    flatten: bool = True,
):
    """Kahn topological sort over ``(name, dependencies)`` pairs
    (:func:`dbldatagen_spark.plans.planner.dependency_levels`).

    Returns a flat name list (``flatten=True``) or a list of levels —
    each level's entries depend only on earlier levels. Declaration
    order is preserved within a level; cycles raise
    :class:`DataGenError`. ``initial_columns`` are forced first and
    treated as already satisfied.
    """
    pairs = [(name, set(deps)) for name, deps in sources]
    known = {name for name, _ in pairs}
    done = set(initial_columns or [])
    deps = {n: {d for d in ds if d in known and d != n} - done
            for n, ds in pairs if n not in done}
    try:
        levels = dependency_levels(deps)
    except SpecValidationError as e:
        raise DataGenError(str(e), e) from e
    if initial_columns:
        levels.insert(0, list(initial_columns))
    if flatten:
        return [n for level in levels for n in level]
    return levels


class SparkSingleton:
    """Shared-session helper (reference ``spark_singleton.py``)."""

    @classmethod
    def getInstance(cls):
        from pyspark.sql import SparkSession

        return SparkSession.builder.getOrCreate()

    @classmethod
    def getLocalInstance(cls, appName: str = "new Spark session",
                         useAllCores: bool = True):
        from pyspark.sql import SparkSession

        import os

        cores = os.cpu_count() or 4
        master = f"local[{cores if useAllCores else max(cores // 2, 1)}]"
        return (
            SparkSession.builder.master(master)
            .appName(appName)
            .config("spark.sql.warehouse.dir", "/tmp/spark-warehouse")
            .getOrCreate()
        )


class HtmlUtils:
    """Notebook HTML formatting (reference ``html_utils.py:12-100``)."""

    @staticmethod
    def formatCodeAsHtml(codeText: str) -> str:
        """Wrap preformatted code in ``<pre><code>`` with a copy button."""
        return f"""<h3>Generated Code</h3>
<div style="outline: 1px dashed blue;"><p><pre><code id="generated_code">
{codeText}
</code></pre></p></div>
<p><button type="button" onclick="dbldatagen_copy_code_to_clipboard()">Copy code to clipboard!</button></p>
<script>
function dbldatagen_copy_code_to_clipboard() {{
   try {{
     var r = document.createRange();
     r.selectNode(document.getElementById("generated_code"));
     window.getSelection().removeAllRanges();
     window.getSelection().addRange(r);
     document.execCommand('copy');
     window.getSelection().removeAllRanges();
   }}
   catch {{}}
}}
</script>
"""

    @staticmethod
    def formatTextAsHtml(textContent: str, title: str = "Output") -> str:
        """Wrap plain text in a titled ``<pre>`` block."""
        return f"""<h3>{title}</h3>
<div style="outline: 1px dashed blue;"><p><pre id="message_text">
{textContent}
</pre></p></div>
"""


class ColumnGeneratorBuilder:
    """Weighted-values SQL CASE builder (reference
    ``function_builder.py:29-133``)."""

    @classmethod
    def _mkCdfProbabilities(cls, weights: Sequence[float]) -> List[float]:
        total = float(sum(weights))
        return [x / total for x in itertools.accumulate(weights)]

    @classmethod
    def mkExprChoicesFn(
        cls, values: Sequence[Any], weights: Sequence[float],
        seed_column: str, datatype,
    ) -> str:
        from pyspark.sql.types import DateType, StringType, TimestampType

        quoted = isinstance(datatype, (StringType, DateType, TimestampType))

        def lit(v: Any) -> str:
            if quoted:
                return "'" + str(v).replace("'", "\\'") + "'"
            return str(v)

        cdf = cls._mkCdfProbabilities(weights)
        lines = [" CASE "]
        for v, p in zip(values, cdf):
            lines.append(f" when {seed_column} <= {p} then {lit(v)} ")
        lines.append(f"else {lit(values[-1])}")
        lines.append("end")
        return "\n".join(lines)


class ColumnSpecOptions:
    """Validated option holder (reference ``column_spec_options.py:16``):
    normalizes snake_case aliases and rejects unknown option names."""

    def __init__(self, props: dict, **kwargs: Any):
        from dbldatagen_spark.datagen import _KNOWN_OPTIONS, _OPTION_ALIASES

        merged = dict(props or {})
        merged.update(kwargs)
        self._options = {}
        for k, v in merged.items():
            canonical = _OPTION_ALIASES.get(k, k)
            if canonical not in _KNOWN_OPTIONS:
                raise DataGenError(f"unknown column spec option: {k!r}")
            self._options[canonical] = v

    @property
    def options(self) -> dict:
        """Underlying options dict (reference
        ``column_spec_options.py:225-231``)."""
        return self._options

    def getOrElse(self, key: str, default: Any = None) -> Any:
        return self._options.get(key, default)

    def __getitem__(self, key: str) -> Any:
        # reference semantics (column_spec_options.py:233-246): missing
        # options read as None, not KeyError
        return self._options.get(key)

    def checkBoolOption(self, v: Any, name: str = None, optional: bool = True) -> None:
        """Validate that an option value is boolean (or None when
        ``optional``) — reference ``column_spec_options.py:248-263``."""
        if name is None:
            raise DataGenError("`name` must be specified")
        ok = (v is None or type(v) is bool) if optional else type(v) is bool
        if not ok:
            raise DataGenError(
                f"Option `{name}` must be boolean"
                f"{' if specified' if optional else ''} - "
                f"value: {v}, type: {type(v)}"
            )

    def checkExclusiveOptions(self, options: list) -> None:
        """At most one of the named options may carry a value (reference
        ``column_spec_options.py:265-274``)."""
        if options is None or not isinstance(options, list):
            raise DataGenError("`options` must be a non-empty list")
        set_count = len([x for x in options if self[x] is not None])
        if set_count > 1:
            raise DataGenError(
                f"only one of the options: {options} may be specified"
            )

    def checkOptionValues(self, option: str, option_values: list) -> None:
        """The option's value must be one of ``option_values`` (reference
        ``column_spec_options.py:276-284``)."""
        if not (option and option.strip()):
            raise DataGenError("option must be non empty")
        if not isinstance(option_values, list):
            raise DataGenError("`option_values` must be list")
        if self[option] not in option_values:
            raise DataGenError(
                f"option: `{option}` must have one of the values {option_values}"
            )

    _MAX_TYPE_RANGE = {
        "byte": 256, "short": 65536, "integer": 4294967296,
    }

    def checkValidColumnProperties(self, columnProps: Any) -> None:
        """Validate min/max/unique ranges against the column type's
        representable range when the type option is a Spark integral type
        (reference ``column_spec_options.py:286-330``)."""
        if columnProps is None:
            raise DataGenError("columnProps should be non-empty")
        col_type = self["type"]
        type_name = getattr(col_type, "typeName", lambda: None)()
        limit = self._MAX_TYPE_RANGE.get(type_name)
        if limit is None:
            return
        min_value, max_value = self["minValue"], self["maxValue"]
        if (min_value is not None and max_value is not None
                and (max_value - min_value) > limit):
            raise DataGenError(
                f"range of min and max values exceeds size of {type_name} type"
            )


# -- reference root-namespace utilities (``utils.py:29-370``,
#    ``datagen_constants.py:37-48``) ---------------------------------------

MIN_PYTHON_VERSION = (3, 8)
MIN_SPARK_VERSION = (3, 1, 2)
SPARK_DEFAULT_PARALLELISM = 200


def deprecated(message: str = ""):
    """Decorator marking an API as deprecated: emits a DeprecationWarning
    naming the wrapped callable on every invocation."""
    import functools
    import warnings

    def wrap(func):
        @functools.wraps(func)
        def inner(*args, **kwargs):
            warnings.warn(
                f"`{func.__name__}` is a deprecated function or method. \n{message}",
                category=DeprecationWarning,
                stacklevel=2,
            )
            return func(*args, **kwargs)

        return inner

    return wrap


def coalesce_values(*args: Any) -> Any:
    """First argument that is not ``None`` (SQL COALESCE over Python values)."""
    return next((x for x in args if x is not None), None)


def mkBoundsList(x, default):
    """Normalize a bounds argument to ``(defaulted, [lo, hi])``: ``None``
    takes the default (scalar default duplicates), a scalar duplicates,
    a 2-sequence passes through."""
    if x is None:
        bounds = [default, default] if isinstance(default, int) else list(default)
        defaulted = True
    elif isinstance(x, int):
        bounds, defaulted = [x, x], False
    else:
        bounds, defaulted = list(x), False
    if len(bounds) != 2:
        raise DataGenError(f"bounds list must have 2 elements, got {bounds!r}")
    return defaulted, bounds


_TIME_UNITS = {
    "year": "years", "years": "years",
    "week": "weeks", "weeks": "weeks",
    "day": "days", "days": "days",
    "hour": "hours", "hours": "hours",
    "minute": "minutes", "minutes": "minutes",
    "second": "seconds", "seconds": "seconds",
    "millisecond": "milliseconds", "milliseconds": "milliseconds",
    "microsecond": "microseconds", "microseconds": "microseconds",
}


def parse_time_interval(spec: str):
    """Parse ``"1 hour, 30 minutes"`` / ``"hours=1, minutes=30"`` into a
    ``datetime.timedelta``. Years count as 52 weeks."""
    import re as _re
    from datetime import timedelta

    if spec is None:
        raise DataGenError("time interval specification must not be None")
    parts: dict = {}
    for chunk in str(spec).strip().split(","):
        chunk = chunk.strip()
        if not chunk:
            continue
        m = _re.match(r"^(?P<name>[A-Za-z]+)\s*=\s*(?P<value>\d+)$", chunk)
        if m is None:
            m = _re.match(r"^(?P<value>\d+)\s+(?P<name>[A-Za-z]+)$", chunk)
        if m is None:
            raise DataGenError(
                f"cannot parse time interval element {chunk!r} "
                "(expected '12 hours' or 'hours=12')"
            )
        unit = _TIME_UNITS.get(m.group("name").lower())
        if unit is None:
            raise DataGenError(f"unknown time unit in {chunk!r}")
        parts[unit] = int(m.group("value"))
    years = parts.pop("years", 0)
    parts["weeks"] = parts.get("weeks", 0) + years * 52
    return timedelta(**parts)


def strip_margins(s: str, marginChar: str) -> str:
    """Scala-style stripMargin: in each line containing ``marginChar``,
    drop everything up to and including its first occurrence."""
    out = []
    for line in s.split("\n"):
        idx = line.find(marginChar)
        out.append(line[idx + 1:] if idx >= 0 else line)
    return "\n".join(out)


def split_list_matching_condition(lst, cond):
    """Split ``lst`` into sublists around each element matching ``cond``;
    matching elements become their own singleton sublists. Empty segments
    are dropped."""
    groups, current = [], []
    for el in lst:
        if cond(el):
            if current:
                groups.append(current)
                current = []
            groups.append([el])
        else:
            current.append(el)
    if current:
        groups.append(current)
    return groups


def json_value_from_path(searchPath: str, jsonData: str, defaultValue: Any) -> Any:
    """Look up a value in a JSON document by search path; returns
    ``defaultValue`` when absent. Uses ``jmespath`` when installed, else a
    plain dotted-key traversal (covers the common ``a.b.c`` paths)."""
    import json as _json

    if not searchPath:
        raise DataGenError("search path cannot be empty")
    data = _json.loads(jsonData)
    try:
        import jmespath  # type: ignore

        found = jmespath.search(searchPath, data)
        return defaultValue if found is None else found
    except ImportError:
        node = data
        for key in searchPath.split("."):
            if isinstance(node, dict) and key in node:
                node = node[key]
            else:
                return defaultValue
        return node


def system_time_millis() -> int:
    """Milliseconds since the Unix epoch."""
    import time as _time

    return int(_time.time() * 1000)
