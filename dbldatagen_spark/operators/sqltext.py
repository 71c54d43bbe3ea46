"""Spark SQL text for the column builders.

The generation builders return Spark SQL expression *text*, not ``Column``
objects.  In PySpark classic every ``F.*`` call is several py4j round
trips (the call itself plus the call-site origin bookkeeping), while text
costs nothing until ``selectExpr`` parses one whole dependency level in a
single call.  Catalyst parses the text into the same expression trees the
``Column`` API builds, so optimized plans and data are unchanged.

This module holds what every builder shares:

* :func:`sql_lit` renders a Python value as a literal typed exactly as
  ``F.lit`` types it;
* :func:`quote` backquotes an identifier;
* :func:`user_sql` embeds a user's SQL expression as one operand, keeping
  the ``F.expr`` contract (a trailing ``--`` comment works, an alias is
  allowed, malformed text raises ``ParseException``); it runs inside
  :func:`parser_scope`, where every call of one build shares one handle
  on the session's SQL parser;
* :class:`Level` collects one dependency level and applies it with one
  ``selectExpr``.  The only ``Column`` pieces left are pandas-UDF text
  columns and a registered distribution's ``unit_expr``; a builder hands
  such a piece to :func:`bind_column`, which names it in a projection
  below the level and returns the name for the text to reference.
  ``CollapseProject`` folds that projection away.
"""

from __future__ import annotations

import calendar
import contextlib
import contextvars
import datetime as _dt
import decimal
import math
import time
from typing import Any, Iterable, Iterator, List, Optional, Tuple

from pyspark.sql import Column, DataFrame, SparkSession

_INT32 = 1 << 31
_INT64 = 1 << 63

# (output column name, [(bound name, Column)]) of the column being compiled
_SCOPE: contextvars.ContextVar[Optional[Tuple[str, list]]] = contextvars.ContextVar(
    "dbldatagen_spark_sql_scope", default=None
)
# [session, its SQL parser once fetched] of the build being compiled
_PARSER: contextvars.ContextVar[Optional[list]] = contextvars.ContextVar(
    "dbldatagen_spark_sql_parser", default=None
)


def quote(name: str) -> str:
    """Backquoted identifier, backticks doubled."""
    return "`" + name.replace("`", "``") + "`"


def _string_lit(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_lit(v: Any) -> str:
    """SQL literal for ``v``, typed as ``F.lit(v)`` types it: ``int`` is INT
    within 32 bits and BIGINT within 64 (beyond that ``F.lit`` fails too);
    ``float`` is DOUBLE (NaN and infinities through ``CAST``); ``Decimal``
    keeps its precision and scale; ``date``/``datetime``/``bytes`` become
    DATE/TIMESTAMP/BINARY; strings are escaped for the SQL lexer."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        if -_INT32 <= v < _INT32:
            return str(v)
        if -_INT64 <= v < _INT64:
            return f"{v}L"
        raise ValueError(f"integer literal {v} does not fit in 64 bits")
    if isinstance(v, float):
        if math.isnan(v):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(v):
            return "CAST('Infinity' AS DOUBLE)" if v > 0 else "CAST('-Infinity' AS DOUBLE)"
        return f"{v!r}D"
    if isinstance(v, str):
        return _string_lit(v)
    if isinstance(v, decimal.Decimal):
        if not v.is_finite():
            raise ValueError(f"decimal literal {v} is not finite")
        return f"{v}BD"
    if isinstance(v, _dt.datetime):
        # the instant PySpark's datetime converter sends for F.lit
        secs = (calendar.timegm(v.utctimetuple()) if v.tzinfo
                else time.mktime(v.timetuple()))
        return f"timestamp_micros({int(secs) * 1_000_000 + v.microsecond}L)"
    if isinstance(v, _dt.date):
        return f"DATE '{v.isoformat()}'"
    if isinstance(v, (bytes, bytearray)):
        return f"X'{bytes(v).hex()}'"
    raise TypeError(f"no SQL literal for {type(v).__name__} value {v!r}")


def call(fn: str, *args: str) -> str:
    """``fn(arg, ...)``."""
    return f"{fn}({', '.join(args)})"


def cast(text: str, target: str) -> str:
    return f"CAST({text} AS {target})"


def case_when(cond: str, then: str, otherwise: str) -> str:
    return f"CASE WHEN {cond} THEN {then} ELSE {otherwise} END"


@contextlib.contextmanager
def parser_scope(spark: SparkSession) -> Iterator[None]:
    """One build: the :func:`user_sql` calls inside the block share one
    handle on ``spark``'s SQL parser, fetched on first use: the py4j
    round trips that reach it run once per build, not once per
    expression."""
    token = _PARSER.set([spark, None])
    try:
        yield
    finally:
        _PARSER.reset(token)


def user_sql(text: str) -> str:
    """A user's SQL expression (``ExpressionColumn``, v0 ``expr=``) as one
    parenthesized operand, under ``F.expr``'s contract.  The session's SQL
    parser, the one ``F.expr`` uses, reads the text first, so malformed
    text raises the same ``ParseException``; a user alias (``q AS z``) is
    cut off, since the column's own name replaces it, as it did over
    ``F.expr``.  The closing parenthesis sits on its own line, so a
    trailing ``--`` comment cannot swallow it.  Valid only inside
    :func:`parser_scope`."""
    scope = _PARSER.get()
    if scope is None:
        raise RuntimeError("user SQL can only be parsed inside a build's parser_scope")
    if scope[1] is None:
        scope[1] = scope[0]._jsparkSession.sessionState().sqlParser()
    parsed = scope[1].parseExpression(text)
    if parsed.nodeName() == "Alias":
        # the parser's origin indexes count UTF-16 code units
        origin = parsed.child().origin()
        units = text.encode("utf-16-le")
        start, stop = origin.startIndex().get(), origin.stopIndex().get()
        text = units[2 * start:2 * (stop + 1)].decode("utf-16-le")
    return f"(\n{text}\n)"


def bind_column(col: Column) -> str:
    """Name a ``Column`` piece for the level being compiled and return the
    quoted name for the SQL text to reference.  Valid only inside
    :meth:`Level.binding`."""
    scope = _SCOPE.get()
    if scope is None:
        raise RuntimeError(
            "a Column piece (pandas UDF or registered distribution) can only "
            "be bound while a generation level is compiled"
        )
    owner, bound = scope
    name = f"__synth_bound_{owner}_{len(bound)}"
    bound.append((name, col))
    return quote(name)


class Level:
    """One dependency level: ``text AS name`` items plus the ``Column``
    pieces they reference by name, applied as at most one ``select`` (the
    bound pieces) and one ``selectExpr``."""

    def __init__(self) -> None:
        self.items: List[str] = []
        self.bound: List[Tuple[str, Column]] = []

    @contextlib.contextmanager
    def binding(self, owner: str) -> Iterator[None]:
        """Compile ``owner``'s SQL text inside this block: a
        :func:`bind_column` call in it names its piece after ``owner``."""
        token = _SCOPE.set((owner, self.bound))
        try:
            yield
        finally:
            _SCOPE.reset(token)

    def add(self, name: str, text: str) -> None:
        self.items.append(f"{text} AS {quote(name)}")

    def apply(self, df: DataFrame, keep: Iterable[str] = ("*",)) -> DataFrame:
        """``keep`` are selectExpr items carried over (default ``*``)."""
        if self.bound:
            df = df.select("*", *[c.alias(n) for n, c in self.bound])
        return df.selectExpr(*keep, *self.items)
