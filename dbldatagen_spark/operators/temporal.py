"""Date / timestamp column builders.

Sampling happens in integer epoch space (seconds for timestamps, days for
dates) so the arithmetic is identical to the integral lattice path, then a
single cast produces the temporal type. Bounds are interpreted as **UTC**
independent of the Spark session timezone (reference
``/root/reference/dbldatagen/core/engine/columns/temporal.py:19-143``).
"""

from __future__ import annotations

import datetime as _dt
from typing import Optional

from dbldatagen_spark.operators.numeric import lattice_index
from dbldatagen_spark.operators.sqltext import call, cast, sql_lit
from dbldatagen_spark.plans.spec import DateColumn, TimestampColumn

_EPOCH = _dt.date(1970, 1, 1)

_TS_FORMATS = (
    "%Y-%m-%d %H:%M:%S.%f",
    "%Y-%m-%d %H:%M:%S",
    "%Y-%m-%dT%H:%M:%S.%f",
    "%Y-%m-%dT%H:%M:%S",
    "%Y-%m-%d %H:%M",
    "%Y-%m-%d",
)


def parse_utc_epoch(value) -> int:
    """ISO-ish string / datetime / date → UTC epoch seconds."""
    if isinstance(value, _dt.datetime):
        dt = value
    elif isinstance(value, _dt.date):
        dt = _dt.datetime(value.year, value.month, value.day)
    elif isinstance(value, str):
        dt = None
        for fmt in _TS_FORMATS:
            try:
                dt = _dt.datetime.strptime(value.strip(), fmt)
                break
            except ValueError:
                continue
        if dt is None:
            raise ValueError(f"unparseable timestamp {value!r}")
    else:
        raise TypeError(f"timestamp bound must be str/datetime, got {type(value)}")
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=_dt.timezone.utc)
    return int(dt.timestamp())


def parse_date_days(value) -> int:
    """ISO date string / date → days since 1970-01-01."""
    if isinstance(value, _dt.datetime):
        d = value.date()
    elif isinstance(value, _dt.date):
        d = value
    elif isinstance(value, str):
        d = _dt.date.fromisoformat(value.strip())
    else:
        raise TypeError(f"date bound must be str/date, got {type(value)}")
    return (d - _EPOCH).days


def timestamp_expr(
    strategy: TimestampColumn, seed_col: str, *, random: bool = True,
    id_col: Optional[str] = None,
) -> str:
    """Timestamp on the ``interval_seconds`` lattice within inclusive bounds.

    ``timestamp_seconds`` interprets its argument as UTC epoch, which keeps
    generation independent of ``spark.sql.session.timeZone``.
    """
    start = parse_utc_epoch(strategy.start)
    end = parse_utc_epoch(strategy.end)
    step = int(strategy.interval_seconds)
    count = (end - start) // step + 1
    idx = lattice_index(count, strategy.distribution, seed_col, random, id_col)
    return call("timestamp_seconds", f"({idx} * {sql_lit(step)} + {sql_lit(start)})")


def date_expr(
    strategy: DateColumn, seed_col: str, *, random: bool = True,
    id_col: Optional[str] = None,
) -> str:
    """Date on the ``interval_days`` lattice within inclusive bounds."""
    start = parse_date_days(strategy.start)
    end = parse_date_days(strategy.end)
    step = int(strategy.interval_days)
    count = (end - start) // step + 1
    idx = lattice_index(count, strategy.distribution, seed_col, random, id_col)
    days = cast(f"({idx} * {sql_lit(step)} + {sql_lit(start)})", "INT")
    return call("date_add", cast(sql_lit("1970-01-01"), "DATE"), days)
