"""Stateful streaming operators: Spark's native session windows, and eight
custom per-key folds that run through one keyed-state kernel.

:func:`session_window_agg` is Spark's native ``session_window``: state,
late data and spill are Spark's problem, which is what you want at scale.
The other operators need a per-key fold Spark cannot express (a session
event cap, dedup across all micro-batches, a CDC view, a token bucket,
ewma/cusum/holt recurrences, transition counts). Each one is a
``step`` function run by :func:`_keyed_fold`, the module's only
``applyInPandasWithState`` call. The kernel's contract:

* ``keyed`` has a ``key`` column; the kernel groups by it, in append mode.
* Per (key, micro-batch) it calls ``step(key, rows, state)`` with the key
  value, the batch's rows sorted by ``sort_cols``, and the stored state
  tuple (``None`` when the key has none).
* ``step`` returns ``(new_state, out)``. A ``new_state`` of ``None``
  removes the key's state, the very tuple ``step`` was given leaves it
  untouched, and any other tuple replaces it. ``out`` lists output row
  tuples in ``out_fields`` order, with timestamps as epoch microseconds.
* With ``expiry`` the groups use an event-time timeout: each state update
  sets it to ``expiry(new_state)`` (epoch milliseconds), and when it
  fires ``step`` runs with ``rows=None``. Only sessionize uses it.
* A call with no output rows yields no frame. Otherwise it yields one
  frame with typed numpy columns; strings and arrays stay object columns.

Each operator keeps its validation, its batch twin (the same result on a
batch frame, which every streaming operator here must match), the select
that builds ``keyed``, and its ``step``.
"""

from __future__ import annotations

import warnings
from typing import Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout

# pyspark's state serializer pads each output batch with all-NA rows,
# and pandas warns about every such concat.  Workers import this module
# to run the kernel, so the filter reaches them too.
warnings.filterwarnings(
    "ignore",
    message="The behavior of DataFrame concatenation with empty or all-NA entries",
    category=FutureWarning,
    module="pyspark.sql.pandas.serializers",
)


def session_window_agg(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    *,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Per-user gap sessions with count/value aggregates.

    On a streaming DataFrame a watermark is applied first (append-mode
    emission once the watermark passes session end); on a batch DataFrame
    the same expression computes all sessions immediately.
    """
    src = df.withWatermark(ts_col, watermark) if df.isStreaming else df
    return (
        src.groupBy(F.col(user_col), F.session_window(F.col(ts_col), gap))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("value_sum"),
        )
        .select(
            F.col(user_col),
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "value_sum",
        )
    )


def _batch_rows(pdfs, sort_cols):
    """One sorted frame from a state fn's chunk iterator, skipping the
    pd.concat copy in the common single-chunk case.  The state fn is
    called once per (group, micro-batch) — at sf0.1 that is thousands of
    calls per batch, so per-call pandas overhead is the operators' hot
    path (guide §4.5: amortize per-call work)."""
    chunks = list(pdfs)
    rows = chunks[0] if len(chunks) == 1 else pd.concat(chunks)
    return rows.sort_values(sort_cols)


_NUMPY_DTYPES = {"bigint": "int64", "double": "float64", "boolean": "bool"}


def _column(sql_type, values):
    """One output column. Typed numpy columns, not object ones that pandas
    coerces and copies per group call (measured 8x cheaper per call)."""
    if sql_type == "timestamp":
        micros = np.asarray(values, dtype="int64")
        return micros.astype("datetime64[us]").astype("datetime64[ns]")
    dtype = _NUMPY_DTYPES.get(sql_type)
    return list(values) if dtype is None else np.asarray(values, dtype=dtype)


def _keyed_fold(keyed, sort_cols, out_fields, state_ddl, step, *, expiry=None):
    """Run ``step`` per key and micro-batch over ``keyed``; see the module
    docstring for the contract. ``out_fields`` is a list of
    ``(name, SQL type)`` and ``state_ddl`` a DDL schema string."""

    def _fn(key, pdfs, state):
        old = state.get if state.exists else None
        rows = None if state.hasTimedOut else _batch_rows(pdfs, sort_cols)
        new, out = step(key[0], rows, old)
        if new is None:
            if old is not None:
                state.remove()
        elif new is not old:
            state.update(new)
            if expiry is not None:
                state.setTimeoutTimestamp(expiry(new))
        if out:
            yield pd.DataFrame(
                {n: _column(t, c) for (n, t), c in zip(out_fields, zip(*out))},
                copy=False,
            )

    return keyed.groupBy("key").applyInPandasWithState(
        _fn,
        ", ".join(f"{n} {t}" for n, t in out_fields),
        state_ddl,
        "append",
        GroupStateTimeout.NoTimeout
        if expiry is None
        else GroupStateTimeout.EventTimeTimeout,
    )


_SERIES_ORDER = ["_t", "o"]
_SERIES_FIELDS = [("key", "bigint"), ("o", "bigint"), ("value", "double")]


def _series(df, key_col, ts_col, order_col, value):
    """The ``(key, _t, o, value)`` frame of a per-key series fold; its
    rows fold in ``_SERIES_ORDER`` within a batch."""
    return df.select(
        F.col(key_col).cast("long").alias("key"),
        F.col(ts_col).cast("timestamp").alias("_t"),
        F.col(order_col).cast("long").alias("o"),
        value,
    )


def _series_out(df, key_col, order_col, value_col, *stats):
    """A batch twin's ``(key, o, value, *stats)`` projection, the columns
    of ``_SERIES_FIELDS`` plus the fold's statistics."""
    return df.select(
        F.col(key_col).cast("long").alias("key"),
        F.col(order_col).cast("long").alias("o"),
        F.col(value_col).cast("double").alias("value"),
        *stats,
    )


def sessionize_with_state(
    events: DataFrame,
    *,
    gap_minutes: int = 30,
    max_events: int = 1000,
    watermark: str = "1 hour",
) -> DataFrame:
    """Custom stateful sessionization: a session closes on a ``gap_minutes``
    silence, **or** as soon as it accumulates ``max_events`` events (a rule
    native ``session_window`` cannot express).

    Expects columns ``user_id``, ``ts``, ``value``. Emits one row per
    closed session; ``closed_by`` is 0 on a gap rollover, 1 on the cap and
    2 when the event-time timeout (last event + gap) passes the
    watermark. State is one fixed-size row per active user — per-partition
    memory is bounded by active users, not events, and Spark's state
    store handles checkpointing/recovery.
    """
    gap_us = gap_minutes * 60 * 1_000_000

    def step(user, rows, state):
        if rows is None:  # timed out: the open session closes
            return None, [(user, *state, 2)]
        start, last, n, vsum = state or (None, None, 0, 0.0)
        out = []
        # vectorize the per-row timestamp conversion ONCE per batch; the
        # session state machine itself is inherently sequential
        ts_us = rows["ts"].astype("datetime64[ns]").astype("int64") // 1000
        for t_us, v in zip(ts_us.tolist(), rows["value"].astype("float64").tolist()):
            v = v if v == v else 0.0  # NaN-safe
            if start is None:
                start, last, n, vsum = t_us, t_us, 1, v
            elif t_us - last > gap_us:
                out.append((user, start, last, n, vsum, 0))
                start, last, n, vsum = t_us, t_us, 1, v
            else:
                last, n, vsum = t_us, n + 1, vsum + v
            if n >= max_events:
                out.append((user, start, last, n, vsum, 1))
                start, last, n, vsum = None, None, 0, 0.0
        return (None if start is None else (start, last, n, vsum)), out

    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return _keyed_fold(
        src.selectExpr("user_id AS key", "ts", "value"),
        "ts",
        [("user_id", "bigint"), ("session_start", "timestamp"),
         ("session_end", "timestamp"), ("n_events", "bigint"),
         ("value_sum", "double"), ("closed_by", "bigint")],
        "session_start bigint, last_ts bigint, n_events bigint, value_sum double",
        step,
        expiry=lambda s: s[1] // 1000 + gap_minutes * 60 * 1000,
    )


def global_dedup_with_state(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    ts_col: str = "ts",
    normalize: bool = True,
) -> DataFrame:
    """Streaming global exact dedup: emit only the FIRST occurrence of
    each distinct content across the whole stream (not per micro-batch,
    not watermark-bounded — the reference's ``UniqueCombinations`` is
    explicitly per-micro-batch-only in streams; this closes that gap).

    Grouping key = sha256 of the (optionally normalized) content, so
    state is one fixed-size row per distinct content and the shuffle
    carries ``(hash, id, ts)`` — never the text. Unbounded-state caveat
    documented on purpose: distinct-content cardinality grows with the
    corpus, so at 100 TB pair this with RocksDB state store and/or an
    upstream watermark-bounded pre-dedup.

    Works identically on a batch DataFrame (keeps min-ts row per content).
    """
    from dbldatagen_spark.functions.dedup import normalize_text_expr

    content = F.col(text_col)
    if normalize:
        content = normalize_text_expr(content)
    keyed = df.select(
        F.sha2(content, 256).alias("key"),
        F.col(id_col).alias("doc_id"),
        F.col(ts_col).alias("_ts"),
    )

    if not df.isStreaming:
        w = Window.partitionBy("key").orderBy("_ts", "doc_id")
        return (
            keyed.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("doc_id", F.col("_ts").alias("first_seen_ts"))
        )

    def step(_key, rows, state):
        if state is not None:
            return state, []  # content already emitted in an earlier batch
        first = rows.iloc[0]
        t_us = pd.Timestamp(first["_ts"]).value // 1000
        return (t_us,), [(first["doc_id"], t_us)]

    return _keyed_fold(
        keyed,
        ["_ts", "doc_id"],
        [("doc_id", "bigint"), ("first_seen_ts", "timestamp")],
        "first_seen_us bigint",
        step,
    )


def cdc_latest_with_state(
    df: DataFrame,
    key_col: str,
    seq_col: str,
    *,
    op_col: str = "op",
    payload_col: str = "payload",
    delete_ops: Tuple[str, ...] = ("D", "DELETE", "delete"),
) -> DataFrame:
    """Streaming materialized view of a CDC log: per key, maintain the
    highest-sequence operation in state and emit the key's new current
    row whenever a micro-batch changes it — the continuous counterpart
    of :func:`dbldatagen_spark.functions.apply_cdc` (last writer wins,
    tombstones mark the key dead instead of dropping the row, so
    downstream sinks can propagate deletes).

    Emits ``(key, seq, alive, payload)`` rows; the LAST emission per key
    (highest seq) is the current state, and equals the batch
    ``apply_cdc`` result on the same prefix of the log, a NULL payload
    (the usual tombstone) included. Out-of-order arrivals across batches
    are handled: a batch whose max sequence is behind the state is
    ignored (no emission).

    ``payload_col`` should be a single (pre-serialized — e.g. ``to_json``
    of the tracked columns) string so state stays one fixed-size row per
    key; the shuffle carries (key, seq, op, payload) only. On a batch
    frame the identical semantics come from one ranked window.
    """
    keyed = df.select(
        F.col(key_col).cast("long").alias("key"),
        F.col(seq_col).cast("long").alias("seq"),
        F.col(op_col).cast("string").alias("_op"),
        F.col(payload_col).cast("string").alias("payload"),
    )
    dels = list(delete_ops)

    if not df.isStreaming:
        w = Window.partitionBy("key").orderBy(F.col("seq").desc())
        return (
            keyed.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select(
                "key",
                "seq",
                # NULL op counts as an upsert (alive), matching the
                # streaming path's str() comparison
                (~F.coalesce(F.col("_op").isin(dels), F.lit(False)))
                .cast("long")
                .alias("alive"),
                "payload",
            )
        )

    def step(key, rows, state):
        last = rows.iloc[-1]
        seq = int(last["seq"])
        if state is not None and state[0] >= seq:
            return state, []  # stale/redelivered batch: state already newer
        new = (seq, 0 if str(last["_op"]) in dels else 1, last["payload"])
        return new, [(key, *new)]

    return _keyed_fold(
        keyed,
        "seq",
        [("key", "bigint"), ("seq", "bigint"), ("alive", "bigint"),
         ("payload", "string")],
        "seq bigint, alive bigint, payload string",
        step,
    )


def rate_limit_with_state(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    *,
    max_events: int,
    window_seconds: int,
    order_col: str,
) -> DataFrame:
    """Streaming twin of
    :func:`dbldatagen_spark.functions.ratelimit.rate_limit_events`:
    per-key token-bucket admission across micro-batches. State is the
    admitted-epoch list pruned to the trailing window — O(max_events)
    longs per key, never history-sized. Assumes per-key event-time
    order across batches (replay in order or pre-sort the backlog);
    within a batch rows are processed in (ts, order) order. Emits
    ``(key, order, allowed)`` per event; identical decisions to the
    batch fold on an in-order stream (the real-run pytest asserts it).
    On a batch frame it simply delegates to the batch fold.
    """
    if not df.isStreaming:
        from dbldatagen_spark.functions.ratelimit import rate_limit_events

        return rate_limit_events(
            df,
            key_col,
            ts_col,
            max_events=max_events,
            window_seconds=window_seconds,
            order_col=order_col,
        )

    keyed = df.select(
        F.col(key_col).cast("long").alias("key"),
        F.floor(
            F.unix_timestamp(F.col(ts_col).cast("timestamp"))
        ).cast("long").alias("_e"),
        F.col(order_col).cast("long").alias("o"),
    )
    win = int(window_seconds)
    cap = int(max_events)

    def step(key, rows, state):
        admitted = list(state[0]) if state else []
        out = []
        for e, o in zip(rows["_e"], rows["o"]):
            e = int(e)
            admitted = [a for a in admitted if a > e - win]
            ok = len(admitted) < cap
            if ok:
                admitted.append(e)
            out.append((key, int(o), int(ok)))
        return (admitted,), out

    return _keyed_fold(
        keyed,
        ["_e", "o"],
        [("key", "bigint"), ("o", "bigint"), ("allowed", "bigint")],
        "admitted array<bigint>",
        step,
    )


def ewma_with_state(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    *,
    alpha: float,
    order_col: str,
) -> DataFrame:
    """Streaming twin of
    :func:`dbldatagen_spark.functions.timeseries.ewma`: per-key
    exponentially weighted moving average across micro-batches. State
    is ONE double per key (the last smoothed value) — the minimal
    possible streaming state. Assumes per-key event-time order across
    batches (replay in order or pre-sort the backlog); within a batch
    rows are processed in ``(ts, order)`` order. NULL values are
    skipped without touching state, mirroring the batch fold's NULL
    exclusion. Emits ``(key, o, value, ewma)`` per non-null event.

    The recurrence ``a*v + (1-a)*s`` runs in IEEE doubles in the same
    order as the batch fold, so an in-order stream reproduces the
    batch result bit-for-bit (the real-run pytest asserts exact
    equality). On a batch frame it simply delegates to the batch fold.
    """
    if not (0.0 < alpha <= 1.0):
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    if not df.isStreaming:
        from dbldatagen_spark.functions.timeseries import ewma

        return _series_out(
            ewma(df, key_col, ts_col, value_col, alpha=alpha, order_col=order_col),
            key_col, order_col, value_col, "ewma",
        )
    a = float(alpha)

    def step(key, rows, state):
        last = state[0] if state else None
        out = []
        for o, v in zip(rows["o"], rows["v"]):
            if pd.isna(v):
                continue
            v = float(v)
            last = v if last is None else a * v + (1.0 - a) * last
            out.append((key, int(o), v, last))
        return (None if last is None else (last,)), out

    return _keyed_fold(
        _series(df, key_col, ts_col, order_col,
                F.col(value_col).cast("double").alias("v")),
        _SERIES_ORDER,
        _SERIES_FIELDS + [("ewma", "double")],
        "last double",
        step,
    )


def cusum_with_state(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    *,
    drift: float,
    threshold: float,
    target: float,
    order_col: str,
    reset_on_alarm: bool = True,
) -> DataFrame:
    """Streaming twin of
    :func:`dbldatagen_spark.functions.timeseries.cusum_flags`: two-sided
    CUSUM change-point detection across micro-batches with TWO doubles
    of state per key (the carried s+/s- statistics). ``target`` is
    required here — the batch fold's self-calibrated per-key mean is a
    two-pass statistic a stream cannot know upfront; pass a monitoring
    target (and the batch call the pytest compares against uses the
    same explicit target). Same ordering contract as the other twins:
    per-key event-time order across batches, ``(ts, order)`` within a
    batch. Emits ``(key, o, value, cusum_pos, cusum_neg, alarm)``;
    bit-for-bit equal to the batch fold on an in-order stream. On a
    batch frame it delegates to the batch fold.
    """
    if drift < 0.0:
        raise ValueError(f"drift must be >= 0, got {drift}")
    if threshold <= 0.0:
        raise ValueError(f"threshold must be > 0, got {threshold}")
    if not df.isStreaming:
        from dbldatagen_spark.functions.timeseries import cusum_flags

        return _series_out(
            cusum_flags(
                df, key_col, ts_col, value_col,
                drift=drift, threshold=threshold, target=target,
                order_col=order_col, reset_on_alarm=reset_on_alarm,
            ),
            key_col, order_col, value_col, "cusum_pos", "cusum_neg", "alarm",
        )
    d = float(drift)
    h = float(threshold)
    mu = float(target)
    reset = bool(reset_on_alarm)

    def step(key, rows, state):
        sp, sn = state or (0.0, 0.0)
        out = []
        for o, v in zip(rows["o"], rows["v"]):
            if pd.isna(v):
                continue
            v = float(v)
            rp = max(0.0, sp + (v - mu - d))
            rn = max(0.0, sn + (mu - v - d))
            alarm = rp > h or rn > h
            sp, sn = (0.0, 0.0) if (reset and alarm) else (rp, rn)
            out.append((key, int(o), v, rp, rn, alarm))
        return (float(sp), float(sn)), out

    return _keyed_fold(
        _series(df, key_col, ts_col, order_col,
                F.col(value_col).cast("double").alias("v")),
        _SERIES_ORDER,
        _SERIES_FIELDS + [("cusum_pos", "double"), ("cusum_neg", "double"),
                          ("alarm", "boolean")],
        "sp double, sn double",
        step,
    )


def transition_counts_with_state(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    state_col: str,
    *,
    order_col: str,
    states,
) -> DataFrame:
    """Streaming twin of the per-key categorical transition signature
    (:func:`dbldatagen_spark.functions.analytics.behavior_vectors`
    without the final normalization — counts, not frequencies): each
    key's cumulative ``k x k`` transition-count matrix over the explicit
    ``states`` vocabulary, maintained across micro-batches.  This was
    the one stateful family without a streaming twin: ewma/cusum carry
    one-double state, CDC carries one row — here state is
    ``(last-state index, k^2 count cells)`` per key, O(k^2) longs,
    never history-sized.

    Semantics mirror the batch lag-window exactly: a transition counts
    only when BOTH endpoints are in-vocabulary, and an out-of-vocabulary
    event BREAKS the chain (``a -> X -> b`` contributes nothing), so an
    in-order replay's final emission equals the batch signature
    bit-for-bit (integer counts — asserted by the real-run pytest and
    the registry conformance query).  Assumes per-key event-time order
    across batches; within a batch rows sort by ``(ts, order)``.

    Emits ``(key, n_transitions, counts)`` per key per batch — the
    CUMULATIVE signature after that batch (keys with no in-vocabulary
    transitions yet emit nothing, mirroring the batch drop); take each
    key's last emission for current state, exactly like
    :func:`cdc_latest_with_state`.  On a batch frame it delegates to
    the batch aggregation (``counts = round(behavior * n)`` — exact:
    the frequencies are integer ratios ``c/n`` and ``|c| < 2^52``).

    Scale shape: one key shuffle into the stateful operator; state and
    per-emission payload are both ``k^2 + 1`` longs per key regardless
    of history length.
    """
    if len(states) < 2:
        raise ValueError(f"states needs >= 2 entries, got {len(states)}")
    if len(set(states)) != len(states):
        raise ValueError("states must be distinct")
    k = len(states)
    if not df.isStreaming:
        from dbldatagen_spark.functions.analytics import behavior_vectors

        bv = behavior_vectors(
            df, key_col, ts_col, state_col, order_col=order_col, states=states
        )
        n = F.col("n_transitions").cast("double")
        return bv.select(
            F.col(key_col).cast("long").alias("key"),
            F.col("n_transitions").cast("long").alias("n_transitions"),
            F.transform(
                F.col("behavior"), lambda x: F.round(x * n).cast("long")
            ).alias("counts"),
        )
    idx = {s: i for i, s in enumerate(states)}

    def step(key, rows, state):
        last, counts = (state[0], list(state[1])) if state else (-1, [0] * (k * k))
        for s in rows["s"]:
            cur = idx.get(s, -1)
            if last >= 0 and cur >= 0:
                counts[last * k + cur] += 1
            last = cur  # out-of-vocab sets -1: breaks the chain, as batch
        n = sum(counts)
        return (last, counts), ([(key, n, counts)] if n else [])

    return _keyed_fold(
        _series(df, key_col, ts_col, order_col,
                F.col(state_col).cast("string").alias("s")),
        _SERIES_ORDER,
        [("key", "bigint"), ("n_transitions", "bigint"),
         ("counts", "array<bigint>")],
        "last bigint, counts array<bigint>",
        step,
    )


def holt_with_state(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    *,
    alpha: float,
    beta: float,
    order_col: str,
) -> DataFrame:
    """Streaming twin of
    :func:`dbldatagen_spark.functions.timeseries.holt_linear`: Holt's
    linear-trend smoother across micro-batches with TWO doubles of
    state per key (the carried level and trend).  Same ordering
    contract as the other twins: per-key event-time order across
    batches, ``(ts, order)`` within a batch; NULL values skip without
    touching state, mirroring the batch fold's NULL exclusion.  The
    recurrences run in IEEE doubles in the identical sequence as the
    batch fold, so an in-order stream reproduces level AND trend
    bit-for-bit (the real-run pytest asserts exact equality).  On a
    batch frame it delegates to the batch fold.  Emits
    ``(key, o, value, level, trend)`` per non-null event.
    """
    if not (0.0 < alpha <= 1.0):
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    if not (0.0 < beta <= 1.0):
        raise ValueError(f"beta must be in (0, 1], got {beta}")
    if not df.isStreaming:
        from dbldatagen_spark.functions.timeseries import holt_linear

        return _series_out(
            holt_linear(
                df, key_col, ts_col, value_col,
                alpha=alpha, beta=beta, order_col=order_col,
            ),
            key_col, order_col, value_col, "level", "trend",
        )
    a = float(alpha)
    bt = float(beta)

    def step(key, rows, state):
        lvl, trd = state or (None, 0.0)
        out = []
        for o, v in zip(rows["o"], rows["v"]):
            if pd.isna(v):
                continue
            v = float(v)
            if lvl is None:
                lvl, trd = v, 0.0
            else:
                l_new = a * v + (1.0 - a) * (lvl + trd)
                trd = bt * (l_new - lvl) + (1.0 - bt) * trd
                lvl = l_new
            out.append((key, int(o), v, lvl, trd))
        return (None if lvl is None else (lvl, trd)), out

    return _keyed_fold(
        _series(df, key_col, ts_col, order_col,
                F.col(value_col).cast("double").alias("v")),
        _SERIES_ORDER,
        _SERIES_FIELDS + [("level", "double"), ("trend", "double")],
        "l double, b double",
        step,
    )
