"""Streaming sessionization: native session_window + applyInPandasWithState.

The stream tests replay the driver's events parquet through a file
source with an availableNow trigger — deterministic backlog, real
Structured Streaming execution (state store, watermarks, append mode).
"""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events(spark):
    # two on-disk generations exist (TIMESTAMP(NANOS)-as-long and native
    # TIMESTAMP(MICROS)); adapt like __spark_entry__._load does
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{SF}/events.parquet")
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df.cache()


def _batch_gap_sessions(ev, gap_s=1800):
    w = Window.partitionBy("user_id").orderBy("ts")
    gap = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w)
    with_sid = ev.withColumn(
        "_new", F.when(gap.isNull() | (gap > gap_s), 1).otherwise(0)
    ).withColumn("sid", F.sum("_new").over(w))
    return (
        with_sid.groupBy("user_id", "sid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.round(F.sum("value"), 4).alias("value_sum"),
        )
    )


def test_session_window_batch_matches_lag_based(spark, events):
    """Native session_window over a batch frame == lag/cumsum sessions."""
    from dbldatagen_spark.streaming.stateful import session_window_agg

    native = session_window_agg(events, gap="30 minutes").select(
        "user_id",
        F.col("session_start").alias("native_start"),
        "n_events",
        F.round("value_sum", 4).alias("value_sum"),
    )
    lag = _batch_gap_sessions(events).select(
        "user_id",
        F.col("session_start").alias("lag_start"),
        F.col("n_events").alias("lag_n"),
        F.col("value_sum").alias("lag_v"),
    )
    assert native.count() == lag.count()
    # join on (user, first event ts): every session must line up exactly
    joined = native.join(
        lag,
        (native.user_id == lag.user_id) & (native.native_start == lag.lag_start),
    )
    assert joined.count() == native.count()
    mismatches = joined.where(
        (F.col("n_events") != F.col("lag_n"))
        | (F.abs(F.col("value_sum") - F.col("lag_v")) > 1e-6)
    ).count()
    assert mismatches == 0


def test_session_window_streaming_subset(spark, events, tmp_path):
    """Streamed (availableNow) session_window emits exactly the sessions the
    watermark has passed, and each matches its batch counterpart."""
    from dbldatagen_spark.streaming.stateful import session_window_agg

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    events.write.parquet(src)

    stream = spark.readStream.schema(events.schema).parquet(src)
    sess = session_window_agg(stream, gap="30 minutes", watermark="1 hour")
    q = (
        sess.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    batch = session_window_agg(events, gap="30 minutes")
    # emitted stream sessions must be a (non-trivial) subset of batch ones
    n_got, n_batch = got.count(), batch.count()
    assert 0 < n_got <= n_batch
    joined = got.select("user_id", "session_start", "n_events").join(
        batch.select("user_id", "session_start", "n_events"),
        ["user_id", "session_start", "n_events"],
    )
    assert joined.count() == n_got


def test_sessionize_with_state_stream(spark, events, tmp_path):
    """applyInPandasWithState: closed sessions agree with batch gap
    sessions on (user, start, n_events, value_sum)."""
    from dbldatagen_spark.streaming.stateful import sessionize_with_state

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    events.write.parquet(src)

    stream = spark.readStream.schema(events.schema).parquet(src)
    sess = sessionize_with_state(stream, gap_minutes=30, watermark="1 hour")
    q = (
        sess.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    n_got = got.count()
    assert n_got > 0
    batch = _batch_gap_sessions(events)
    joined = got.select(
        "user_id", "session_start",
        "n_events", F.round("value_sum", 4).alias("value_sum"),
    ).join(batch.select("user_id", "session_start", "n_events", "value_sum"),
           ["user_id", "session_start", "n_events", "value_sum"])
    assert joined.count() == n_got


def test_sessionize_with_state_cap(spark, tmp_path):
    """The max_events cap closes a session early — semantics native
    session_window cannot express."""
    import datetime as dt

    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 0, i), 1.0) for i in range(10)
    ]  # 10 events 1s apart: one gap-session, but cap=4 -> sessions of 4,4,2
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    df.write.parquet(src)

    from dbldatagen_spark.streaming.stateful import sessionize_with_state

    stream = spark.readStream.schema(df.schema).parquet(src)
    sess = sessionize_with_state(stream, gap_minutes=30, max_events=4)
    q = (
        sess.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out).orderBy("session_start").collect()
    # the two capped sessions are emitted inside the batch; the trailing
    # 2-event remainder stays in state (stream has no later watermark tick)
    assert [r["n_events"] for r in got] == [4, 4]
    assert all(r["closed_by"] == 1 for r in got)


def test_dedup_within_watermark_stream(spark, events, tmp_path):
    """Streaming dedup over a doubled source keeps exactly one copy per
    event_id; batch path agrees."""
    from dbldatagen_spark.streaming.windows import dedup_within_watermark

    doubled = events.union(events)
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    doubled.write.parquet(src)

    stream = spark.readStream.schema(doubled.schema).parquet(src)
    deduped = dedup_within_watermark(stream, ["event_id"], watermark="1 hour")
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    n_unique = events.select("event_id").distinct().count()
    assert got.count() == n_unique
    assert got.select("event_id").distinct().count() == n_unique
    # batch path: same operator, exact semantics
    assert dedup_within_watermark(doubled, ["event_id"]).count() == n_unique


def test_windowed_event_counts_stream_matches_batch(spark, events, tmp_path):
    """Watermarked hourly windows emitted by the stream match the batch
    computation for every (window, event_type) they emit."""
    from dbldatagen_spark.streaming.windows import windowed_event_counts

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    events.write.parquet(src)

    stream = spark.readStream.schema(events.schema).parquet(src)
    counts = windowed_event_counts(stream, window="1 hour", watermark="2 hours")
    q = (
        counts.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    batch = windowed_event_counts(events, window="1 hour")
    n_got = got.count()
    assert 0 < n_got <= batch.count()
    joined = got.select(
        "window_start", "event_type", "n_events",
        F.round("value_sum", 4).alias("value_sum"),
    ).join(
        batch.select("window_start", "event_type", "n_events",
                     F.round("value_sum", 4).alias("value_sum")),
        ["window_start", "event_type", "n_events", "value_sum"],
    )
    assert joined.count() == n_got


def test_global_dedup_with_state_stream(spark, tmp_path):
    """Streaming global exact dedup: across micro-batches, exactly one
    emission per distinct content — the first by (ts, doc_id)."""
    import datetime as dt

    from dbldatagen_spark.streaming.stateful import global_dedup_with_state

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, "hello world", t0),
        (2, "hello  WORLD", t0 + dt.timedelta(minutes=1)),   # dup of 1 (normalized)
        (3, "something else", t0 + dt.timedelta(minutes=2)),
        (4, "hello world", t0 + dt.timedelta(minutes=3)),    # dup of 1
        (5, "third thing", t0 + dt.timedelta(minutes=4)),
        (6, "something else", t0 + dt.timedelta(minutes=5)), # dup of 3
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "ts"])
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    # two files -> at least two micro-batches worth of backlog
    df.where("doc_id <= 3").coalesce(1).write.parquet(src)
    df.where("doc_id > 3").coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(df.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    deduped = global_dedup_with_state(stream, "doc_id", "text")
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert got == [1, 3, 5]


def test_global_dedup_with_state_batch(spark):
    import datetime as dt

    from dbldatagen_spark.streaming.stateful import global_dedup_with_state

    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [
            (10, "a b c", t0 + dt.timedelta(minutes=5)),
            (11, "a  b  c", t0),          # earlier dup wins
            (12, "x y", t0 + dt.timedelta(minutes=1)),
        ],
        ["doc_id", "text", "ts"],
    )
    got = sorted(r["doc_id"] for r in global_dedup_with_state(df, "doc_id", "text").collect())
    assert got == [11, 12]


def test_interval_join_batch_semantics(spark):
    from dbldatagen_spark.streaming.windows import interval_join_streams

    left = spark.createDataFrame(
        [(1, 10, "2024-01-01 10:00:00"), (2, 11, "2024-01-01 10:00:00")],
        ["user_id", "click_id", "cts"],
    ).withColumn("cts", F.col("cts").cast("timestamp"))
    right = spark.createDataFrame(
        [
            (1, 100, "2024-01-01 10:30:00"),  # in window
            (1, 101, "2024-01-01 11:00:00"),  # boundary: exactly +1h, inclusive
            (1, 102, "2024-01-01 11:00:01"),  # past window
            (1, 103, "2024-01-01 09:59:59"),  # before click
            (2, 104, "2024-01-01 10:15:00"),  # other user, in window
            (3, 105, "2024-01-01 10:15:00"),  # unmatched user
        ],
        ["user_id", "purchase_id", "pts"],
    ).withColumn("pts", F.col("pts").cast("timestamp"))
    got = {
        (r.click_id, r.purchase_id)
        for r in interval_join_streams(
            left, right, "user_id",
            left_ts="cts", right_ts="pts", max_delay="1 hour",
        ).collect()
    }
    assert got == {(10, 100), (10, 101), (11, 104)}


def test_interval_join_stream_matches_batch(spark, events, tmp_path):
    from dbldatagen_spark.streaming.windows import interval_join_streams

    clicks = events.where("event_type = 'click'").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("cts"),
    )
    views = events.where("event_type = 'view'").select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("vts"),
    )
    kwargs = dict(
        left_ts="cts", right_ts="vts",
        max_delay="2 hours", watermark="3650 days",
    )
    expected = sorted(
        (r.click_id, r.view_id)
        for r in interval_join_streams(clicks, views, "user_id", **kwargs)
        .select("click_id", "view_id")
        .collect()
    )
    assert expected  # fixture must actually produce pairs

    clicks.coalesce(1).write.parquet(str(tmp_path / "l"))
    views.coalesce(1).write.parquet(str(tmp_path / "r"))
    ls = spark.readStream.schema(clicks.schema).parquet(str(tmp_path / "l"))
    rs = spark.readStream.schema(views.schema).parquet(str(tmp_path / "r"))
    q = (
        interval_join_streams(ls, rs, "user_id", **kwargs)
        .select("click_id", "view_id")
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r.click_id, r.view_id)
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )
    assert got == expected


def test_foreach_batch_idempotent_sink(spark, events, tmp_path):
    from dbldatagen_spark.sources.sinks import foreach_batch_idempotent_sink

    import glob
    import os
    import time

    src = events.select("event_id", "user_id", "value")
    # two files with separated mtimes -> two micro-batches under
    # maxFilesPerTrigger=1 (the file source batches by modification time)
    src.where("event_id % 2 = 0").coalesce(1).write.parquet(str(tmp_path / "src"))
    src.where("event_id % 2 = 1").coalesce(1).write.mode("append").parquet(
        str(tmp_path / "src")
    )
    now = time.time()
    for i, f in enumerate(sorted(glob.glob(str(tmp_path / "src" / "*.parquet")))):
        os.utime(f, (now + 1000 * i, now + 1000 * i))
    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "src"))
    )
    q = foreach_batch_idempotent_sink(
        stream,
        str(tmp_path / "out"),
        str(tmp_path / "ck"),
        trigger={"availableNow": True},
    )
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "out"))
    # all rows delivered, batch_id exposed as a partition column
    assert "batch_id" in out.columns
    assert out.count() == src.count()
    assert out.select("batch_id").distinct().count() >= 2  # one per file

    # redelivery simulation: rewriting an epoch's partition is idempotent
    # (materialize first — the overwrite deletes the files being read)
    b0_rows = out.where("batch_id = 0").drop("batch_id").collect()
    b0 = spark.createDataFrame(b0_rows, src.schema)
    b0.write.mode("overwrite").parquet(str(tmp_path / "out" / "batch_id=0"))
    again = spark.read.parquet(str(tmp_path / "out"))
    assert again.count() == src.count()
    assert sorted(r.event_id for r in again.collect()) == sorted(
        r.event_id for r in src.collect()
    )


def test_cdc_latest_with_state_batch_semantics(spark):
    from dbldatagen_spark.streaming.stateful import cdc_latest_with_state

    log = spark.createDataFrame(
        [
            (1, 1, "I", "a"),
            (1, 2, "U", "b"),
            (2, 3, "I", "c"),
            (2, 4, "D", None),
            (3, 5, "I", "d"),
        ],
        ["k", "seq", "op", "p"],
    )
    out = {
        r.key: (r.seq, r.alive, r.payload)
        for r in cdc_latest_with_state(
            log, "k", "seq", op_col="op", payload_col="p"
        ).collect()
    }
    assert out[1] == (2, 1, "b")
    assert out[2][1] == 0          # tombstoned key is emitted dead, not dropped
    assert out[3] == (5, 1, "d")


def test_cdc_latest_with_state_stream(spark, events, tmp_path):
    import glob
    import os
    import time

    from dbldatagen_spark.streaming.stateful import cdc_latest_with_state

    log = events.select(
        "user_id",
        F.col("event_id").alias("seq"),
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.to_json(F.struct("event_type", "value")).alias("payload"),
    )
    batch_final = cdc_latest_with_state(
        log, "user_id", "seq", payload_col="payload"
    )

    # two micro-batches: first then second half of the log by sequence
    mid = log.agg(F.expr("percentile(seq, 0.5)")).first()[0]
    log.where(F.col("seq") <= mid).coalesce(1).write.parquet(
        str(tmp_path / "src")
    )
    log.where(F.col("seq") > mid).coalesce(1).write.mode("append").parquet(
        str(tmp_path / "src")
    )
    now = time.time()
    for i, f in enumerate(sorted(glob.glob(str(tmp_path / "src" / "*.parquet")))):
        os.utime(f, (now + 1000 * i, now + 1000 * i))

    stream = (
        spark.readStream.schema(log.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "src"))
    )
    q = (
        cdc_latest_with_state(stream, "user_id", "seq", payload_col="payload")
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    emissions = spark.read.parquet(str(tmp_path / "out"))
    # a key whose state changed in both batches emitted twice
    assert emissions.count() >= batch_final.count()
    # final streamed state (last emission per key) == batch result
    from pyspark.sql import Window

    w = Window.partitionBy("key").orderBy(F.col("seq").desc())
    final = (
        emissions.withColumn("_rn", F.row_number().over(w))
        .where("_rn = 1")
        .drop("_rn")
    )
    assert final.exceptAll(batch_final).count() == 0
    assert batch_final.exceptAll(final).count() == 0


def test_rate_limit_stream_matches_batch(spark, events, tmp_path):
    import glob
    import os
    import time

    from dbldatagen_spark.streaming.stateful import rate_limit_with_state

    src = events.select("user_id", "ts", "event_id")
    kwargs = dict(max_events=3, window_seconds=86400, order_col="event_id")
    batch = rate_limit_with_state(src, "user_id", "ts", **kwargs)
    n_denied = batch.where("NOT allowed").count()
    assert n_denied > 0  # the fixture must actually exercise denials

    # two in-event-time-order micro-batches. Split on a FLOORED-second
    # boundary: the fold orders by (epoch-second, id), so two events in
    # the same second must never land in different batches (the stream
    # would process them in batch order, not id order)
    e = F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")))
    mid = int(src.agg(F.expr(
        "percentile(floor(unix_timestamp(cast(ts as timestamp))), 0.5)"
    )).first()[0])
    # mtimes must follow WRITE order, not filename order (part-file
    # names are random UUIDs) — track which files each write produced
    now = time.time()
    seen: list = []
    for i, frame in enumerate((src.where(e < mid), src.where(e >= mid))):
        frame.coalesce(1).write.mode("append").parquet(str(tmp_path / "src"))
        for f in sorted(glob.glob(str(tmp_path / "src" / "*.parquet"))):
            if f not in seen:
                os.utime(f, (now + 1000 * i, now + 1000 * i))
                seen.append(f)

    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "src"))
    )
    q = (
        rate_limit_with_state(stream, "user_id", "ts", **kwargs)
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.read.parquet(str(tmp_path / "out")).select(
        "key", "o", (F.col("allowed") == 1).alias("allowed")
    )
    b = {(r.user_id, r.event_id): r.allowed for r in batch.collect()}
    s = {(r.key, r.o): r.allowed for r in streamed.collect()}
    assert b == s


def test_ewma_stream_matches_batch_bitexact(spark, events, tmp_path):
    import glob
    import os
    import time

    from dbldatagen_spark.streaming.stateful import ewma_with_state

    src = events.select("user_id", "ts", "event_id", "value")
    kwargs = dict(alpha=0.25, order_col="event_id")
    batch = ewma_with_state(src, "user_id", "ts", "value", **kwargs)

    # two in-event-time-order micro-batches, split on a floored-second
    # boundary so (ts, id) ties never straddle batches
    mid = int(src.agg(F.expr(
        "percentile(floor(unix_timestamp(cast(ts as timestamp))), 0.5)"
    )).first()[0])
    e = F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")))
    now = time.time()
    seen: list = []
    for i, frame in enumerate((src.where(e < mid), src.where(e >= mid))):
        frame.coalesce(1).write.mode("append").parquet(str(tmp_path / "src"))
        for f in sorted(glob.glob(str(tmp_path / "src" / "*.parquet"))):
            if f not in seen:
                os.utime(f, (now + 1000 * i, now + 1000 * i))
                seen.append(f)

    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "src"))
    )
    q = (
        ewma_with_state(stream, "user_id", "ts", "value", **kwargs)
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.read.parquet(str(tmp_path / "out"))
    b = {(r.key, r.o): (r.value, r.ewma) for r in batch.collect()}
    s = {(r.key, r.o): (r.value, r.ewma) for r in streamed.collect()}
    assert b == s  # exact double equality, not approx


def test_ewma_with_state_validation(spark, events):
    from dbldatagen_spark.streaming.stateful import ewma_with_state

    with pytest.raises(ValueError):
        ewma_with_state(events, "user_id", "ts", "value",
                        alpha=1.5, order_col="event_id")


def test_cusum_stream_matches_batch_bitexact(spark, events, tmp_path):
    import glob
    import os
    import time

    from dbldatagen_spark.streaming.stateful import cusum_with_state

    src = events.select("user_id", "ts", "event_id", "value")
    kwargs = dict(drift=0.25, threshold=1.5, target=3.5, order_col="event_id")
    batch = cusum_with_state(src, "user_id", "ts", "value", **kwargs)
    assert batch.where("alarm").count() > 0  # fixture exercises alarms

    mid = int(src.agg(F.expr(
        "percentile(floor(unix_timestamp(cast(ts as timestamp))), 0.5)"
    )).first()[0])
    e = F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")))
    now = time.time()
    seen: list = []
    for i, frame in enumerate((src.where(e < mid), src.where(e >= mid))):
        frame.coalesce(1).write.mode("append").parquet(str(tmp_path / "src"))
        for f in sorted(glob.glob(str(tmp_path / "src" / "*.parquet"))):
            if f not in seen:
                os.utime(f, (now + 1000 * i, now + 1000 * i))
                seen.append(f)

    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "src"))
    )
    q = (
        cusum_with_state(stream, "user_id", "ts", "value", **kwargs)
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.read.parquet(str(tmp_path / "out"))
    b = {(r.key, r.o): (r.value, r.cusum_pos, r.cusum_neg, r.alarm)
         for r in batch.collect()}
    s = {(r.key, r.o): (r.value, r.cusum_pos, r.cusum_neg, r.alarm)
         for r in streamed.collect()}
    assert b == s  # exact double equality


def test_cusum_with_state_validation(spark, events):
    from dbldatagen_spark.streaming.stateful import cusum_with_state

    with pytest.raises(ValueError):
        cusum_with_state(events, "user_id", "ts", "value",
                         drift=-1.0, threshold=1.0, target=0.0,
                         order_col="event_id")


def test_histogram_sink_merge_on_read_matches_batch(spark, events, tmp_path):
    import glob
    import os
    import time

    from dbldatagen_spark.functions import histogram_sketch
    from dbldatagen_spark.sources.sinks import (
        foreach_batch_histogram_sink,
        read_merged_histogram,
    )

    src = events.select("event_type", "value")
    kw = dict(lo=0.0, hi=600.0, bins=120)
    whole = histogram_sketch(src, "value", group_cols=["event_type"], **kw)

    # two micro-batches (any split works — bin sums commute)
    now = time.time()
    seen: list = []
    halves = (events.where("event_id % 2 = 0").select("event_type", "value"),
              events.where("event_id % 2 = 1").select("event_type", "value"))
    for i, frame in enumerate(halves):
        frame.coalesce(1).write.mode("append").parquet(str(tmp_path / "src"))
        for f in sorted(glob.glob(str(tmp_path / "src" / "*.parquet"))):
            if f not in seen:
                os.utime(f, (now + 1000 * i, now + 1000 * i))
                seen.append(f)

    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "src"))
    )
    q = foreach_batch_histogram_sink(
        stream, "value", str(tmp_path / "state"), str(tmp_path / "ck"),
        group_cols=["event_type"],
        trigger={"availableNow": True}, **kw,
    )
    q.awaitTermination(120)
    merged = read_merged_histogram(
        spark, str(tmp_path / "state"), group_cols=["event_type"]
    )
    assert sorted(map(tuple, merged.select("event_type", "bin", "cnt").collect())) \
        == sorted(map(tuple, whole.collect()))
    # state really is epoch-partitioned sketches
    import pathlib
    parts = {p.name for p in pathlib.Path(tmp_path / "state").iterdir()
             if p.is_dir()}
    assert {"batch_id=0", "batch_id=1"} <= parts


def test_transition_counts_stream_matches_batch(spark, events, tmp_path):
    import glob
    import os
    import time

    from pyspark.sql import Window

    from dbldatagen_spark.streaming.stateful import transition_counts_with_state

    states = ["click", "error", "purchase", "signup", "view"]
    src = events.select("user_id", "ts", "event_id", "event_type")
    kwargs = dict(order_col="event_id", states=states)
    batch = transition_counts_with_state(
        src, "user_id", "ts", "event_type", **kwargs
    )

    mid = int(src.agg(F.expr(
        "percentile(floor(unix_timestamp(cast(ts as timestamp))), 0.5)"
    )).first()[0])
    e = F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")))
    now = time.time()
    seen: list = []
    for i, frame in enumerate((src.where(e < mid), src.where(e >= mid))):
        frame.coalesce(1).write.mode("append").parquet(str(tmp_path / "src"))
        for f in sorted(glob.glob(str(tmp_path / "src" / "*.parquet"))):
            if f not in seen:
                os.utime(f, (now + 1000 * i, now + 1000 * i))
                seen.append(f)

    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "src"))
    )
    q = (
        transition_counts_with_state(stream, "user_id", "ts", "event_type", **kwargs)
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    emissions = spark.read.parquet(str(tmp_path / "out"))
    # cumulative emissions: the key's LAST (max n_transitions) must equal batch
    w = Window.partitionBy("key").orderBy(F.col("n_transitions").desc())
    final = (
        emissions.withColumn("_rn", F.row_number().over(w))
        .where("_rn = 1").drop("_rn")
    )
    b = {r.key: (r.n_transitions, list(r.counts)) for r in batch.collect()}
    s = {r.key: (r.n_transitions, list(r.counts)) for r in final.collect()}
    assert b == s  # integer-exact


def test_transition_counts_chain_break_and_batch_delegation(spark):
    from dbldatagen_spark.streaming.stateful import transition_counts_with_state

    rows = [
        (1, "2024-01-01 00:00:00", 1, "a"),
        (1, "2024-01-01 00:01:00", 2, "X"),  # out-of-vocab: breaks chain
        (1, "2024-01-01 00:02:00", 3, "b"),
        (1, "2024-01-01 00:03:00", 4, "a"),
        (2, "2024-01-01 00:00:00", 5, "X"),  # no in-vocab transition: dropped
        (2, "2024-01-01 00:01:00", 6, "a"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts string, event_id long, state string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {r.key: (r.n_transitions, list(r.counts))
           for r in transition_counts_with_state(
               df, "user_id", "ts", "state",
               order_col="event_id", states=["a", "b"]).collect()}
    # user 1: only b->a counts (a->X and X->b break); user 2 has none
    assert out == {1: (1, [0, 0, 1, 0])}


def test_transition_counts_validation(spark, events):
    from dbldatagen_spark.streaming.stateful import transition_counts_with_state

    with pytest.raises(ValueError):
        transition_counts_with_state(events, "user_id", "ts", "event_type",
                                     order_col="event_id", states=["a"])
    with pytest.raises(ValueError):
        transition_counts_with_state(events, "user_id", "ts", "event_type",
                                     order_col="event_id",
                                     states=["a", "a", "b"])


def test_transition_counts_batch_delegation_randomized(spark):
    """Bulk randomized check: the batch delegation (round(behavior*n))
    must reproduce pure-Python pair counting exactly, including
    out-of-vocab chain breaks, across many keys and sequences."""
    import random

    from dbldatagen_spark.streaming.stateful import transition_counts_with_state

    rng = random.Random(42)
    states = ["a", "b", "c"]
    vocab = {s: i for i, s in enumerate(states)}
    alphabet = states + ["X", "Y"]  # 2 out-of-vocab symbols
    rows, expected = [], {}
    eid = 0
    for key in range(10):
        seq = [rng.choice(alphabet) for _ in range(rng.randint(1, 60))]
        counts = [0] * 9
        last = -1
        for j, s in enumerate(seq):
            eid += 1
            rows.append((key, f"2024-01-01 00:{j:02d}:00", eid, s))
            cur = vocab.get(s, -1)
            if last >= 0 and cur >= 0:
                counts[last * 3 + cur] += 1
            last = cur
        if sum(counts):
            expected[key] = (sum(counts), counts)
    df = spark.createDataFrame(
        rows, "user_id long, ts string, event_id long, state string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {r.key: (r.n_transitions, list(r.counts))
           for r in transition_counts_with_state(
               df, "user_id", "ts", "state",
               order_col="event_id", states=states).collect()}
    assert got == expected


def _two_microbatch_source(spark, events, tmp_path, cols):
    """Write events as two file-source micro-batches (mtime-spaced,
    maxFilesPerTrigger=1) and return the readStream frame."""
    import glob
    import os
    import time

    src = events.select(*cols)
    now = time.time()
    seen: list = []
    halves = (src.where("event_id % 2 = 0"), src.where("event_id % 2 = 1"))
    for i, frame in enumerate(halves):
        frame.coalesce(1).write.mode("append").parquet(str(tmp_path / "src"))
        for f in sorted(glob.glob(str(tmp_path / "src" / "*.parquet"))):
            if f not in seen:
                os.utime(f, (now + 1000 * i, now + 1000 * i))
                seen.append(f)
    return (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "src"))
    )


def test_kmv_sink_merge_on_read_matches_batch(spark, events, tmp_path):
    import pathlib

    from dbldatagen_spark.functions import kmv_sketch
    from dbldatagen_spark.sources.sinks import (
        foreach_batch_kmv_sink,
        read_merged_kmv,
    )

    k = 32
    whole = kmv_sketch(
        events.select("event_type", "user_id"), "user_id",
        group_cols=["event_type"], k=k,
    )
    stream = _two_microbatch_source(
        spark, events, tmp_path, ["event_type", "user_id", "event_id"]
    )
    q = foreach_batch_kmv_sink(
        stream, "user_id", str(tmp_path / "state"), str(tmp_path / "ck"),
        k=k, group_cols=["event_type"], trigger={"availableNow": True},
    )
    q.awaitTermination(120)
    merged = read_merged_kmv(
        spark, str(tmp_path / "state"), k=k, group_cols=["event_type"]
    )
    # the KMV union law is lossless: merged state == whole-input sketch,
    # hash-for-hash, hence identical estimates
    b = {r["event_type"]: (r["sketch"], r["n_kept"], r["dv_estimate"])
         for r in whole.collect()}
    s = {r["event_type"]: (r["sketch"], r["n_kept"], r["dv_estimate"])
         for r in merged.collect()}
    assert b == s
    parts = {p.name for p in pathlib.Path(tmp_path / "state").iterdir()
             if p.is_dir()}
    assert {"batch_id=0", "batch_id=1"} <= parts


def test_cms_sink_merge_on_read_matches_batch(spark, events, tmp_path):
    from dbldatagen_spark.functions import cms_estimate, cms_sketch
    from dbldatagen_spark.sources.sinks import (
        foreach_batch_cms_sink,
        read_merged_cms,
    )

    kw = dict(width=64, depth=3, seed=7)
    whole = cms_sketch(events.select("user_id", "event_id"), "user_id", **kw)
    stream = _two_microbatch_source(
        spark, events, tmp_path, ["user_id", "event_id"]
    )
    q = foreach_batch_cms_sink(
        stream, "user_id", str(tmp_path / "state"), str(tmp_path / "ck"),
        trigger={"availableNow": True}, **kw,
    )
    q.awaitTermination(120)
    merged = read_merged_cms(spark, str(tmp_path / "state"))
    # CMS cells are commutative sums: merged state == whole-input sketch
    # cell-for-cell, hence identical point estimates downstream
    assert sorted(map(tuple, merged.collect())) \
        == sorted(map(tuple, whole.collect()))
    probes = events.where("user_id % 5 = 0")
    eb = sorted(map(tuple,
                cms_estimate(whole, probes, "user_id", **kw).collect()))
    es = sorted(map(tuple,
                cms_estimate(merged, probes, "user_id", **kw).collect()))
    assert eb == es


def test_kmv_sink_global_sketch(spark, events, tmp_path):
    # no group columns: one global sketch row merges correctly
    from dbldatagen_spark.functions import kmv_sketch
    from dbldatagen_spark.sources.sinks import (
        foreach_batch_kmv_sink,
        read_merged_kmv,
    )

    k = 16
    whole = kmv_sketch(events.select("user_id", "event_id"), "user_id", k=k)
    stream = _two_microbatch_source(
        spark, events, tmp_path, ["user_id", "event_id"]
    )
    q = foreach_batch_kmv_sink(
        stream, "user_id", str(tmp_path / "state"), str(tmp_path / "ck"),
        k=k, trigger={"availableNow": True},
    )
    q.awaitTermination(120)
    merged = read_merged_kmv(spark, str(tmp_path / "state"), k=k)
    assert merged.count() == 1
    assert whole.first()["sketch"] == merged.first()["sketch"]


def test_holt_stream_matches_batch_bitexact(spark, events, tmp_path):
    import glob
    import os
    import time

    from dbldatagen_spark.streaming.stateful import holt_with_state

    src = events.select("user_id", "ts", "event_id", "value")
    kwargs = dict(alpha=0.25, beta=0.125, order_col="event_id")
    batch = holt_with_state(src, "user_id", "ts", "value", **kwargs)

    # two in-event-time-order micro-batches, split on a floored-second
    # boundary so (ts, id) ties never straddle batches
    mid = int(src.agg(F.expr(
        "percentile(floor(unix_timestamp(cast(ts as timestamp))), 0.5)"
    )).first()[0])
    e = F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")))
    now = time.time()
    seen: list = []
    for i, frame in enumerate((src.where(e < mid), src.where(e >= mid))):
        frame.coalesce(1).write.mode("append").parquet(str(tmp_path / "src"))
        for f in sorted(glob.glob(str(tmp_path / "src" / "*.parquet"))):
            if f not in seen:
                os.utime(f, (now + 1000 * i, now + 1000 * i))
                seen.append(f)

    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "src"))
    )
    q = (
        holt_with_state(stream, "user_id", "ts", "value", **kwargs)
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.read.parquet(str(tmp_path / "out"))
    b = {(r.key, r.o): (r.value, r.level, r.trend) for r in batch.collect()}
    s = {(r.key, r.o): (r.value, r.level, r.trend)
         for r in streamed.collect()}
    assert b == s  # exact double equality on level AND trend


def test_holt_with_state_validation(spark, events):
    from dbldatagen_spark.streaming.stateful import holt_with_state

    with pytest.raises(ValueError):
        holt_with_state(events, "user_id", "ts", "value",
                        alpha=0.25, beta=0.0, order_col="event_id")


def test_hll_sink_merge_equals_whole_input(spark, events, tmp_path):
    import glob
    import os
    import pathlib
    import time

    from dbldatagen_spark.functions import hll_sketch
    from dbldatagen_spark.sources.sinks import (
        foreach_batch_hll_sink,
        read_merged_hll,
    )

    src = events.select("event_type", "user_id")
    whole = hll_sketch(src, "user_id", group_cols=["event_type"], p=6)

    # two micro-batches (any split works — element-wise max commutes
    # and is idempotent)
    now = time.time()
    seen: list = []
    halves = (
        events.where("event_id % 2 = 0").select("event_type", "user_id"),
        events.where("event_id % 2 = 1").select("event_type", "user_id"),
    )
    for i, frame in enumerate(halves):
        frame.coalesce(1).write.mode("append").parquet(str(tmp_path / "src"))
        for f in sorted(glob.glob(str(tmp_path / "src" / "*.parquet"))):
            if f not in seen:
                os.utime(f, (now + 1000 * i, now + 1000 * i))
                seen.append(f)

    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "src"))
    )
    q = foreach_batch_hll_sink(
        stream, "user_id", str(tmp_path / "state"), str(tmp_path / "ck"),
        p=6, group_cols=["event_type"], trigger={"availableNow": True},
    )
    q.awaitTermination(120)
    merged = read_merged_hll(
        spark, str(tmp_path / "state"), p=6, group_cols=["event_type"]
    )
    m = {r["event_type"]: (list(r["registers"]), r["dv_estimate"])
         for r in merged.collect()}
    w = {r["event_type"]: (list(r["registers"]), r["dv_estimate"])
         for r in whole.collect()}
    assert m == w  # register-for-register AND estimate-for-estimate
    parts = {p.name for p in pathlib.Path(tmp_path / "state").iterdir()
             if p.is_dir()}
    assert {"batch_id=0", "batch_id=1"} <= parts


def _ordered_stream(spark, tmp_path, frames):
    """One parquet file per frame, mtimes in list order, read back as a
    stream of one micro-batch per file."""
    import glob
    import os
    import time

    src = str(tmp_path / "src")
    now = time.time()
    seen: list = []
    for i, frame in enumerate(frames):
        frame.coalesce(1).write.mode("append").parquet(src)
        for f in sorted(glob.glob(f"{src}/*.parquet")):
            if f not in seen:
                os.utime(f, (now + 1000 * i, now + 1000 * i))
                seen.append(f)
    return (
        spark.readStream.schema(frames[0].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )


def _drain(spark, df, tmp_path):
    """Run ``df`` to a parquet sink with availableNow; return the output."""
    q = (
        df.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.read.parquet(str(tmp_path / "out"))


def test_cdc_latest_with_state_stream_keeps_null_payload(spark, tmp_path):
    """A tombstone usually has no payload: the stream must emit NULL, as
    the batch twin does, not an empty string."""
    from dbldatagen_spark.streaming.stateful import cdc_latest_with_state

    schema = "k long, seq long, op string, p string"
    first = spark.createDataFrame([(1, 1, "I", "a"), (2, 3, "I", "c")], schema)
    second = spark.createDataFrame(
        [(1, 2, "U", "b"), (2, 4, "D", None), (3, 5, "I", None)], schema
    )
    kw = dict(op_col="op", payload_col="p")
    batch = {
        r.key: (r.seq, r.alive, r.payload)
        for r in cdc_latest_with_state(first.union(second), "k", "seq", **kw)
        .collect()
    }
    assert batch == {1: (2, 1, "b"), 2: (4, 0, None), 3: (5, 1, None)}
    stream = _ordered_stream(spark, tmp_path, [first, second])
    emissions = _drain(
        spark, cdc_latest_with_state(stream, "k", "seq", **kw), tmp_path
    )
    last = {}
    for r in emissions.orderBy("seq").collect():
        last[r.key] = (r.seq, r.alive, r.payload)
    assert last == batch


def test_sessionize_with_state_event_time_timeout(spark, tmp_path):
    """A later micro-batch moves the watermark past user 1's open session
    (last event + gap), so it closes by timeout (closed_by=2); user 2's
    session is still open and emits nothing."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    schema = "user_id long, ts timestamp, value double"
    first = spark.createDataFrame(
        [(1, t0 + dt.timedelta(minutes=i), 1.0) for i in range(3)], schema
    )
    second = spark.createDataFrame(
        [(2, t0 + dt.timedelta(hours=5, minutes=i), 1.0) for i in range(2)],
        schema,
    )
    from dbldatagen_spark.streaming.stateful import sessionize_with_state

    stream = _ordered_stream(spark, tmp_path, [first, second])
    got = _drain(
        spark, sessionize_with_state(stream, gap_minutes=30), tmp_path
    ).collect()
    assert [tuple(r) for r in got] == [
        (1, t0, t0 + dt.timedelta(minutes=2), 3, 3.0, 2)
    ]


# Streaming output schemas of the eight keyed-state operators (all fields
# nullable, array elements too), as recorded before the operators shared
# one kernel.
_STATEFUL_SCHEMAS = {
    "sessionize": "struct<user_id:bigint,session_start:timestamp,"
    "session_end:timestamp,n_events:bigint,value_sum:double,closed_by:bigint>",
    "global_dedup": "struct<doc_id:bigint,first_seen_ts:timestamp>",
    "cdc": "struct<key:bigint,seq:bigint,alive:bigint,payload:string>",
    "rate_limit": "struct<key:bigint,o:bigint,allowed:bigint>",
    "ewma": "struct<key:bigint,o:bigint,value:double,ewma:double>",
    "cusum": "struct<key:bigint,o:bigint,value:double,cusum_pos:double,"
    "cusum_neg:double,alarm:boolean>",
    "transition": "struct<key:bigint,n_transitions:bigint,counts:array<bigint>>",
    "holt": "struct<key:bigint,o:bigint,value:double,level:double,trend:double>",
}


def test_stateful_stream_output_schemas(spark):
    from pyspark.sql.types import ArrayType

    from dbldatagen_spark.streaming import stateful as st

    s = spark.readStream.format("rate").load().selectExpr(
        "value AS user_id", "timestamp AS ts", "CAST(value AS double) AS value",
        "value AS event_id", "CAST(value AS string) AS event_type",
        "CAST(value AS string) AS text", "value AS doc_id", "value AS seq",
        "'U' AS op", "CAST(value AS string) AS payload",
    )
    series = dict(order_col="event_id")
    outs = {
        "sessionize": st.sessionize_with_state(s),
        "global_dedup": st.global_dedup_with_state(s, "doc_id", "text"),
        "cdc": st.cdc_latest_with_state(s, "user_id", "seq"),
        "rate_limit": st.rate_limit_with_state(
            s, "user_id", "ts", max_events=3, window_seconds=10, **series),
        "ewma": st.ewma_with_state(
            s, "user_id", "ts", "value", alpha=0.5, **series),
        "cusum": st.cusum_with_state(
            s, "user_id", "ts", "value", drift=0.1, threshold=1.0,
            target=0.0, **series),
        "transition": st.transition_counts_with_state(
            s, "user_id", "ts", "event_type", states=["a", "b"], **series),
        "holt": st.holt_with_state(
            s, "user_id", "ts", "value", alpha=0.5, beta=0.5, **series),
    }
    for name, df in outs.items():
        assert df.isStreaming, name
        assert df.schema.simpleString() == _STATEFUL_SCHEMAS[name], name
        for f in df.schema.fields:
            assert f.nullable, (name, f.name)
            if isinstance(f.dataType, ArrayType):
                assert f.dataType.containsNull, (name, f.name)
