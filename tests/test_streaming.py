"""Structured Streaming trigger analogs, driven end-to-end with the file
source (events parquet replayed as arriving files) and availableNow."""

import os
import shutil
import tempfile
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tdengine_spark.catalog import Database
from tdengine_spark.streaming.latest import LatestTable
from tdengine_spark.streaming.stream import (
    count_window_trigger,
    interval_trigger,
    read_stream,
    session_trigger,
    write_into,
)

SRC = "/root/testdata/sf0.001/events.parquet"


@pytest.fixture()
def stream_dir(spark):
    d = tempfile.mkdtemp(prefix="tds_stream_")
    # replay the events table as N arriving files (ts order preserved
    # within files; the watermark handles cross-file disorder)
    df = Database(root=os.path.dirname(SRC)).read(spark, "events")
    df.repartition(4).write.mode("overwrite").parquet(f"{d}/in")
    yield d
    shutil.rmtree(d, ignore_errors=True)



@pytest.fixture()
def ordered_stream_dir(spark):
    """Replay events as 4 files in strict ts order (the reference's WAL
    tail is ts-ordered per vnode; cross-batch disorder is a watermark/
    IGNORE_DISORDER concern, not a state-kernel one)."""
    import time as _time

    d = tempfile.mkdtemp(prefix="tds_ostream_")
    os.makedirs(f"{d}/in")
    pdf = (
        Database(root=os.path.dirname(SRC))
        .read(spark, "events")
        .toPandas()
        .sort_values("ts")
        .reset_index(drop=True)
    )
    # pandas defaults to ns-precision parquet timestamps, which the
    # session reads back as raw longs (nanosAsLong) — write us instead
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    n = len(pdf)
    for i in range(4):
        chunk = pdf.iloc[i * n // 4 : (i + 1) * n // 4]
        chunk.to_parquet(f"{d}/in/data_{i}.parquet", index=False)
        _time.sleep(0.05)  # distinct mtimes → deterministic pickup order
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _arrival_rows(d):
    """The ordered replay's rows as the state kernels see them: each
    user's rows in ts order, ties kept in file order."""
    pdf = pd.concat(
        [pd.read_parquet(f"{d}/in/data_{i}.parquet") for i in range(4)],
        ignore_index=True,
    )
    return pdf.sort_values(["user_id", "ts"], kind="mergesort")


def _replay_count_windows(pdf, n):
    """Tumbling COUNT_WINDOW(n) per user: (k, _wstart, _wend, n_rows,
    sum_value) of every complete block of n rows."""
    want = []
    for uid, g in pdf.groupby("user_id"):
        ts, v = g["ts"].tolist(), g["value"].tolist()
        for i in range(n, len(v) + 1, n):
            want.append(
                (str(uid), ts[i - n], ts[i - 1], n, round(sum(v[i - n : i]), 4))
            )
    return sorted(want)


def _count_rows(rows):
    return sorted(
        (r.k, pd.Timestamp(r._wstart), pd.Timestamp(r._wend), r.n_rows, r.sum_value)
        for r in rows
    )


def _run_available_now(result, d, name):
    q = (
        result.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", f"{d}/ckpt_{name}")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_interval_trigger_matches_batch(spark, stream_dir):
    schema = spark.read.parquet(f"{stream_dir}/in").schema
    src = read_stream(spark, f"{stream_dir}/in", schema, max_files_per_trigger=2)
    result = interval_trigger(
        src, "ts", "1h", partition_by=["event_type"],
        watermark="1 hour",
        aggs=[F.count(F.lit(1)).alias("cnt"), F.round(F.sum("value"), 4).alias("sv")],
    )
    _run_available_now(result, stream_dir, "iv")
    got = spark.sql("SELECT * FROM iv")
    batch = (
        spark.read.parquet(f"{stream_dir}/in")
        .groupBy(F.window("ts", "1 hour").alias("_w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.sum("value"), 4).alias("sv"))
    )
    # append mode + availableNow: all windows finalize (watermark passes
    # max ts at end-of-input except the tail window)
    assert got.count() >= batch.count() - 5
    j = got.join(
        batch.select(
            F.col("_w.start").alias("_wstart"), "event_type",
            F.col("cnt").alias("cnt_b"), F.col("sv").alias("sv_b"),
        ),
        ["_wstart", "event_type"],
    )
    mism = j.where((F.col("cnt") != F.col("cnt_b")) | (F.col("sv") != F.col("sv_b")))
    assert mism.count() == 0


def test_session_trigger(spark, stream_dir):
    schema = spark.read.parquet(f"{stream_dir}/in").schema
    src = read_stream(spark, f"{stream_dir}/in", schema)
    result = session_trigger(
        src, "ts", "30m", partition_by=["user_id"], watermark="2 hours",
        aggs=[F.count(F.lit(1)).alias("n")],
    )
    _run_available_now(result, stream_dir, "sess")
    got = spark.sql("SELECT * FROM sess")
    assert got.count() > 0
    # every emitted session respects the gap: _wend - _wstart covers n rows
    assert got.where(F.col("n") < 1).count() == 0


def test_count_window_trigger(spark, ordered_stream_dir):
    d = ordered_stream_dir
    schema = spark.read.parquet(f"{d}/in").schema
    src = read_stream(spark, f"{d}/in", schema, max_files_per_trigger=1)
    result = count_window_trigger(src, "ts", 50, "user_id", "value")
    _run_available_now(result, d, "cw")
    got = _count_rows(spark.sql("SELECT * FROM cw").collect())
    assert len(got) > 0
    assert got == _replay_count_windows(_arrival_rows(d), 50)


def test_count_window_restart_at_other_parallelism(
    spark, ordered_stream_dir, monkeypatch
):
    """A checkpointed COUNT_WINDOW query restarted under another
    parallelism keeps every key's open window: what both runs wrote
    equals the replay of all four files."""
    from pyspark import SparkContext

    d = ordered_stream_dir
    arrive, out = f"{d}/arrive", f"{d}/out"
    os.makedirs(arrive)
    schema = spark.read.parquet(f"{d}/in").schema

    def drain(files):
        for i in files:
            shutil.copy(f"{d}/in/data_{i}.parquet", arrive)
            time.sleep(0.05)  # distinct mtimes → deterministic pickup order
        src = read_stream(spark, arrive, schema, max_files_per_trigger=1)
        q = write_into(
            count_window_trigger(src, "ts", 5, "user_id", "value"),
            out, f"{d}/ckpt", trigger={"availableNow": True},
        )
        q.awaitTermination(120)
        assert not q.isActive and q.exception() is None

    drain([0, 1])
    monkeypatch.setattr(
        SparkContext, "defaultParallelism", property(lambda self: 3)
    )
    drain([2, 3])
    got = _count_rows(spark.read.parquet(out).collect())
    assert got == _replay_count_windows(_arrival_rows(d), 5)


def test_latest_table(spark, stream_dir):
    lt = LatestTable(f"{stream_dir}/latest", ["user_id"], "ts")
    full = spark.read.parquet(f"{stream_dir}/in").select(
        "user_id", "ts", "event_type", "value"
    )
    # simulate two micro-batches split by time
    cut = "2024-01-15"
    lt.merge_batch(full.where(F.col("ts") < cut))
    lt.merge_batch(full.where(F.col("ts") >= cut))
    got = lt.read(spark)
    from tdengine_spark.functions.selection import last_row

    expect = last_row(full, "ts", ["user_id"])
    assert got.count() == expect.count()
    j = got.alias("g").join(expect.alias("e"), "user_id").where(
        (F.col("g.ts") != F.col("e.ts")) | (F.col("g.value") != F.col("e.value"))
    )
    assert j.count() == 0


def test_state_window_trigger_matches_batch(spark, ordered_stream_dir):
    from tdengine_spark.streaming.stream import state_window_trigger
    from tdengine_spark.operators.eventwindow import assign_state_windows, window_agg

    stream_dir = ordered_stream_dir
    schema = spark.read.parquet(f"{stream_dir}/in").schema
    src = read_stream(spark, f"{stream_dir}/in", schema, max_files_per_trigger=1)
    result = state_window_trigger(src, "ts", "event_type", "user_id", "value")
    _run_available_now(result, stream_dir, "sw")
    got = spark.sql("SELECT * FROM sw")
    # batch equivalent: all CLOSED state windows (stream holds the last
    # open window per key in state)
    batch = window_agg(
        assign_state_windows(
            spark.read.parquet(f"{stream_dir}/in"), "ts", "event_type", ["user_id"]
        ),
        "ts",
        [F.count(F.lit(1)).alias("n2")],
        ["user_id"],
        keep_state=True,
    )
    n_users = spark.read.parquet(f"{stream_dir}/in").select("user_id").distinct().count()
    assert got.count() == batch.count() - n_users  # one open window per key
    j = got.join(
        batch.select(
            F.col("user_id").cast("string").alias("k"),
            F.col("_state").alias("state"), "_wstart", "_wend",
            F.col("_wrows").alias("n_b"),
        ),
        ["k", "state", "_wstart", "_wend"],
    )
    assert j.count() == got.count()
    assert j.where(F.col("n_rows") != F.col("n_b")).count() == 0


def test_event_window_trigger(spark, ordered_stream_dir):
    from tdengine_spark.streaming.stream import event_window_trigger

    stream_dir = ordered_stream_dir
    schema = spark.read.parquet(f"{stream_dir}/in").schema
    src = read_stream(spark, f"{stream_dir}/in", schema, max_files_per_trigger=1)
    result = event_window_trigger(src, "ts", "user_id", "value", 180.0, 20.0)
    _run_available_now(result, stream_dir, "ew")
    got = sorted(
        (r.k, pd.Timestamp(r._wstart), pd.Timestamp(r._wend), r.n_rows)
        for r in spark.sql("SELECT * FROM ew").collect()
    )
    # replay: a window opens at a row with value > 180 and closes,
    # inclusive, at the first row from there with value < 20
    want = []
    for uid, g in _arrival_rows(stream_dir).groupby("user_id"):
        wstart = None
        for t, v in zip(g["ts"], g["value"]):
            if wstart is None:
                if not v > 180.0:
                    continue
                wstart, n = t, 0
            n += 1
            if v < 20.0:
                want.append((str(uid), wstart, t, n))
                wstart = None
    assert len(got) > 0
    assert got == sorted(want)


def test_recalc_on_late_rows(spark, stream_dir):
    """Late rows update the affected bucket instead of being dropped."""
    import tempfile

    from tdengine_spark.streaming.recalc import RecalcAggTable

    d = tempfile.mkdtemp(prefix="tds_recalc_")
    rt = RecalcAggTable(
        f"{d}/raw", f"{d}/agg", "1h", "ts", keys=["event_type"], metrics=["value"]
    )
    full = (
        spark.read.parquet(f"{stream_dir}/in")
        .select("ts", "event_type", "value")
        .orderBy("ts")
    )
    # batch 1: everything except one hour in the middle of the range
    hole_lo, hole_hi = "2024-01-10 05:00:00", "2024-01-10 06:00:00"
    b1 = full.where((F.col("ts") < hole_lo) | (F.col("ts") >= hole_hi))
    r1 = rt.process_batch(b1)
    assert r1["late"] == 0
    # batch 2: the late hour arrives after the watermark passed it
    b2 = full.where((F.col("ts") >= hole_lo) & (F.col("ts") < hole_hi))
    r2 = rt.process_batch(b2)
    assert r2["late"] == r2["touched"] > 0  # all touched buckets are late
    # final aggregate equals a clean batch aggregate over ALL rows
    got = rt.read(spark)
    from tdengine_spark.operators.timewindow import window_start

    expect = (
        full.groupBy(window_start("ts", "1h").alias("_wstart"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
    )
    assert got.count() == expect.count()
    j = got.alias("g").join(expect.alias("e"), ["_wstart", "event_type"]).where(
        (F.col("g.n_rows") != F.col("e.n_rows"))
        | (F.col("g.sum_value") != F.col("e.sum_value"))
    )
    assert j.count() == 0
    import shutil

    shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------------------
# CREATE STREAM dialect (sql.y:1623-1664; reference 18-StreamProcessing)
# ---------------------------------------------------------------------------


def test_create_stream_parse():
    from tdengine_spark.streaming.create_stream import parse_create_stream

    d = parse_create_stream(
        "CREATE STREAM s1 INTERVAL(1h) SLIDING(30m) FROM events "
        "PARTITION BY event_type WATERMARK(10s) INTO out_tbl "
        "AS SELECT _wstart, event_type, count(*) AS cnt, "
        "avg(value) AS avg_v FROM events"
    )
    assert d.name == "s1" and d.trigger == "interval"
    assert d.trigger_args["width"] == "1h"
    assert d.trigger_args["sliding"] == "30m"
    assert d.partition_by == ["event_type"]
    assert d.watermark == "10s" and d.into == "out_tbl"

    d2 = parse_create_stream(
        "CREATE STREAM IF NOT EXISTS s2 SESSION(ts, 30m) FROM events "
        "PARTITION BY user_id INTO sess_out"
    )
    assert d2.trigger == "session" and d2.trigger_args["gap"] == "30m"

    d3 = parse_create_stream(
        "CREATE STREAM s3 COUNT_WINDOW(100) FROM events "
        "PARTITION BY user_id INTO cw_out"
    )
    assert d3.trigger == "count_window" and d3.trigger_args["count"] == 100

    d4 = parse_create_stream(
        "CREATE STREAM s4 PERIOD(10s) FROM events INTO raw_out"
    )
    assert d4.trigger == "period"
    assert d4.sink_trigger() == {"processingTime": "10 seconds"}

    import pytest as _pytest

    with _pytest.raises(ValueError):
        parse_create_stream("CREATE STREAM bad FOO(1) FROM x INTO y")


def test_create_stream_interval_equal_to_batch(spark, stream_dir):
    """CREATE STREAM INTERVAL(...) runs and matches the batch answer."""
    from tdengine_spark.streaming.create_stream import parse_create_stream
    from tdengine_spark.streaming.stream import read_stream

    d = parse_create_stream(
        "CREATE STREAM cs_int INTERVAL(1d) FROM events "
        "PARTITION BY event_type INTO out1 "
        "AS SELECT _wstart, event_type, count(*) AS cnt, "
        "round(sum(value), 4) AS sum_v FROM events"
    )
    schema = spark.read.parquet(f"{stream_dir}/in").schema
    src = read_stream(spark, f"{stream_dir}/in", schema, max_files_per_trigger=2)
    q = _run_available_now(d.apply(src), stream_dir, "cs_int")
    got = {
        (str(r._wstart), r.event_type): (r.cnt, r.sum_v)
        for r in spark.sql("SELECT * FROM cs_int").collect()
    }
    batch = (
        spark.read.parquet(f"{stream_dir}/in")
        .groupBy(F.window("ts", "1 day").alias("_w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.sum("value"), 4).alias("sum_v"))
        .select(F.col("_w.start").alias("_wstart"), "event_type", "cnt", "sum_v")
    )
    want = {
        (str(r._wstart), r.event_type): (r.cnt, r.sum_v)
        for r in batch.collect()
    }
    # append mode: the tail day's windows stay open at end-of-input (the
    # watermark never passes them) — every FINALIZED window must match
    last_day = max(k[0] for k in want)
    want_final = {k: v for k, v in want.items() if k[0] != last_day}
    assert set(got) >= set(want_final)
    assert all(got[k] == v for k, v in want_final.items())
    assert all(got[k] == want[k] for k in got)  # nothing emitted is wrong


def test_create_stream_session_equal_to_batch(spark, stream_dir):
    from tdengine_spark.streaming.create_stream import parse_create_stream
    from tdengine_spark.streaming.stream import read_stream

    d = parse_create_stream(
        "CREATE STREAM cs_sess SESSION(ts, 30m) FROM events "
        "PARTITION BY user_id INTO out2 "
        "AS SELECT _wstart, user_id, count(*) AS cnt FROM events"
    )
    schema = spark.read.parquet(f"{stream_dir}/in").schema
    src = read_stream(spark, f"{stream_dir}/in", schema, max_files_per_trigger=2)
    q = _run_available_now(d.apply(src), stream_dir, "cs_sess")
    got = {
        (str(r._wstart), r.user_id): r.cnt
        for r in spark.sql("SELECT * FROM cs_sess").collect()
    }
    batch = (
        spark.read.parquet(f"{stream_dir}/in")
        .groupBy(F.session_window("ts", "30 minutes").alias("_w"), "user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("_w.start").alias("_wstart"), "user_id", "cnt")
    )
    want = {(str(r._wstart), r.user_id): r.cnt for r in batch.collect()}
    # append mode: sessions still open at end-of-input aren't emitted —
    # everything emitted must match batch, and most sessions finalize
    assert len(got) >= len(want) * 0.8
    assert all(want.get(k) == v for k, v in got.items())


def test_create_stream_count_window_runs(spark, ordered_stream_dir):
    from tdengine_spark.streaming.create_stream import parse_create_stream
    from tdengine_spark.streaming.stream import read_stream

    d = parse_create_stream(
        "CREATE STREAM cs_cw COUNT_WINDOW(50) FROM events "
        "PARTITION BY user_id INTO out3"
    )
    schema = spark.read.parquet(f"{ordered_stream_dir}/in").schema
    src = read_stream(
        spark, f"{ordered_stream_dir}/in", schema, max_files_per_trigger=1
    )
    q = _run_available_now(d.apply(src), ordered_stream_dir, "cs_cw")
    rows = spark.sql("SELECT * FROM cs_cw").collect()
    assert all(r.n_rows == 50 for r in rows)
    # every emitted window is a complete block of 50 rows of one user
    total = spark.read.parquet(f"{ordered_stream_dir}/in").count()
    assert 0 < len(rows) <= total // 50


def test_stream_options_parse_and_modes():
    from tdengine_spark.streaming.create_stream import parse_create_stream

    d = parse_create_stream(
        "CREATE STREAM s5 INTERVAL(1h) FROM events PARTITION BY event_type "
        "STREAM_OPTIONS(MAX_DELAY(5s) | IGNORE_NODATA_TRIGGER) INTO out5 "
        "AS SELECT _wstart, event_type, count(*) AS cnt FROM events"
    )
    assert d.max_delay() == "5s"
    assert d.has_option("IGNORE_NODATA_TRIGGER")
    assert not d.has_option("FORCE_OUTPUT")
    assert d.output_mode() == "update"
    assert d.sink_trigger() == {"processingTime": "5 seconds"}

    d2 = parse_create_stream(
        "CREATE STREAM s6 PERIOD(30s) FROM events "
        "STREAM_OPTIONS(FORCE_OUTPUT) INTO out6"
    )
    assert d2.has_option("FORCE_OUTPUT") and d2.output_mode() == "append"


def test_batch_sink_hook_gates(spark):
    from tdengine_spark.streaming.create_stream import (
        batch_sink_hook,
        parse_create_stream,
    )

    calls = []

    def write_batch(df, batch_id, force_output=False):
        calls.append((batch_id, df.count(), force_output))

    d_ignore = parse_create_stream(
        "CREATE STREAM g1 PERIOD(1s) FROM events "
        "STREAM_OPTIONS(IGNORE_NODATA_TRIGGER) INTO o1"
    )
    hook = batch_sink_hook(d_ignore, write_batch)
    empty = spark.createDataFrame([], "a long")
    full = spark.createDataFrame([(1,)], "a long")
    hook(empty, 0)   # skipped
    hook(full, 1)    # written
    assert calls == [(1, 1, False)]

    calls.clear()
    d_force = parse_create_stream(
        "CREATE STREAM g2 PERIOD(1s) FROM events "
        "STREAM_OPTIONS(FORCE_OUTPUT) INTO o2"
    )
    hook2 = batch_sink_hook(d_force, write_batch)
    hook2(empty, 2)  # NOT skipped: force_output flag rides through
    assert calls == [(2, 0, True)]


def test_max_delay_emits_unclosed_windows(spark, stream_dir):
    """MAX_DELAY → update mode: the tail window (never finalized by the
    watermark) still appears in the sink — the early-emit semantics."""
    from tdengine_spark.streaming.create_stream import parse_create_stream
    from tdengine_spark.streaming.stream import read_stream

    d = parse_create_stream(
        "CREATE STREAM cs_md INTERVAL(1d) FROM events "
        "PARTITION BY event_type STREAM_OPTIONS(MAX_DELAY(1s)) INTO outm "
        "AS SELECT _wstart, event_type, count(*) AS cnt FROM events"
    )
    schema = spark.read.parquet(f"{stream_dir}/in").schema
    src = read_stream(spark, f"{stream_dir}/in", schema, max_files_per_trigger=2)
    q = (
        d.apply(src)
        .writeStream.outputMode(d.output_mode())
        .format("memory")
        .queryName("cs_md")
        .option("checkpointLocation", f"{stream_dir}/ckpt_md")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT _wstart, event_type, max(cnt) AS cnt FROM cs_md "
        "GROUP BY _wstart, event_type"
    ).collect()
    batch = (
        spark.read.parquet(f"{stream_dir}/in")
        .groupBy(F.window("ts", "1 day").alias("_w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("_w.start").alias("_wstart"), "event_type", "cnt")
    )
    want = {(str(r._wstart), r.event_type): r.cnt for r in batch.collect()}
    gotd = {(str(r._wstart), r.event_type): r.cnt for r in got}
    # update mode: EVERY window appears (including the tail day), and the
    # final update per window equals the batch answer
    assert gotd == want


def test_sliding_count_window_trigger(spark, ordered_stream_dir):
    """COUNT_WINDOW(40, 20): windows of 40 rows advancing every 20 rows,
    equal to a pandas replica over the per-user ts-ordered series."""
    from tdengine_spark.streaming.stream import count_window_trigger

    d = ordered_stream_dir
    schema = spark.read.parquet(f"{d}/in").schema
    src = read_stream(spark, f"{d}/in", schema, max_files_per_trigger=1)
    result = count_window_trigger(src, "ts", 40, "user_id", "value", sliding=20)
    _run_available_now(result, d, "scw")
    got = {
        (r.k, str(r._wstart), str(r._wend)): (r.n_rows, r.sum_value)
        for r in spark.sql("SELECT * FROM scw").collect()
    }
    pdf = (
        spark.read.parquet(f"{d}/in")
        .select("user_id", "ts", "value")
        .toPandas()
        .sort_values(["user_id", "ts"], kind="mergesort")
    )
    want = {}
    for uid, g in pdf.groupby("user_id"):
        ts = g["ts"].tolist()
        v = g["value"].tolist()
        for i in range(1, len(v) + 1):
            if i % 20 == 0 and i >= 40:
                s_i = i - 40
                want[(str(uid), str(ts[s_i]), str(ts[i - 1]))] = (
                    40, round(sum(v[s_i:i]), 4),
                )
    assert got == want
    assert len(got) > 0
