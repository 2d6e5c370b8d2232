"""Stream = batch on a prefix: a stateful stream trigger's closed
windows equal the batch operator's windows over the same rows.

Structured Streaming promises prefix consistency — a stream's output is
the batch query's output on the input seen so far. For the COUNT,
EVENT and STATE triggers that means: every window the trigger has
closed after draining the input is a window of the batch operator,
and every batch window that a later row has closed was emitted.

Input: sf0.01 ``events`` replayed as 4 files in ts order, one file per
micro-batch, so windows span batch boundaries.
"""

import os
import shutil
import tempfile
import time

import pytest
from pyspark.sql import functions as F

from tdengine_spark.catalog import Database
from tdengine_spark.operators.eventwindow import (
    assign_count_windows,
    assign_event_windows,
    assign_state_windows,
    window_agg,
)
from tdengine_spark.streaming.stream import (
    count_window_trigger,
    event_window_trigger,
    read_stream,
    state_window_trigger,
)

SRC = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def replay(spark):
    d = tempfile.mkdtemp(prefix="tds_prefix_")
    os.makedirs(f"{d}/in")
    pdf = (
        Database(root=SRC).read(spark, "events")
        .select("user_id", "ts", "event_type", "value")
        .toPandas()
        .sort_values("ts", kind="mergesort")
        .reset_index(drop=True)
    )
    # the session reads ns-precision parquet timestamps back as longs
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    n = len(pdf)
    for i in range(4):
        pdf.iloc[i * n // 4 : (i + 1) * n // 4].to_parquet(
            f"{d}/in/data_{i}.parquet", index=False
        )
        time.sleep(0.05)  # distinct mtimes → deterministic pickup order
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _drain(spark, d, build, name) -> list:
    schema = spark.read.parquet(f"{d}/in").schema
    src = read_stream(spark, f"{d}/in", schema, max_files_per_trigger=1)
    q = (
        build(src).writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", f"{d}/ckpt_{name}")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.sql(f"SELECT * FROM {name}").collect()


def _batch(spark, d):
    return spark.read.parquet(f"{d}/in").withColumn(
        "k", F.col("user_id").cast("string")
    )


def _key(r, *cols):
    return tuple(getattr(r, c) for c in cols)


def test_count_trigger_equals_batch_count_windows(spark, replay):
    got = _drain(
        spark, replay,
        lambda s: count_window_trigger(s, "ts", 10, "user_id", "value"),
        "prefix_count",
    )
    batch = window_agg(
        assign_count_windows(_batch(spark, replay), "ts", 10, partition_by=["k"]),
        "ts", [F.round(F.sum("value"), 4).alias("sum_value")], ["k"],
        min_rows=10, ordered=False,
    ).collect()
    cols = ("k", "_wstart", "_wend")
    assert len(got) > 0
    assert sorted(_key(r, *cols, "n_rows") for r in got) == sorted(
        _key(r, *cols, "_wrows") for r in batch
    )
    sums = {_key(r, *cols): r.sum_value for r in batch}
    assert all(abs(r.sum_value - sums[_key(r, *cols)]) < 1e-6 for r in got)


def test_event_trigger_equals_batch_event_windows(spark, replay):
    got = _drain(
        spark, replay,
        lambda s: event_window_trigger(s, "ts", "user_id", "value", 150.0, 50.0),
        "prefix_event",
    )
    batch = window_agg(
        assign_event_windows(
            _batch(spark, replay), "ts",
            F.col("value") > 150.0, F.col("value") < 50.0, ["k"],
        ),
        "ts", [], ["k"], ordered=False,
    ).collect()
    cols = ("k", "_wstart", "_wend")
    assert len(got) > 0
    assert sorted(_key(r, *cols, "n_rows") for r in got) == sorted(
        _key(r, *cols, "_wrows") for r in batch
    )


def test_state_trigger_equals_batch_closed_state_windows(spark, replay):
    got = _drain(
        spark, replay,
        lambda s: state_window_trigger(s, "ts", "event_type", "user_id", "value"),
        "prefix_state",
    )
    batch = window_agg(
        assign_state_windows(_batch(spark, replay), "ts", "event_type", ["k"]),
        "ts", [F.round(F.sum("value"), 4).alias("sum_value")], ["k"],
        keep_state=True, ordered=False,
    )
    # a key's last window is still open in the stream's state
    last = batch.groupBy("k").agg(F.max("_wstart").alias("_wstart"))
    closed = batch.join(last, ["k", "_wstart"], "left_anti").collect()
    cols = ("k", "_wstart", "_wend")
    assert len(got) > 0
    assert sorted(
        (*_key(r, *cols), r.state, r.n_rows) for r in got
    ) == sorted((*_key(r, *cols), r._state, r._wrows) for r in closed)
    sums = {_key(r, *cols): r.sum_value for r in closed}
    assert all(abs(r.sum_value - sums[_key(r, *cols)]) < 1e-6 for r in got)
