"""CREATE STREAM analogs — each reference trigger type as a Structured
Streaming wrapper.

Reference: ``CREATE STREAM s trigger_type(...) FROM src PARTITION BY k
[WATERMARK(d)] INTO out AS SELECT ...`` (grammar sql.y:1623-1800; engine
source/libs/new-stream/). Mapping per SURVEY §2.10:

  INTERVAL(w) SLIDING(s)  → groupBy(window(ts,w,s), keys) + watermark
  SESSION(ts, gap)        → session_window(ts, gap)
  COUNT_WINDOW(n)         → _bucketed_apply (row-count state)
  STATE_WINDOW(col)       → _bucketed_apply (run-tracking state)
  EVENT_WINDOW(s, e)      → _bucketed_apply (open-window state)
  PERIOD(d)               → processingTime trigger
  WATERMARK(d)            → withWatermark (late rows dropped at finalize)
  FILL_HISTORY            → one batch backfill over the same dir, then
                            the stream tails new files (file source
                            reads existing files first by default)
  INTO out_table          → writeStream.start(path) / foreachBatch

Scale notes: windowed aggs with watermarks keep bounded state in the
state store. The three per-key stateful triggers (count/state/event
windows) run through one harness, ``_bucketed_apply``: it shuffles once
on a hash bucket of the key, ``xxhash64(k) % 16``, and each bucket keeps
O(open windows) state per key. Each trigger supplies only a per-key
kernel that maps (key state, the key's ts-sorted rows) to (the columns
of the windows it closes, new key state).

The bucket count is a fixed 16, not a function of the cluster, because
a key's bucket is part of the checkpointed state: a count that changed
on restart would send keys to buckets that do not hold their state and
silently reset their windows. Checkpoints written before the count was
fixed, at a parallelism other than 4 (16 buckets), must be restarted
fresh. Checkpointing is Spark-native (``checkpointLocation``).
"""

from __future__ import annotations

import pickle
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from tdengine_spark.durations import parse_duration

#: hash buckets of keys that hold the stateful triggers' state. Fixed,
#: so a checkpoint restarts under any parallelism (see the module
#: docstring); 16 was the fastest of 16/128/512 at 1,500 keys on 4 cores
_STATE_BUCKETS = 16

_COUNT_SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType()),
        T.StructField("_wstart", T.TimestampType()),
        T.StructField("_wend", T.TimestampType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
    ]
)


def read_stream(
    spark,
    path: str,
    schema: "T.StructType | str",
    max_files_per_trigger: int = 10,
) -> DataFrame:
    """File-source stream over a Parquet directory (the analog of the
    reference's WAL-tailing StreamScan; new files = new data)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def interval_trigger(
    src: DataFrame,
    ts_col: str,
    width: str,
    sliding: "str | None" = None,
    partition_by: "list[str] | None" = None,
    watermark: str = "0 seconds",
    aggs: "list | None" = None,
) -> DataFrame:
    """INTERVAL(w) [SLIDING(s)] trigger with WATERMARK: emits finalized
    windows in append mode once the watermark passes _wend."""
    keys = list(partition_by or [])
    aggs = aggs or [F.count(F.lit(1)).alias("cnt")]
    w = parse_duration(width)
    s = parse_duration(sliding) if sliding else w
    win = F.window(F.col(ts_col), w.interval_string(), s.interval_string())
    return (
        src.withWatermark(ts_col, watermark)
        .groupBy(win.alias("_w"), *keys)
        .agg(*aggs)
        # "*" already expands the group keys — re-listing them would
        # produce duplicate column names that break file sinks
        .select(F.col("_w.start").alias("_wstart"), F.col("_w.end").alias("_wend"), "*")
        .drop("_w")
    )


def session_trigger(
    src: DataFrame,
    ts_col: str,
    gap: str,
    partition_by: "list[str] | None" = None,
    watermark: str = "0 seconds",
    aggs: "list | None" = None,
) -> DataFrame:
    """SESSION(ts, gap) trigger → native session_window."""
    keys = list(partition_by or [])
    aggs = aggs or [F.count(F.lit(1)).alias("cnt")]
    gap_str = parse_duration(gap).interval_string()
    return (
        src.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap_str).alias("_w"), *keys)
        .agg(*aggs)
        # "*" already expands the group keys (see interval_trigger)
        .select(F.col("_w.start").alias("_wstart"), F.col("_w.end").alias("_wend"), "*")
        .drop("_w")
    )


def count_window_trigger(
    src: DataFrame,
    ts_col: str,
    count: int,
    key_col: str,
    value_col: str,
    sliding: "int | None" = None,
) -> DataFrame:
    """COUNT_WINDOW(n[, sliding]) trigger: emit one row per n rows per
    key; with ``sliding=s`` windows advance every s rows (overlapping
    when s < n).

    Tumbling (default): a window closes each time a key's row counter
    crosses n — the reference's stream count-window semantics
    (streamTriggerTask.c count trigger). The per-key state is
    (cnt, sum, wstart), and one cumsum over the key's batch segment
    finds every window it closes. Sliding: the state carries the last
    n−1 (ts, value) pairs per key — bounded O(n) — and a window closes
    at every s-th arriving row once n rows are in scope.

    Both run in ``_bucketed_apply``, whose state group is one of a fixed
    16 hash buckets of keys, not a single key (r15, guide §4.5): per
    state group, every micro-batch pays a Python call + an Arrow state
    (de)serialization + a state-store op, so grouping per key made a
    high-cardinality stream pay that fixed cost |keys| times per batch
    (measured at sf0.1: 1500 keys 5.7k rows/s vs 5 keys 9.7k rows/s on
    identical data). The count is fixed, not derived from the cluster's
    parallelism, so that a checkpointed query restarted under another
    parallelism keeps each key's window; checkpoints written before it
    was fixed at a parallelism other than 4 must be restarted fresh.
    Each variant is a per-key kernel returning the closed windows as
    columns (``_wstart``/``_wend`` int64 µs, ``n_rows``,
    ``sum_value``) plus the key's new state; see ``_bucketed_apply``.
    """
    sel = src.select(F.col(key_col).cast("string").alias("k"), ts_col, value_col)
    if sliding and sliding != count:
        return _bucketed_apply(
            sel, ts_col, [value_col], _COUNT_SCHEMA, ([], [], 0),
            _sliding_count_kernel(count, sliding, value_col),
        )

    def kernel(key_state, ts_us, arrs):
        cnt, total, wstart = key_state
        v = arrs[value_col].astype(float)
        n = len(v)
        # boundary i closes a window when the carried counter + i + 1
        # hits a multiple of `count` — one cumsum
        bounds = np.nonzero((np.arange(1, n + 1) + cnt) % count == 0)[0]
        if not len(bounds):
            if wstart is None:
                wstart = int(ts_us[0])
            return None, (cnt + n, total + float(v.sum()), wstart)
        csum = np.cumsum(v) + total
        sums = csum[bounds] - np.concatenate(([0.0], csum[bounds[:-1]]))
        starts = np.empty(len(bounds), dtype=np.int64)
        starts[0] = wstart if wstart is not None else ts_us[0]
        starts[1:] = ts_us[bounds[:-1] + 1]
        rem = bounds[-1] + 1
        cnt = n - rem
        cols = {
            "_wstart": starts,
            "_wend": ts_us[bounds],
            "n_rows": np.full(len(bounds), count, dtype=np.int64),
            # python round, not np.round: bit-parity with the pre-r15
            # per-key path (np.round's scale-and-round can differ by
            # 1 ulp on halfway values)
            "sum_value": [round(float(s), 4) for s in sums],
        }
        return cols, (
            cnt, float(v[rem:].sum()), int(ts_us[rem]) if cnt else None
        )

    return _bucketed_apply(
        sel, ts_col, [value_col], _COUNT_SCHEMA, (0, 0.0, None), kernel
    )


def _sliding_count_kernel(count: int, sliding: int, value_col: str):
    """Sliding count windows: close a window of the last ``count`` rows
    at every ``sliding``-th row. State = the last count−1 (ts, value)
    pairs + a row counter — bounded, no full history."""

    def kernel(key_state, ts_us, arrs):
        ts_buf, v_buf, seen = key_state
        ts_hist = np.asarray(ts_buf, dtype=np.int64)
        v_hist = np.asarray(v_buf, dtype=np.float64)
        ts_all = np.concatenate([ts_hist, ts_us])
        v_all = np.concatenate([v_hist, arrs[value_col].astype(float)])
        # global row index of each arriving row (1-based): a window
        # [i-count+1 .. i] closes when i % sliding == 0 and i >= count
        idx = seen + np.arange(1, len(ts_us) + 1)
        closes = idx[(idx % sliding == 0) & (idx >= count)]
        # clamp: a negative slice start would wrap around and
        # silently DROP rows when fewer than count-1 are buffered
        start = max(len(ts_all) - (count - 1), 0)
        new_state = (
            ts_all[start:].tolist(), v_all[start:].tolist(), seen + len(ts_us)
        )
        if not len(closes):
            return None, new_state
        # position of each closing row within ts_all
        e = closes - seen + len(ts_hist) - 1
        s_i = e - count + 1
        csum = np.concatenate(([0.0], np.cumsum(v_all)))
        cols = {
            "_wstart": ts_all[s_i],
            "_wend": ts_all[e],
            "n_rows": np.full(len(e), count, dtype=np.int64),
            "sum_value": [round(float(x), 4) for x in csum[e + 1] - csum[s_i]],
        }
        return cols, new_state

    return kernel


def period_trigger_options(period: str) -> dict:
    """PERIOD(d) → wall-clock processing-time trigger kwargs for
    ``writeStream.trigger(**...)``."""
    d = parse_duration(period)
    return {"processingTime": f"{int(d.seconds)} seconds"}


def write_into(
    result: DataFrame,
    out_path: str,
    checkpoint: str,
    output_mode: str = "append",
    trigger: "dict | None" = None,
    partition_cols: "list[str] | None" = None,
):
    """INTO out-table: continuous Parquet sink with checkpointing; the
    partition columns play the reference's SUBTABLE role (one directory
    per key)."""
    w = (
        result.writeStream.outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .format("parquet")
        .option("path", out_path)
    )
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    if trigger:
        w = w.trigger(**trigger)
    return w.start()


def _bucketed_apply(
    selected: DataFrame,
    ts_col: str,
    data_cols: "list[str]",
    out_schema: T.StructType,
    state0: tuple,
    kernel,
) -> DataFrame:
    """The stateful triggers' one state harness (r15, guide §4.5): the
    state group is one of ``_STATE_BUCKETS`` hash buckets of keys, so a
    micro-batch pays the Python call + Arrow state round-trip +
    state-store op per BUCKET, not per key (per-key grouping made
    high-cardinality streams pay that fixed cost |keys| times per
    batch — see count_window_trigger).

    ``selected`` must carry a string key column ``k`` plus ``ts_col``
    and ``data_cols``. Each bucket's state is a pickled
    {key: per-key-state-tuple} dict. ``kernel(state, ts_us, arrs)``
    processes one key's ts-sorted batch segment (``ts_us`` int64 µs,
    ``arrs`` the ``data_cols`` arrays) and returns
    ``(columns, new_state)``, or ``(None, new_state)`` when no window
    closes. ``columns`` maps every ``out_schema`` column but ``k`` to an
    array, ``_wstart``/``_wend`` as int64 µs; the harness concatenates
    them once per bucket, repeats ``k`` and converts the timestamps."""
    state_schema = T.StructType([T.StructField("blob", T.BinaryType())])
    out_cols = [f.name for f in out_schema if f.name != "k"]

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        st: dict = (
            pickle.loads(bytes(state.get[0])) if state.exists else {}
        )
        keys: list = []
        parts: list[dict] = []
        for pdf in pdfs:
            if not len(pdf):
                continue
            # stable (k, ts) sort: each key's rows form one contiguous
            # ts-ordered segment — the kernel body is the pre-r15
            # per-key-group body unchanged
            pdf = pdf.sort_values(["k", ts_col], kind="stable")
            ks = pdf["k"].to_numpy()
            ts_us = pdf[ts_col].astype("int64").to_numpy() // 1000
            arrs = {c: pdf[c].to_numpy() for c in data_cols}
            seg = np.concatenate(
                ([0], np.nonzero(ks[1:] != ks[:-1])[0] + 1, [len(ks)])
            )
            for s0, e0 in zip(seg[:-1], seg[1:]):
                k = ks[s0]
                cols, st[k] = kernel(
                    st.get(k, state0),
                    ts_us[s0:e0],
                    {c: a[s0:e0] for c, a in arrs.items()},
                )
                if cols is not None:
                    keys.append(k)
                    parts.append(cols)
        state.update((pickle.dumps(st, protocol=4),))
        if not parts:
            yield pd.DataFrame(columns=["k", *out_cols])
            return
        out = {c: np.concatenate([p[c] for p in parts]) for c in out_cols}
        for c in ("_wstart", "_wend"):
            out[c] = pd.to_datetime(out[c] * 1000)
        sizes = [len(p["_wend"]) for p in parts]
        k_col = np.repeat(np.array(keys, dtype=object), sizes)
        yield pd.DataFrame({"k": k_col, **out})

    return (
        selected.withColumn(
            "_kb", F.pmod(F.xxhash64(F.col("k")), F.lit(_STATE_BUCKETS))
        )
        .groupBy("_kb")
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )
    )


def state_window_trigger(
    src: DataFrame,
    ts_col: str,
    state_col: str,
    key_col: str,
    value_col: str,
) -> DataFrame:
    """STATE_WINDOW(col) stream trigger: emit a window each time the
    state value changes (reference stream state trigger,
    streamTriggerTask.c). Keeps (state, wstart, last_ts, cnt, sum) per
    key — bucketed per ``_bucketed_apply`` — and a state flip closes
    and emits the previous window."""
    out_schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("state", T.StringType()),
            T.StructField("_wstart", T.TimestampType()),
            T.StructField("_wend", T.TimestampType()),
            T.StructField("n_rows", T.LongType()),
            T.StructField("sum_value", T.DoubleType()),
        ]
    )

    def kernel(key_state, ts_us, arrs):
        cur, wstart, wend, cnt, total = key_state
        v = arrs[value_col].astype(float)
        st = arrs[state_col].astype(str)
        n = len(v)
        closed = []
        # run starts: state differs from the previous row (numpy
        # compare — the only python loop left is over runs, whose
        # number is bounded by state flips, not rows)
        is_start = np.empty(n, dtype=bool)
        is_start[0] = cur is None or st[0] != cur
        is_start[1:] = st[1:] != st[:-1]
        run_starts = np.nonzero(is_start)[0]
        run_ends = np.append(run_starts[1:] - 1, n - 1)
        csum = np.cumsum(v)
        # batch head continuing the carried run (same state value)
        first = int(run_starts[0]) if len(run_starts) else n
        if first > 0:
            cnt += first
            total += float(csum[first - 1])
            wend = int(ts_us[first - 1])
        for s_i, e_i in zip(run_starts, run_ends):
            if cur is not None:  # a flip closes the carried window
                closed.append((cur, wstart, wend, cnt, round(total, 4)))
            cur = str(st[s_i])
            wstart = int(ts_us[s_i])
            wend = int(ts_us[e_i])
            cnt = int(e_i - s_i + 1)
            total = float(csum[e_i] - (csum[s_i - 1] if s_i else 0.0))
        new_state = (cur, wstart, wend, cnt, total)
        if not closed:
            return None, new_state
        names = ("state", "_wstart", "_wend", "n_rows", "sum_value")
        return dict(zip(names, map(np.array, zip(*closed)))), new_state

    sel = src.select(
        F.col(key_col).cast("string").alias("k"),
        ts_col,
        F.col(state_col).cast("string").alias(state_col)
        if state_col != "k"
        else F.col(state_col),
        value_col,
    )
    return _bucketed_apply(
        sel,
        ts_col,
        [state_col, value_col],
        out_schema,
        (None, None, None, 0, 0.0),
        kernel,
    )


def event_window_trigger(
    src: DataFrame,
    ts_col: str,
    key_col: str,
    value_col: str,
    start_threshold: float,
    end_threshold: float,
) -> DataFrame:
    """EVENT_WINDOW START WITH value > start_t END WITH value < end_t
    stream trigger: window opens at a start-condition row, closes
    (inclusive) at the first end-condition row."""
    out_schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("_wstart", T.TimestampType()),
            T.StructField("_wend", T.TimestampType()),
            T.StructField("n_rows", T.LongType()),
        ]
    )

    def kernel(key_state, ts_us, arrs):
        is_open, wstart, cnt = key_state
        v = arrs[value_col].astype(float)
        n = len(v)
        closed = []  # (wstart, end row, n_rows) per emitted window
        starts = np.nonzero(v > start_threshold)[0]
        ends = np.nonzero(v < end_threshold)[0]
        pos = 0
        if is_open:  # carried window: close at first end-row, if any
            if len(ends):
                e_i = int(ends[0])
                closed.append((wstart, e_i, cnt + e_i + 1))
                is_open, wstart, cnt = False, None, 0
                pos = e_i + 1
            else:
                cnt += n
                pos = n
        # loop is over emitted windows (searchsorted jumps), not rows
        while pos < n:
            k_i = np.searchsorted(starts, pos)
            if k_i >= len(starts):
                break
            s_i = int(starts[k_i])
            j = np.searchsorted(ends, s_i)
            if j >= len(ends):
                is_open, wstart, cnt = True, int(ts_us[s_i]), n - s_i
                break
            e_i = int(ends[j])
            closed.append((ts_us[s_i], e_i, e_i - s_i + 1))
            pos = e_i + 1
        if not closed:
            return None, (is_open, wstart, cnt)
        ws, e_rows, rows = (np.array(c, dtype=np.int64) for c in zip(*closed))
        cols = {"_wstart": ws, "_wend": ts_us[e_rows], "n_rows": rows}
        return cols, (is_open, wstart, cnt)

    sel = src.select(
        F.col(key_col).cast("string").alias("k"), ts_col, value_col
    )
    return _bucketed_apply(
        sel, ts_col, [value_col], out_schema, (False, None, 0), kernel
    )
