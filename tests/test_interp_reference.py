"""interp on seeded random frames against a per-group Python loop.

The loop is written from ``interp()``'s stated rules, not from its
kernels: per group and value column, prev is the last usable sample at
or before the instant and next the first one strictly after it
(``ignore_null`` decides whether a NULL-valued sample is usable); an
exact hit returns the sample unfilled; ``tolerance`` bounds the fill
distance and an out-of-tolerance instant takes the column default; each
mode has its own row-drop rule. A group exists when it has a row.

The cases cover both kernels — a fixed ``7s`` EVERY (bucketed) and a
calendar ``1n`` EVERY (raw-sample union) — with 0 or 1 partition key,
two value columns (double and int) holding NULLs, and RANGEs before,
inside and after the data.
"""

import datetime as dt
import math
import random

import pytest
from pyspark.sql import functions as F

from tdengine_spark.operators.interp import INTERP_MODES, interp

N_CASES = 60
BASE = dt.datetime(2024, 1, 1)
EPOCH = dt.datetime(1970, 1, 1)
VALS = [("x", "x"), ("y", "y")]
CTYPES = ("double", "int")


def _us(t: dt.datetime) -> int:
    return (t - EPOCH) // dt.timedelta(microseconds=1)


def _add_months(t: dt.datetime, n: int) -> dt.datetime:
    # bounds are first-of-month, so no end-of-month clamping arises
    y, m = divmod(t.month - 1 + n, 12)
    return t.replace(year=t.year + y, month=m + 1)


def _case(seed: int) -> dict:
    rnd = random.Random(seed)
    calendar = seed % 2 == 1  # alternate the two kernels
    keyed = rnd.random() < 0.6
    groups = rnd.sample(["a", "b", "c"], rnd.randint(1, 3)) if keyed else [None]
    if calendar:
        span, unit = 200 * 86400, dt.timedelta(seconds=1)
        lo = _add_months(dt.datetime(2023, 11, 1), rnd.randint(0, 9))
        hi = _add_months(lo, rnd.randint(-1, 4)) + dt.timedelta(
            days=rnd.randint(0, 27)
        )
        every = "1n"
        tolerance = rnd.choice([None, None, "20d", "45d"])
    else:
        span, unit = 90, dt.timedelta(seconds=1)
        lo = BASE + dt.timedelta(seconds=rnd.randint(-40, 100))
        hi = lo + dt.timedelta(seconds=rnd.randint(-5, 60))
        every = "7s"
        tolerance = rnd.choice([None, None, "5s", "12s"])
    c = dict(lo=lo, hi=hi, every=every)
    rows = []
    for g in groups:
        stamps = set()
        for o in rnd.sample(range(span), rnd.randint(0, 12)):
            ts = BASE + o * unit
            if rnd.random() < 0.3:  # some samples off the second grid
                ts += dt.timedelta(microseconds=500_000)
            stamps.add(ts)
        # exact hits: some samples sit on an instant
        stamps.update(t for t in _instants(c) if rnd.random() < 0.3)
        for ts in sorted(stamps):
            x = None if rnd.random() < 0.25 else round(rnd.uniform(-50, 50), 3)
            y = None if rnd.random() < 0.25 else rnd.randint(-100, 100)
            rows.append((g, ts, x, y))
    mode = INTERP_MODES[seed % len(INTERP_MODES)]
    return dict(
        c, keyed=keyed, rows=rows, mode=mode,
        tolerance=tolerance,
        ignores=[rnd.random() < 0.6, rnd.random() < 0.6],
        defaults=rnd.choice([None, [-1.5, 7]]),
        fills=[rnd.choice([None, 2.25]), rnd.choice([None, -3])],
        with_origin=rnd.random() < 0.5,
    )


def _instants(c) -> "list[dt.datetime]":
    out, j = [], 0
    while True:
        t = (
            _add_months(c["lo"], j) if c["every"] == "1n"
            else c["lo"] + dt.timedelta(seconds=7 * j)
        )
        if t > c["hi"]:
            return out
        out.append(t)
        j += 1


def _cast(v, ctype):
    """A double read back through the column type, as the kernel does."""
    if v is None:
        return None
    return float(math.trunc(v)) if ctype == "int" else float(v)


def _reference(c) -> list:
    tol_us = None
    if c["tolerance"] is not None:
        n, u = int(c["tolerance"][:-1]), c["tolerance"][-1]
        tol_us = n * {"s": 1, "d": 86400}[u] * 1_000_000
    mode = c["mode"]
    by_group: dict = {}
    for g, ts, x, y in c["rows"]:
        by_group.setdefault(g, []).append((_us(ts), (x, y)))
    out = []
    for g, samples in by_group.items():
        samples.sort()
        for inst in _instants(c):
            t = _us(inst)
            vals, side = [], []
            for i, ctype in enumerate(CTYPES):
                use = [
                    (s, v[i]) for s, v in samples
                    if not (c["ignores"][i] and v[i] is None)
                ]
                use = [(s, None if v is None else float(v)) for s, v in use]
                prev = next((p for p in reversed(use) if p[0] <= t), None)
                nxt = next((p for p in use if p[0] > t), None)
                exact = prev is not None and prev[0] == t
                prev_ok = prev is not None and (tol_us is None or t - prev[0] <= tol_us)
                next_ok = nxt is not None and (tol_us is None or nxt[0] - t <= tol_us)
                dflt = _cast((c["defaults"] or [None, None])[i], ctype)
                origin = None
                if exact:
                    val, origin = prev[1], prev[0]
                elif mode == "prev":
                    val, origin = (prev[1], prev[0]) if prev_ok else (dflt, None)
                elif mode == "next":
                    val, origin = (nxt[1], nxt[0]) if next_ok else (dflt, None)
                elif mode == "near":
                    use_prev = prev_ok and (
                        not next_ok or t - prev[0] <= nxt[0] - t
                    )
                    if use_prev:
                        val, origin = prev[1], prev[0]
                    elif next_ok:
                        val, origin = nxt[1], nxt[0]
                    else:
                        val = dflt
                elif mode == "linear":
                    if prev is None or nxt is None:
                        val = None
                    elif not (prev_ok and next_ok):
                        val = dflt
                    elif prev[1] is None or nxt[1] is None:
                        val = None
                    else:
                        frac = float(t - prev[0]) / float(nxt[0] - prev[0])
                        val = _cast(prev[1] + (nxt[1] - prev[1]) * frac, ctype)
                elif mode == "value":
                    val = _cast(c["fills"][i], ctype)
                else:  # null / none
                    val = None
                vals.append(val)
                side.append((prev, nxt, exact, origin))
            prev0, nxt0, exact0, origin0 = side[0]
            keep = {
                "prev": prev0 is not None,
                "next": exact0 or nxt0 is not None,
                "linear": exact0 or (prev0 is not None and nxt0 is not None),
                "none": exact0,
            }.get(mode, True)
            if keep:
                row = (g, t, *vals, not exact0)
                out.append(row + ((origin0,) if c["with_origin"] else ()))
    return out


def _norm(rows) -> list:
    return sorted(
        tuple(round(v, 9) if isinstance(v, float) else v for v in r)
        for r in rows
    )


def _spark_rows(spark, c) -> list:
    schema = "k string, ts string, x double, y int"
    df = spark.createDataFrame(
        [(g, ts.isoformat(sep=" "), x, y) for g, ts, x, y in c["rows"]], schema
    ).select(
        "k", F.col("ts").cast("timestamp").alias("ts"), "x", "y"
    )
    keys = ["k"] if c["keyed"] else []
    if not keys:
        df = df.drop("k")
    out = interp(
        df, "ts", VALS,
        c["lo"].isoformat(sep=" "), c["hi"].isoformat(sep=" "), c["every"],
        mode=c["mode"], partition_by=keys,
        fill_value=c["fills"] if c["mode"] == "value" else None,
        tolerance=c["tolerance"],
        defaults=c["defaults"],
        with_origin=c["with_origin"],
        ignore_null=c["ignores"],
    )
    cols = [
        F.col("k") if keys else F.lit(None).cast("string"),
        F.unix_micros("_irowts"), "x", "y", "_isfilled",
    ]
    if c["with_origin"]:
        cols.append(F.unix_micros("_irowts_origin"))
    return [tuple(r) for r in out.select(*cols).collect()]


@pytest.mark.parametrize("seed", range(N_CASES))
def test_interp_matches_reference_loop(spark, seed):
    c = _case(seed)
    assert _norm(_spark_rows(spark, c)) == _norm(_reference(c))
