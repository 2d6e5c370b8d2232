"""Scalar function parity (reference builtins.c §2.9 registry; impls
scalar/src/sclfunc.c). Only the TDengine-specific ones need wrappers —
math/string functions map 1:1 onto pyspark.sql.functions and are listed in
SURVEY §2.9; the dialect layer resolves those names directly.

All pure Catalyst expressions (codegen'd, no UDFs).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from tdengine_spark.durations import parse_duration
from tdengine_spark.operators.timewindow import window_start


def timetruncate(ts: "Column | str", unit: "str", use_current_timezone: bool = False) -> Column:
    """timetruncate(ts, unit) (builtins.c:5092): truncate to the duration
    unit boundary. Fixed units → epoch-aligned bucket; calendar units →
    date_trunc. (UTC sessions make the timezone flag a no-op here.)"""
    return window_start(ts, unit)


def to_iso8601(ts: "Column | str", tz: str = "+00:00") -> Column:
    """to_iso8601(ts) (builtins.c:5034)."""
    c = F.col(ts) if isinstance(ts, str) else ts
    return F.concat(
        F.date_format(c, "yyyy-MM-dd'T'HH:mm:ss.SSS"), F.lit(tz.replace(":", ""))
    )


def to_unixtimestamp(s: "Column | str", unit: str = "a") -> Column:
    """to_unixtimestamp(str) (builtins.c:5062): epoch in db precision
    (default ms)."""
    c = F.col(s) if isinstance(s, str) else s
    us = F.unix_micros(F.to_timestamp(c))
    return (us / parse_duration(f"1{unit}").microseconds).cast("long")


def timediff(a: "Column | str", b: "Column | str", unit: str = "a") -> Column:
    """timediff(t1, t2[, unit]) (builtins.c:5127): t1 - t2 in unit."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    unit_us = parse_duration(f"1{unit}").microseconds
    return ((F.unix_micros(ca) - F.unix_micros(cb)) / unit_us).cast("long")
