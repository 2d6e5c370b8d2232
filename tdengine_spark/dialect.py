"""TDengine-SQL dialect → DataFrame translator.

Covers the dialect constructs standard Spark SQL lacks (grammar
reference: parser/inc/sql.y):

    SELECT ... FROM tbl
      [WHERE ...]                       -- incl. `->` JSON get, MATCH/NMATCH
      [PARTITION BY c1, c2]
      [INTERVAL(w[, offset]) [SLIDING(s)]]
      [SESSION(ts_col, gap)]
      [STATE_WINDOW(col)]
      [EVENT_WINDOW START WITH expr END WITH expr]
      [COUNT_WINDOW(n[, sliding])]
      [FILL(mode[, value])]
      [GROUP BY ...] [HAVING ...]
      [ORDER BY ...] [SLIMIT n] [LIMIT n]

Anything Spark SQL already speaks (plain SELECT/GROUP BY/joins) is
handed to ``spark.sql`` directly after operator rewrites — Catalyst is
the parser for the standard subset; this layer only owns the dialect
clauses, mirroring how the reference's planner special-cases its window
clauses around an ordinary SQL core.

Aggregate-name rewrites applied in the select list:
    spread(x)        → max(x) - min(x)
    elapsed(ts[,u])  → (max(unix_micros(ts))-min(...)) / unit
    last_row(x)      → max_by(x, <ts>)
    first(x)/last(x) → min_by/max_by over non-null ts (ignore-null firsts)
    apercentile(x,p) → percentile_approx(x, p/100)
    hyperloglog(x)   → approx_count_distinct(x)
"""

from __future__ import annotations

import functools
import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from tdengine_spark.catalog import Database
from tdengine_spark.durations import parse_duration

#: session-timezone UTC offset (µs) used for CALENDAR window arithmetic
#: (month stepping + end-of-month clamping happen on the session's wall
#: clock in the reference — taosTimeAdd uses the server timezone). UTC
#: by default; a corpus replaying an Asia/Shanghai session sets +8h.
CALENDAR_TZ_OFFSET_US = 0

#: presentation order of translated FROM-subquery views (view name →
#: [(col, is_desc), …]) and the order active for the statement being
#: translated — data-driven windows over an ordered derived table assign
#: runs in that order (reference orderbyOtherTS semantics)
_VIEW_ORDER: dict = {}
#: ordered-subquery views that carry a `_rowidx` presentation-position
#: column (added when the outer query needs positional aggregates —
#: elapsed over an explicit ORDER BY runs last-minus-first by position)
_VIEW_ROWIDX: set = set()
_ACTIVE_SUB_ROWIDX = False
#: degraded-timeline views (subquery with no pk, first ts-col timeline):
#: they carry `_rowidx` so first/last/last_row can break duplicate-
#: timeline ties by ARRIVAL position (test_timeline_fallback.ans:
#: last(val) over duplicate max event_time returns the FIRST arrival)
_VIEW_DEGRADED: set = set()
_ACTIVE_DEGRADED = False
_ACTIVE_SUB_ORDER = None
from tdengine_spark.operators import timewindow as tw


def _map_tz_spec(spec: str) -> str:
    """Reference timezone spec → Spark/IANA zone id. Bare fixed-offset
    strings follow POSIX sign semantics (taosd tz config, mktz):
    ``+08:00`` / ``UTC-8`` mean WEST-of-prefix — i.e. '+08:00' is
    UTC-08:00 and 'UTC-8' is UTC+08:00."""
    s = spec.strip()
    m = re.fullmatch(r"([+-])(\d{1,2})(?::?(\d{2}))?", s)
    if m:
        inv = "-" if m.group(1) == "+" else "+"
        return f"GMT{inv}{int(m.group(2)):02d}:{m.group(3) or '00'}"
    m = re.fullmatch(r"(?i)(?:UTC|GMT)([+-])(\d{1,2})(?::?(\d{2}))?", s)
    if m:
        inv = "-" if m.group(1) == "+" else "+"
        return f"GMT{inv}{int(m.group(2)):02d}:{m.group(3) or '00'}"
    return s


def set_session_timezone(spark: SparkSession, spec: "str | None") -> str:
    """``SET TIMEZONE 'spec'`` (reference L2 session timezone, v3.4.2
    timezone feature set): string literals parse, calendar windows align,
    and timestamps render in this zone. ``None`` resets to the engine's
    native UTC mode. Keeps spark.sql.session.timeZone,
    catalog.SESSION_TZ (so scans don't clobber the conf), and
    timewindow.SESSION_CALENDAR_TZ in lockstep."""
    from tdengine_spark import catalog as _cat

    if spec is None:
        _cat.SESSION_TZ = "UTC"
        tw.SESSION_CALENDAR_TZ = None
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        return "UTC"
    tz = _map_tz_spec(spec)
    _cat.SESSION_TZ = tz
    tw.SESSION_CALENDAR_TZ = tz
    spark.conf.set("spark.sql.session.timeZone", tz)
    return tz


def _session_tzinfo():
    """tzinfo of the active SET TIMEZONE zone (None in native mode)."""
    name = tw.SESSION_CALENDAR_TZ
    if name is None:
        return None
    from datetime import timedelta, timezone

    m = re.fullmatch(r"GMT([+-])(\d{2}):(\d{2})", name)
    if m:
        sign = 1 if m.group(1) == "+" else -1
        return timezone(
            sign * timedelta(hours=int(m.group(2)), minutes=int(m.group(3)))
        )
    from zoneinfo import ZoneInfo

    return ZoneInfo(name)
from tdengine_spark.operators.eventwindow import (
    WINDOW_ID,
    assign_count_windows,
    assign_event_windows,
    assign_session_windows,
    assign_state_windows,
)
from tdengine_spark.operators.fill import fill as _fill

_CLAUSE_RE = re.compile(
    r"""
    ^\s*SELECT\s+(?P<select>.*?)
    \s*\bFROM\s+(?P<table>[A-Za-z_][\w.]*)
    (?:\s+(?:AS\s+)?
       (?!WHERE\b|PARTITION\b|INTERVAL\b|SESSION\b|STATE_WINDOW\b
         |EVENT_WINDOW\b|COUNT_WINDOW\b|ANOMALY_WINDOW\b|FILL\b|GROUP\b
         |HAVING\b|ORDER\b|SLIMIT\b|LIMIT\b|UNION\b)
       (?P<talias>[A-Za-z_]\w*))?
    (?:\s+WHERE\s+(?P<where>.*?))?
    (?:\s+PARTITION\s+BY\s+(?P<partition>.*?))?
    (?:\s+(?P<window>
        INTERVAL\s*\(.*?\)(?:\s+SLIDING\s*\(.*?\))?
      | SESSION\s*\(.*?\)
      | STATE_WINDOW\s*\(.*?\)(?:\s+TRUE_FOR\s*\(.*?\))?
      | EVENT_WINDOW\s+START\s+WITH\s+.*?\s+END\s+WITH\s+[^\s]+(?:\s*[<>=!]+\s*[^\s]+)?(?:\s+TRUE_FOR\s*\(.*?\))?
      | COUNT_WINDOW\s*\(.*?\)
      | ANOMALY_WINDOW\s*\(.*?\)
    ))?
    (?:\s+FILL\s*\((?P<fill>.*?)\))?
    (?:\s+GROUP\s+BY\s+(?P<group>.*?))?
    (?:\s+HAVING\b\s*(?P<having>.*?))?
    (?:\s+ORDER\s+BY\s+(?P<order>.*?))?
    (?:\s+SLIMIT\s+(?P<slimit>\d+)(?:\s+SOFFSET\s+(?P<soffset>\d+))?)?
    (?:\s+LIMIT\s+(?P<limit>\d+)(?:\s+OFFSET\s+(?P<offset>\d+))?)?
    \s*;?\s*$
    """,
    re.IGNORECASE | re.VERBOSE | re.DOTALL,
)


_PG_FMT_TOKENS = [
    # PostgreSQL to_char pattern → Java date_format pattern,
    # longest-first (reference to_char follows the PG template set)
    ("MONTH", "MMMM"), ("Month", "MMMM"), ("month", "MMMM"),
    ("MON", "MMM"), ("Mon", "MMM"), ("mon", "MMM"),
    ("YYYY", "yyyy"), ("yyyy", "yyyy"), ("YYY", "yyy"), ("YY", "yy"),
    ("yy", "yy"),
    ("DDD", "DDD"), ("ddd", "DDD"), ("DD", "dd"), ("dd", "dd"),
    ("DAY", "EEEE"), ("Day", "EEEE"), ("day", "EEEE"),
    ("DY", "EEE"), ("Dy", "EEE"), ("dy", "EEE"),
    ("HH24", "HH"), ("hh24", "HH"), ("HH12", "hh"), ("hh12", "hh"),
    ("HH", "hh"), ("hh", "hh"),
    ("MI", "mm"), ("mi", "mm"),
    ("SS", "ss"), ("ss", "ss"),
    ("MS", "SSS"), ("ms", "SSS"),
    ("US", "SSSSSS"), ("us", "SSSSSS"),
    ("AM", "a"), ("PM", "a"), ("am", "a"), ("pm", "a"),
    ("TZH", "xx"),
    ("MM", "MM"), ("mm", "MM"),
]


def _pg_to_java_fmt(fmt: str) -> str:
    """PostgreSQL to_char datetime template → Java datetime pattern.
    Unrecognized letter runs are single-quoted (Java reserves every
    ASCII letter); punctuation passes through."""
    out = []
    i = 0
    while i < len(fmt):
        for tok, rep in _PG_FMT_TOKENS:
            if fmt.startswith(tok, i):
                out.append(rep)
                i += len(tok)
                break
        else:
            c = fmt[i]
            if c.isalpha():
                j = i
                while j < len(fmt) and fmt[j].isalpha() and not any(
                    fmt.startswith(t, j) for t, _ in _PG_FMT_TOKENS
                ):
                    j += 1
                out.append("'" + fmt[i:j] + "'")
                i = j
            else:
                out.append(c)
                i += 1
    return "".join(out)


#: active database's timestamp precision ('ms'|'us'|'ns'), set by the
#: translate/execute entry points — bare-integer arithmetic on a
#: timestamp resolves to its epoch count in this unit
_DB_PRECISION = "ms"

#: the active statement's primary-timestamp column name (set by
#: translate — an outer query over a derived table may carry an
#: aliased pk, e.g. `ts as t1`); _rowts resolves to it
_ACTIVE_TS = "ts"

#: epoch-count SQL relative to unix_micros() per precision (ns floors
#: to Spark's microsecond storage)
_EPOCH_FACTOR = {"ms": " div 1000", "us": "", "ns": " * 1000"}


_CASE_TOKEN_RE = re.compile(r"(?i)\b(case|when|end)\b")


def _coerce_case_when_truthy(expr: str) -> str:
    """Searched-CASE conditions are C-truthy in the reference
    (``case when 3 then 4`` — parTranslater.c numeric condition);
    Spark requires BOOLEAN. Wrap numeric-literal conditions of
    SEARCHED cases only — a simple case's WHEN operands are match
    values and must stay untouched."""
    if not re.search(r"(?i)\bcase\s+when\b", expr):
        return expr
    # stack of booleans: is the enclosing CASE searched?
    stack: list[bool] = []
    out, i = [], 0
    for m in _CASE_TOKEN_RE.finditer(expr):
        tok = m.group(1).lower()
        if tok == "case":
            nxt = expr[m.end():].lstrip()[:4].lower()
            stack.append(nxt == "when")
        elif tok == "end":
            if stack:
                stack.pop()
        elif tok == "when" and stack and stack[-1]:
            lm = re.match(
                r"(\s+)(-?\d+(?:\.\d+)?)(\s+then\b)",
                expr[m.end():],
            )
            if lm:
                out.append(expr[i:m.end()])
                out.append(
                    f"{lm.group(1)}({lm.group(2)} <> 0){lm.group(3)}"
                )
                i = m.end() + lm.end()
    out.append(expr[i:])
    return "".join(out)


def _wrap_ts_mul_div(expr: str) -> str:
    """``timetruncate(…) / N`` (or ``*``, ``%``): rewrite the timestamp
    call into its epoch integer in the active DB precision — the
    reference's numeric promotion demotes TIMESTAMP to epoch for * / %
    (test_join_ns_db: ``timetruncate(ts,1a)/1000000`` in an ns db)."""
    factor = _EPOCH_FACTOR.get(_DB_PRECISION, " div 1000")
    out, i = [], 0
    for m, _ in _scan(expr, r"(?i:\btimetruncate(?=\s*\())"):
        if m.start() < i:  # nested in the call just taken
            continue
        j = _close_paren(expr, expr.index("(", m.end()))
        if j < 0:
            j = len(expr)
        call = expr[m.start():j]
        out.append(expr[i:m.start()])
        out.append(
            f"(unix_micros({call}){factor})" if re.match(r" *[*/%]", expr[j:])
            else call
        )
        i = j
    out.append(expr[i:])
    return "".join(out)


def _rewrite_ops(expr: str) -> str:
    """Dialect operators/functions → Spark SQL: `col->'k'`, MATCH,
    NMATCH, NOW/TODAY keywords, and the reference time-function family
    (timetruncate / timediff / to_iso8601 / to_unixtimestamp,
    builtins.c:5034-5127)."""
    from tdengine_spark.durations import parse_duration

    def trunc(a):
        arg = a[0].strip()
        if re.fullmatch(r"\d{12,19}", arg):  # bare epoch literal operand
            arg = _epoch_lit_sql(arg)
        unit = a[1].strip().strip("'")
        if unit.endswith(("n", "y")):  # calendar units
            word = "month" if unit.endswith("n") else "year"
            return f"date_trunc('{word}', {arg})"
        w = parse_duration(unit).microseconds
        return (
            f"timestamp_micros(CAST(floor(unix_micros({arg}) / {w}) "
            f"* {w} AS BIGINT))"
        )

    def tdiff(a):
        unit = a[2].strip().strip("'") if len(a) > 2 else "1a"
        u = parse_duration(unit if unit[0].isdigit() else "1" + unit).microseconds

        def _ts(x):
            # a quoted datetime operand is a timestamp constant in the
            # reference (convertImpl string→ts); Spark's unix_micros
            # rejects strings — cast it
            x = x.strip()
            if x.startswith("'") and x.endswith("'"):
                return f"cast({x} as timestamp)"
            return x

        return (
            f"CAST((unix_micros({_ts(a[0])}) - unix_micros({_ts(a[1])}))"
            f" div {u} AS BIGINT)"
        )

    # _rowts pseudo-column = the row's primary timestamp (parser
    # TK_ROWTS) — the ACTIVE statement's pk column, which over a
    # derived table may be an alias (`ts as t1` → _rowts is t1)
    expr = _outside_quotes(
        expr, lambda s: re.sub(r"\b_rowts\b", _ACTIVE_TS, s)
    )
    # `… IN ('2020-10-01 …', …)`: Spark resolves IN over mixed
    # timestamp/string operands as STRING comparison (least common
    # type), which never matches a timestamp LHS — tag date-shaped
    # literals inside IN lists as timestamps (the reference parser
    # types IN-list constants from the column)
    def ts_in(m):
        body = re.sub(
            r"'(\d{4}-\d{2}-\d{2}(?: [^']*)?)'", r"timestamp'\1'", m.group(1)
        )
        return f"in ({body})"

    expr = re.sub(
        r"\bin\s*\(([^)]*'\d{4}-\d{2}-\d{2}[^)]*)\)",
        ts_in,
        expr,
        flags=re.IGNORECASE,
    )
    # CAST(<timestamp> AS BIGINT) is epoch-ms in the reference
    # (convertImpl ts→int path); Spark's cast yields seconds — rewrite
    # for ts-suffixed columns and the window pseudo-columns
    expr = _outside_quotes(
        expr,
        lambda s: re.sub(
            rf"\bcast\s*\(\s*((?:(?:first|last|last_row|min|max)\s*\(\s*"
            rf"{_TS_NAME}\s*\)|{_TS_NAME}|_wstart|_wend|_irowts))"
            rf"\s+as\s+bigint\s*\)",
            r"unix_millis(\1)",
            s,
            flags=re.IGNORECASE,
        ),
    )
    # CAST(<int> AS TIMESTAMP) is epoch-in-db-precision in the reference
    # (ms by default); Spark's cast treats the int as seconds — rewrite
    expr = _outside_quotes(
        expr,
        lambda s: re.sub(
            r"\bcast\s*\(\s*(\d{12,19})\s+as\s+timestamp\s*\)",
            lambda m: _epoch_lit_sql(m.group(1)),
            s,
            flags=re.IGNORECASE,
        ),
    )
    def tochar(a):
        # to_char(ts, 'fmt'): the reference's datetime render follows
        # PostgreSQL patterns (builtins.c toCharFunction / formatTimeU)
        # — translate to Java date_format patterns
        if len(a) >= 2:
            fmt = a[1].strip()
            if fmt.startswith("'") and fmt.endswith("'"):
                return (
                    f"date_format({a[0]}, "
                    f"'{_pg_to_java_fmt(fmt[1:-1])}')"
                )
        return "to_char(" + ", ".join(a) + ")"

    # count(tb.*) counts rows (reference table-star count); Spark
    # rejects a qualified star under count
    expr = _outside_quotes(
        expr,
        lambda s: re.sub(
            r"(?i)\bcount\s*\(\s*[A-Za-z_]\w*\.\*\s*\)", "count(*)", s
        ),
    )
    # CAST target types: the dialect's BINARY(n)/NCHAR(n) are TEXT types
    # (ttypes.h TSDB_DATA_TYPE_BINARY = char bytes), not Spark's byte
    # array — and Spark rejects a sized BINARY anyway
    expr = _outside_quotes(
        expr,
        lambda s: re.sub(
            r"(?i)\bas\s+(?:binary|nchar)\s*\(\s*\d+\s*\)",
            "as string",
            s,
        ),
    )
    # bare (length-less) text cast targets — the reference accepts
    # CAST(x AS VARCHAR) / NCHAR / BINARY; Spark's VARCHAR needs a length
    expr = _outside_quotes(
        expr,
        lambda s: re.sub(
            r"(?i)\bas\s+(?:binary|nchar|varchar)\s*(?=\))",
            "as string",
            s,
        ),
    )
    # log(v[, base]) — sclfunc.c tlog/tlog2: value FIRST, base second
    # (Spark's two-arg log is log(base, expr) — reversed)
    expr = _rewrite_call(
        expr,
        "log",
        lambda a: (
            f"(ln({a[0]}) / ln({a[1]}))" if len(a) == 2 else f"ln({a[0]})"
        ),
    )
    expr = _rewrite_call(expr, "to_char", tochar)
    expr = _outside_quotes(expr, _coerce_case_when_truthy)
    # timestamp ×/÷/% numeric: the reference demotes the timestamp
    # operand to its epoch integer in the DB precision (parTranslater.c
    # numeric promotion; +/- stay duration arithmetic, handled below)
    expr = _wrap_ts_mul_div(expr)
    expr = _rewrite_call(expr, "timetruncate", trunc)
    expr = _rewrite_call(expr, "timediff", tdiff)
    expr = _rewrite_call(
        expr,
        "to_iso8601",
        lambda a: (
            f"concat(date_format({a[0]}, 'yyyy-MM-dd\\'T\\'HH:mm:ss.SSS'), '+0000')"
        ),
    )
    expr = _rewrite_call(
        expr,
        "to_unixtimestamp",
        lambda a: f"CAST(unix_micros(to_timestamp({a[0]})) div 1000 AS BIGINT)",
    )
    def _kw(pattern: str, repl: str, s: str) -> str:
        # keyword substitution outside single-quoted literals only
        return re.sub(
            pattern,
            lambda m: m.group(0)
            if s.count("'", 0, m.start()) % 2 == 1
            else repl,
            s,
            flags=re.IGNORECASE,
        )

    expr = _rewrite_epoch_ts_literals(expr)
    # bare integer arithmetic on a ts column (`ts + 1`) is
    # ms-precision duration arithmetic in the reference (duration
    # promotion, parTranslater.c); epoch comparisons were consumed above
    expr = _outside_quotes(
        expr,
        lambda s: re.sub(
            rf"\b({_TS_PROMOTE_NAME})\s*([+\-])\s*(\d+)(?![\w.])",
            lambda m: (
                f"{m.group(1)} {m.group(2)} "
                f"make_dt_interval(0, 0, 0, {int(m.group(3)) / 1000:.6f})"
            ),
            s,
        ),
    )
    # epoch literal projected under a ts-suffixed alias (`1691386256000
    # ats`) — downstream time functions expect a timestamp, and the
    # reference promotes the int by its timestamp context
    expr = _outside_quotes(
        expr,
        lambda s: re.sub(
            rf"(?<![\w.])(\d{{12,19}})\s+(?:as\s+)?((?:[A-Za-z_]\w*)?ts)\b",
            lambda m: f"{_epoch_lit_sql(m.group(1))} AS {m.group(2)}",
            s,
            flags=re.IGNORECASE,
        ),
    )
    expr = _kw(r"\bnow\s*\(\s*\)|\bnow\b", "current_timestamp()", expr)
    expr = _kw(
        r"\btoday\s*\(\s*\)|\btoday\b",
        "date_trunc('day', current_timestamp())",
        expr,
    )
    expr = _rewrite_duration_arith(expr)
    expr = re.sub(
        r"([A-Za-z_][\w]*)\s*->\s*'([^']+)'",
        r"get_json_object(\1, '$.\2')",
        expr,
    )
    def _posix_classes(lit: str) -> str:
        # the reference's MATCH regex engine accepts POSIX bracket
        # classes (builtins.c regexec); Java regex needs plain ranges
        for posix, java in (
            ("[:digit:]", "0-9"), ("[:alpha:]", "a-zA-Z"),
            ("[:alnum:]", "a-zA-Z0-9"), ("[:upper:]", "A-Z"),
            ("[:lower:]", "a-z"), ("[:space:]", r"\\s"),
            ("[:blank:]", " \\t"), ("[:xdigit:]", "0-9a-fA-F"),
            ("[:punct:]", r"\\p{Punct}"),
        ):
            lit = lit.replace(posix, java)
        return lit

    expr = re.sub(
        r"([A-Za-z_][\w]*)\s+NMATCH\s+('[^']*')",
        lambda m: f"{m.group(1)} NOT RLIKE {_posix_classes(m.group(2))}",
        expr,
        flags=re.IGNORECASE,
    )
    expr = re.sub(
        r"([A-Za-z_][\w]*)\s+MATCH\s+('[^']*')",
        lambda m: f"{m.group(1)} RLIKE {_posix_classes(m.group(2))}",
        expr,
        flags=re.IGNORECASE,
    )
    # DISTINCT(col) call syntax (parTranslater.c accepts the paren
    # form) — Spark resolves `distinct` as a routine
    expr = _outside_quotes(
        expr,
        lambda s: re.sub(
            r"(?i)\bdistinct\s*\(\s*([^()]*?)\s*\)", r"distinct \1", s
        ),
    )
    return expr


# a ts-column reference: bare `ts`, qualified `a.ts`, or any identifier
# ending in `ts` (_rowts, ats, bts …) — suffix heuristic matching the
# reference's convention of naming every primary timestamp column *ts
_TS_NAME = r"(?:[A-Za-z_]\w*\.)?(?:[A-Za-z_]\w*)?ts"

# names eligible for bare-integer DURATION PROMOTION (`ts + 1` = +1ms).
# Deliberately narrower than _TS_NAME: ordinary integer columns like
# `counts`/`accounts` end in "ts" too, and promoting them silently turns
# plain arithmetic into interval arithmetic. Accepted: exact `ts`
# (optionally alias-qualified), the window/interp pseudo-columns, and
# the `ts<digits>` / `*_ts` naming conventions.
_TS_PROMOTE_NAME = (
    r"(?:[A-Za-z_]\w*\.)?"
    r"(?:ts\d*|_rowts|_irowts(?:_origin)?|_wstart|_wend|[A-Za-z_]\w*_ts)"
)

_EPOCH_CMP_RE = re.compile(
    rf"""\b(?P<col>{_TS_NAME})(?:\s*(?P<adjop>[+-])\s*(?P<adj>\d{{1,9}})(?![\w.]))?\s*(?P<op>>=|<=|<>|!=|=|>|<)\s*(?P<lit>\d{{12,19}})(?:\s*(?P<ladjop>[+-])\s*(?P<ladj>\d{{1,9}}))?(?![\w.])
      | (?P<lit2>\b\d{{12,19}})\s*(?P<op2>>=|<=|<>|!=|=|>|<)\s*(?P<col2>{_TS_NAME})\b
    """,
    re.VERBOSE,
)

_EPOCH_BETWEEN_RE = re.compile(
    rf"""\b(?P<col>{_TS_NAME})\s+BETWEEN\s+(?P<lo>\d{{12,19}})\s+AND\s+(?P<hi>\d{{12,19}})(?![\w.])""",
    re.VERBOSE | re.IGNORECASE,
)

# BETWEEN with an epoch lo and a non-literal hi (`ts between
# 1600000000000 and now + 1h`) — convert the lo side only
_EPOCH_BETWEEN_LO_RE = re.compile(
    rf"""\b(?P<col>{_TS_NAME})\s+BETWEEN\s+(?P<lo>\d{{12,19}})\s+AND\s+(?!\d)""",
    re.VERBOSE | re.IGNORECASE,
)

_EPOCH_BETWEEN_SHORT_RE = re.compile(
    rf"""\b(?P<col>{_TS_PROMOTE_NAME})\s+BETWEEN\s+(?P<lo>-?\d{{1,11}})\s+AND\s+(?P<hi>-?\d{{1,11}})(?![\w.])""",
    re.VERBOSE | re.IGNORECASE,
)

# short (<12-digit) epoch literals compared against a timestamp: the
# reference treats ANY int literal in a ts comparison as epoch ticks
# (sim fixtures start at tstart=100000). Restricted to the STRICT ts
# name set — with the loose suffix heuristic, `counts = 5` would turn
# into a timestamp comparison.
_EPOCH_CMP_SHORT_RE = re.compile(
    rf"""\b(?P<col>{_TS_PROMOTE_NAME})\s*(?P<op>>=|<=|<>|!=|=|>|<)\s*(?P<lit>-?\d{{1,11}})(?![\w.])
      | (?<![\w.])(?P<lit2>\d{{1,11}})\s*(?P<op2>>=|<=|<>|!=|=|>|<)\s*(?P<col2>{_TS_PROMOTE_NAME})\b
    """,
    re.VERBOSE,
)


def _epoch_lit_sql(lit: str) -> str:
    """A bare integer compared against a timestamp column is an epoch
    literal in the reference dialect (db precision ms by default; us/ns
    precisions use correspondingly larger magnitudes — disambiguated by
    range, reference parser TSDB_TIME_PRECISION units)."""
    v = int(lit)
    if v < 10**14:  # ms precision (until year 5138)
        return f"timestamp_millis({lit})"
    if v < 10**17:  # us precision
        return f"timestamp_micros({lit})"
    return f"timestamp_micros({lit} div 1000)"  # ns precision


def _epoch_unit_us(lit: str) -> float:
    """Microseconds per 1 unit of the precision implied by ``lit``."""
    v = int(lit)
    if v < 10**14:
        return 1000.0  # ms
    if v < 10**17:
        return 1.0  # us
    return 0.001  # ns


def _rewrite_epoch_ts_literals(expr: str) -> str:
    """``ts >= 1767196801000`` → ``ts >= timestamp_millis(...)`` for any
    ts-suffixed column (ts, _rowts, a.ts, bts …), either operand order,
    BETWEEN included. ``ts + 1 >= <epoch>`` keeps the arithmetic by
    converting the integer adjustment to a same-precision interval. The
    reference compares TIMESTAMP columns to bare int epochs
    (filterOperator.c type promotion); Spark needs the cast. Applied
    outside single-quoted literals only."""

    def sub(m):
        if m.group("col") is not None:
            col = m.group("col")
            if m.group("adjop"):
                secs = (
                    int(m.group("adj")) * _epoch_unit_us(m.group("lit")) / 1e6
                )
                col = (
                    f"({col} {m.group('adjop')} "
                    f"make_dt_interval(0, 0, 0, {secs:.6f}))"
                )
            lit = m.group("lit")
            if m.group("ladjop"):
                # fold `epoch + n` arithmetic into the literal (same
                # precision ticks on both sides)
                n = int(m.group("ladj"))
                lit = str(int(lit) + (n if m.group("ladjop") == "+" else -n))
            return f"{col} {m.group('op')} {_epoch_lit_sql(lit)}"
        return f"{_epoch_lit_sql(m.group('lit2'))} {m.group('op2')} {m.group('col2')}"

    def between(m):
        return (
            f"{m.group('col')} BETWEEN {_epoch_lit_sql(m.group('lo'))} "
            f"AND {_epoch_lit_sql(m.group('hi'))}"
        )

    def short_lit(lit: str) -> str:
        # a short literal carries no magnitude signal — it is ticks in
        # the ACTIVE db precision
        if _DB_PRECISION == "us":
            return f"timestamp_micros({lit})"
        if _DB_PRECISION == "ns":
            return f"timestamp_micros({lit} div 1000)"
        return f"timestamp_millis({lit})"

    def sub_short(m):
        if m.group("col") is not None:
            return (
                f"{m.group('col')} {m.group('op')} "
                f"{short_lit(m.group('lit'))}"
            )
        return (
            f"{short_lit(m.group('lit2'))} "
            f"{m.group('op2')} {m.group('col2')}"
        )

    def between_short(m):
        return (
            f"{m.group('col')} BETWEEN {short_lit(m.group('lo'))} "
            f"AND {short_lit(m.group('hi'))}"
        )

    def in_sub(m):
        items = [t.strip() for t in _split_select(m.group("items"))]
        is_epoch = [
            bool(re.fullmatch(r"-?\d{12,19}", t)) for t in items
        ]
        datey = any(
            re.match(r"(?i)(?:timestamp\s*)?'\d{4}-\d{1,2}-\d{1,2}", t)
            for t in items
        )
        # promote int items only when the list is evidently temporal —
        # a datetime string sibling, or every item epoch-magnitude
        if not any(is_epoch) or not (datey or all(is_epoch)):
            return m.group(0)
        out = [
            _epoch_lit_sql(t) if e
            # bool in a temporal list: the reference demotes it to its
            # 0/1 integer, then promotes THAT to an epoch tick
            else (
                f"timestamp_millis({int(t.lower() == 'true')})"
                if t.lower() in ("true", "false")
                # fractional ticks truncate to the precision int
                else f"timestamp_millis({int(float(t))})"
                if re.fullmatch(r"-?\d+\.\d+", t) else t
            )
            for t, e in zip(items, is_epoch)
        ]
        return (
            f"{m.group('col')} {m.group('neg') or ''}"
            f"in ({', '.join(out)})"
        )

    in_re = re.compile(
        rf"\b(?P<col>{_TS_NAME})\s+(?P<neg>[Nn][Oo][Tt]\s+)?"
        r"[Ii][Nn]\s*\((?P<items>[^()]*)\)"
    )
    expr = _outside_quotes(
        expr,
        lambda s: _EPOCH_BETWEEN_SHORT_RE.sub(
            between_short,
            _EPOCH_CMP_SHORT_RE.sub(
                sub_short,
                _EPOCH_BETWEEN_LO_RE.sub(
                    lambda m: (
                        f"{m.group('col')} BETWEEN "
                        f"{_epoch_lit_sql(m.group('lo'))} AND "
                    ),
                    _EPOCH_BETWEEN_RE.sub(between, _EPOCH_CMP_RE.sub(sub, s)),
                ),
            ),
        ),
    )
    # the IN rewrite must see the whole list INCLUDING its quoted
    # items — run it on the full text (its own guards are type-aware)
    return in_re.sub(in_sub, expr)


# the dialect's two string-literal openings: '…' and "…"
_SQ, _DQ = r"'[^']*", r'"[^"]*'
_QUOTED_RE = re.compile(f"{_SQ}'|{_DQ}\"")
# the lexical rule every depth-0 scan shares: literals and `…`
# identifiers are opaque (an unterminated one runs to the end), parens
# count depth. Each branch starts with its literal and an empty group
# after it names the kind, so the regex engine can skip to the next
# candidate character.
_LEX = rf"""{_SQ}'?|{_DQ}"?|`[^`]*`?|\((?P<open>)|\)(?P<close>)"""


@functools.lru_cache(maxsize=None)
def _scanner(pat) -> "re.Pattern":
    if pat is None:
        return re.compile(_LEX)
    if isinstance(pat, re.Pattern):
        return re.compile(f"{_LEX}|(?:{pat.pattern})(?P<hit>)", pat.flags)
    return re.compile(f"{_LEX}|(?:{pat})(?P<hit>)")


def _scan(text: str, pat=None, start: int = 0):
    """Yield ``(match, depth)`` for each match of ``pat`` in ``text``
    outside quotes, ``depth`` being the paren depth at the match (0 at
    ``start``; parens inside a match count after it).

    The lexical rule: ``'…'`` and ``"…"`` literals and backtick-quoted
    identifiers are opaque, an unterminated one running to the end of
    the text, and ``(``/``)`` count depth; a stray ``)`` takes depth
    below 0. ``pat``
    is a regex string (flags scoped, ``(?i:…)``) or a compiled pattern,
    whose flags then apply to the whole scan. With ``pat`` None it
    yields each paren with the depth outside it, so a ``(`` and its
    ``)`` report the same depth.

    ``_outside_quotes`` keeps its own rule: it leaves backtick spans and
    unterminated quotes to its callback, which strips backticks."""
    depth = 0
    for m in _scanner(pat).finditer(text, start):
        kind = m.lastgroup
        if kind == "hit":
            yield m, depth
            if m.end() - m.start() > 1:  # a one-character hit is no paren
                h = m.group()
                depth += h.count("(") - h.count(")")
        elif kind == "open":
            if pat is None:
                yield m, depth
            depth += 1
        elif kind == "close":
            depth -= 1
            if pat is None:
                yield m, depth


def _close_paren(text: str, lo: int) -> int:
    """End of the ``)`` matching the ``(`` at ``lo``, or -1."""
    for m, depth in _scan(text, None, lo):
        if depth == 0 and m.lastgroup == "close":
            return m.end()
    return -1


def _split_depth0(text: str, sep=",") -> "list[str]":
    """``text`` cut at each depth-0 match of ``sep`` outside quotes
    (parts unstripped, the separators dropped)."""
    parts, lo = [], 0
    for m, depth in _scan(text, sep):
        if depth == 0:
            parts.append(text[lo:m.start()])
            lo = m.end()
    parts.append(text[lo:])
    return parts


def _outside_quotes(expr: str, fn) -> str:
    """Apply ``fn`` to the segments of ``expr`` outside single- or
    double-quoted string literals (the dialect treats both as strings —
    and a double-quoted literal may CONTAIN a single quote, which would
    otherwise flip the parity scan)."""
    out, i = [], 0
    for m in _QUOTED_RE.finditer(expr):
        out.append(fn(expr[i : m.start()]))
        out.append(m.group(0))
        i = m.end()
    out.append(fn(expr[i:]))
    return "".join(out)


# `<expr> ± <duration literal>`: `now + 4m`, `ts - 1h` … (grammar sql.y
# NK_VARIABLE arithmetic; parTranslater.c promotes the int+unit literal
# to a duration). Spark needs an interval literal instead.
_DUR_ARITH_RE = re.compile(r"([+\-])\s*(\d+)([buasmhdwny])(?![\w.'])")


def _rewrite_duration_arith(expr: str) -> str:
    """``+ 4m`` → ``+ make_dt_interval(0, 0, 0, 240.0)`` (fixed-width
    units) / ``+ make_ym_interval(...)`` (calendar n/y units), outside
    string literals. Timestamp ± interval stays a timestamp in Spark,
    matching the reference's duration-type promotion."""
    from tdengine_spark.durations import parse_duration

    def sub(m):
        op, n, unit = m.group(1), int(m.group(2)), m.group(3)
        if unit == "n":
            return f"{op} make_ym_interval(0, {n})"
        if unit == "y":
            return f"{op} make_ym_interval({n}, 0)"
        us = parse_duration(f"{n}{unit}").microseconds
        return f"{op} make_dt_interval(0, 0, 0, {us / 1e6:.6f})"

    return _outside_quotes(expr, lambda s: _DUR_ARITH_RE.sub(sub, s))


def _rewrite_call(s: str, name: str, render) -> str:
    """Replace each ``name(args…)`` call in ``s`` with ``render(args)``.

    Balanced-paren aware (``spread(round(v, 2))`` captures the whole
    nested call) and skips occurrences inside literals and backticked
    aliases — the failure modes of the naive ``[^)]+?`` regexes this
    replaces.
    """
    out, i = [], 0
    for m, _ in _scan(s, rf"(?i:\b{name}(?=\s*\())"):
        if m.start() < i:  # nested in the call just rendered
            continue
        lo = s.index("(", m.end())
        j = _close_paren(s, lo)
        if j < 0:  # unbalanced — leave the tail untouched
            break
        out.append(s[i : m.start()])
        out.append(render(_split_select(s[lo + 1 : j - 1])))
        i = j
    out.append(s[i:])
    return "".join(out)


def _rewrite_aggs(select: str, ts_col: str, pk_col: "str | None" = None,
                  float_cols: "set[str] | None" = None,
                  ts_cols: "set[str] | None" = None,
                  nchar_cols: "set[str] | None" = None,
                  bin_cols: "set[str] | None" = None) -> str:
    """Dialect aggregate names → Spark equivalents (text level).

    ``float_cols``: float/double column names of the FROM table — avg/
    sum/stddev/var over them get the reference's non-finite guard
    (tavgfunction.c avgFinalize, builtinsimpl.c:685: an inf/nan result
    renders as NULL, not inf)."""
    s = select

    def length_fn(a):
        # reference LENGTH() = storage BYTES (sclfunc.c lengthFunction):
        # NCHAR stores UCS-4 → 4 bytes/char; VARCHAR/VARBINARY utf-8
        # bytes. Spark's length() counts characters.
        arg = a[0].strip() if a else ""
        base = arg.split(".")[-1]
        if len(a) == 1 and nchar_cols and base in nchar_cols:
            return f"(length({a[0]}) * 4)"
        if len(a) == 1 and bin_cols and base in bin_cols:
            return f"octet_length({a[0]})"
        return f"length({', '.join(a)})"

    cols_hit = [False]  # did cols_fn actually rewrite anything?

    def cols_fn(a):
        # cols(sel_fn(c), expr): expr evaluated at the row the selection
        # function picks (builtins.c colsFunction, v3.3.6)
        cols_hit[0] = True
        m = re.match(
            r"(?is)^\s*(first|last|last_row|min|max|mode)\s*\(\s*(.+?)\s*\)\s*$",
            a[0],
        )
        if not m:
            # the join path rewrites first/last to min_by/max_by BEFORE
            # this pass — recover the selection from the rewritten form
            m = re.match(
                r"(?is)^\s*(min_by|max_by)\s*\(\s*([A-Za-z_][\w.]*)\s*,",
                a[0],
            )
            if m:
                fn = "first" if m.group(1).lower() == "min_by" else "last"
                c = m.group(2)
                m = (fn, c)
        if not m or len(a) < 2:
            return "cols(" + ", ".join(a) + ")"
        if isinstance(m, tuple):
            fn, c = m
        else:
            fn, c = m.group(1).lower(), m.group(2)
        # a ts-less relation (information_schema views) has no row-order
        # tie-break — fall back to a constant
        _tsx = (f"unix_micros({ts_col})"
                if ts_cols is None or ts_col in ts_cols else "0")
        if fn == "mode" and re.fullmatch(r"\w+", c):
            # cols(mode(x), p): p at the row of the most frequent x —
            # the per-group value count rides in as a window pre-pass
            # column (__modecnt_x__, added by the group path); ties on
            # the newest ts (the reference calls the tie row "random")
            pick = "max_by"
            key = (f"struct(coalesce(__modecnt_{c}__, 0),"
                   f" {_tsx})")
        elif fn == "first":
            pick, key = "min_by", f"CASE WHEN {c} IS NOT NULL THEN {_tsx} END"
        elif fn == "last":
            pick, key = "max_by", f"CASE WHEN {c} IS NOT NULL THEN {_tsx} END"
        elif fn == "last_row":
            pick, key = "max_by", _tsx
        elif fn == "min":
            pick = "min_by"
            key = (f"struct(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END,"
                   f" {c}, {_tsx})")
        else:
            pick = "max_by"
            key = (f"struct(CASE WHEN {c} IS NULL THEN 0 ELSE 1 END,"
                   f" {c}, -({_tsx}))")
        # every projection operand gets its own pick at the SAME
        # selected row; each may carry its own alias (`ts as f_ts` or
        # bare `ts f_ts`); unaliased projections take their RAW TEXT as
        # the output name (reference checkResColNameList: 'length(c2)
        # + 2', 'c0+1') — backquoted so later rewrite passes skip it
        outs = []
        for proj in a[1:]:
            pm2 = re.match(
                r"(?is)^(.*?)\s+(?:as\s+)?([A-Za-z_]\w*)\s*$", proj
            )
            if pm2 and not re.search(r"[()+\-*/%]", pm2.group(2)) and (
                re.search(r"(?is)\s+as\s+(?:[A-Za-z_]\w*|`[^`]*`)\s*$", proj)
                or re.fullmatch(r"[A-Za-z_.]\w*(\.\w+)?\s+[A-Za-z_]\w*",
                                proj.strip())
            ):
                # TSDB_COL_NAME_LEN: output names cap at 64 chars
                alias = f" as {pm2.group(2)[:64]}"
                proj = pm2.group(1)
            else:
                # derived name = the user's text: undo the float-
                # promotion cast an earlier rewrite may have wrapped in;
                # the reference truncates output names to 64 chars
                # (TSDB_COL_NAME_LEN - 1)
                nm = re.sub(
                    r"(?is)\bcast\(\s*(\w+(?:\.\w+)?)\s+as\s+double\s*\)",
                    r"\1", proj.strip(),
                )[:64]
                alias = (f" as {nm}" if re.fullmatch(r"[A-Za-z_]\w*", nm)
                         else f" as `{nm}`")
            outs.append(f"{pick}({proj}, {key}){alias}")
        return ", ".join(outs)

    s = _rewrite_call(s, "cols", cols_fn)
    # `cols(last(ts), ts) as t1`: an OUTER alias on a single-projection
    # cols overrides the derived name — collapse the double alias
    # (keyword guard: `as p ROWS BETWEEN …` is not an alias pair).
    # ONLY when a cols() call was actually rewritten — unconditional,
    # this regex would corrupt unrelated text like `from v as a join v2`
    if cols_hit[0]:
        s = re.sub(
            r"(?is)as\s+(`[^`]*`|[A-Za-z_]\w*)\s+(?:as\s+)?"
            r"(?!(?:rows|range|from|where|group|order|having|limit|and|or|"
            r"when|then|else|end|over|partition|by|asc|desc|between|in|is|"
            r"not|null|interval|fill|sliding|session|state_window|"
            r"event_window|count_window|union|slimit|soffset|offset|"
            r"window|true_for|join|left|right|inner|outer|full|cross|on|"
            r"using|asof|jlimit|window_offset)\b)([A-Za-z_]\w*)\b",
            r"as \2", s,
        )
    # AFTER cols: raw projection text survives as the backquoted output
    # name; the computed copy inside min_by/max_by still gets rewritten
    if nchar_cols or bin_cols:
        s = _rewrite_call(s, "length", length_fn)

    def spread_fn(a):
        # spread over a TIMESTAMP column returns ticks in the db
        # precision (builtinsimpl.c spreadFunction computes on the
        # epoch int), not an interval
        if ts_cols and a[0].strip().split(".")[-1] in ts_cols:
            div = {"ms": 1000.0, "us": 1.0, "ns": 0.001}[_DB_PRECISION]
            return (f"((unix_micros(max({a[0]})) - "
                    f"unix_micros(min({a[0]}))) / {div})")
        return f"(max({a[0]}) - min({a[0]}))"

    s = _rewrite_call(s, "spread", spread_fn)
    def elapsed_fn(a):
        # elapsed(ts[, unit]) — builtinsimpl elapsedFunction: span in
        # the given unit (default: the db precision tick)
        div = {"ms": 1000.0, "us": 1.0, "ns": 0.001}[_DB_PRECISION]
        if len(a) > 1:
            from tdengine_spark.durations import parse_duration

            u = a[1].strip()
            if re.fullmatch(r"(?i)\d+b", u):
                # ns unit: timestamps are stored at us precision, so the
                # result is the us-floored span in ns — sub-us deltas
                # are a documented precision gap
                div = int(u[:-1]) / 1000.0
            else:
                div = float(parse_duration(u).microseconds)
        # explicit DOUBLE — the reference returns double
        # (builtins.c elapsed resultType TSDB_DATA_TYPE_DOUBLE); under
        # decimal-literal arithmetic the quotient may otherwise come
        # back as DecimalType and leak decimal.Decimal into results
        if _ACTIVE_SUB_ORDER and _ACTIVE_SUB_ROWIDX:
            # explicit subquery ORDER BY: elapsed spans the FIRST to
            # LAST presentation rows, not min-to-max (timeline_fallback:
            # elapsed(ts) over `order by t2` is |ts_last - ts_first|)
            k = f"CASE WHEN {a[0]} IS NOT NULL THEN _rowidx END"
            return (f"CAST(ABS(max_by(unix_micros({a[0]}), {k}) - "
                    f"min_by(unix_micros({a[0]}), {k})) / {div}"
                    f" AS DOUBLE)")
        return (f"CAST((max(unix_micros({a[0]})) - "
                f"min(unix_micros({a[0]}))) / {div} AS DOUBLE)")

    s = _rewrite_call(s, "elapsed", elapsed_fn)
    # a select item that IS a bare first/last/last_row call keeps the
    # call text as its output name (reference checkResColNameList:
    # 'first(c0)'); attach it as a backquoted alias BEFORE the min_by/
    # max_by rewrite (whose backtick-skip leaves the alias alone)
    _fl_parts = _split_select(s)
    _fl_fixed = []
    for _it in _fl_parts:
        _mfl = re.match(
            r"(?is)^\s*(first|last|last_row)\s*\(\s*([^*]+?)\s*\)\s*$", _it
        )
        # the captured body must be the CALL's own argument list —
        # `last(ts) + make_dt_interval(0, 0.001)` lazily matches with
        # body `ts) + make_dt_interval(0, 0.001` (equal paren COUNTS,
        # negative depth): wrapped in parens, it must close at its end
        if _mfl and "`" not in _it and _close_paren(
            f"({_mfl.group(2)})", 0
        ) == len(_mfl.group(2)) + 2:
            _fn0 = _mfl.group(1).lower()
            _fl_fixed.append(", ".join(
                f"{_fn0}({x}) as `{_fn0}({x})`"[:200]
                for x in _split_select(_mfl.group(2))
            ))
        else:
            _fl_fixed.append(_it)
    s = ", ".join(_fl_fixed)
    # composite-pk tables: last_row ties on ts break on the larger pk
    # (reference pk-aware row order, sql.y:3250 PRIMARY KEY option)
    lr_key = f"struct({ts_col}, {pk_col})" if pk_col else ts_col
    fl_last_key, fl_first_key = lr_key, lr_key
    if _ACTIVE_DEGRADED:
        # degraded timeline: duplicate-timeline ties break by ARRIVAL
        # position — last() takes the FIRST arrival of the max
        # timeline value (timeline_fallback.ans t_dup/t_dupmax)
        fl_last_key = f"struct({ts_col}, -_rowidx)"
        fl_first_key = f"struct({ts_col}, _rowidx)"
        lr_key = fl_last_key
    # multi-column selection (`last(c2, c3)` — the reference expands to
    # one output per column, parTranslater multi-param SELECT functions)
    s = _rewrite_call(s, "last_row", lambda a: ", ".join(
        f"max_by({x}, {lr_key})" for x in a))
    # first/last tie-break on duplicate ts by pk too (same composite
    # row order as last_row — test_pk_baseline.ans: first(val) over
    # (ts1,pk1,10)(ts1,pk2,15) is 10)
    s = _rewrite_call(s, "last", lambda a: ", ".join(
        f"max_by({x}, CASE WHEN {x} IS NOT NULL THEN {fl_last_key} END)"
        for x in a))
    s = _rewrite_call(s, "first", lambda a: ", ".join(
        f"min_by({x}, CASE WHEN {x} IS NOT NULL THEN {fl_first_key} END)"
        for x in a))
    s = _rewrite_call(
        s,
        "apercentile",
        lambda a: f"percentile_approx({a[0]}, {float(a[1]) / 100.0})",
    )

    def percentile_fn(a):
        # percentile(col, p1 [, p2 …]) — p in [0,100] (builtins.c
        # translatePercentile); >1 fraction renders the reference's
        # multi-p VARCHAR '[v1.000000, v2.000000]' (%.6lf each,
        # builtinsimpl.c:2115-2137)
        ps = []
        for x in a[1:]:
            p = float(x)  # non-literal p → ValueError → reject (parity)
            if p < 0 or p > 100:
                raise ValueError(
                    f"percentile fraction {p} out of range [0,100]")
            ps.append(p / 100.0)
        if not ps:
            raise ValueError("percentile requires at least 2 parameters")
        if len(ps) == 1:
            return f"percentile({a[0]}, {ps[0]})"
        cells = ", ', ', ".join(
            f"format_string('%.6f', percentile({a[0]}, {p}))" for p in ps
        )
        return f"concat('[', {cells}, ']')"

    s = _rewrite_call(s, "percentile", percentile_fn)
    s = _rewrite_call(
        s, "hyperloglog",
        # rsd 0.005: the reference HLL (dense, 2^14 registers) is
        # near-exact at test cardinalities; Spark default 0.05 is not
        lambda a: f"approx_count_distinct({a[0]}, 0.005)",
    )
    s = _rewrite_call(
        s, "first_day_of_week",
        lambda a: str(tw.FIRST_DAY_OF_WEEK if tw.FIRST_DAY_OF_WEEK is not None else 4),
    )
    # the reference's stddev is POPULATION stddev (builtins.c stddevFunction:
    # sum-of-squares/n), not Spark's default sample stddev; likewise
    # std and variance (11-Functions test_agg_smoking: std(1..5)=1.4142,
    # variance(1..5)=2.0 — population). *_samp pass through unchanged.
    s = _rewrite_call(s, "stddev", lambda a: f"stddev_pop({a[0]})")
    s = _rewrite_call(s, "std", lambda a: f"stddev_pop({a[0]})")
    s = _rewrite_call(s, "variance", lambda a: f"var_pop({a[0]})")

    def gconcat(a):
        # group_concat(c1[, c2…][, 'sep']) — builtins.c:7559
        # gconcatFunction: per row, concatenate the non-null params with
        # no intra-row separator; 'sep' only between contributing rows;
        # rows whose params are all NULL contribute nothing. Row order is
        # scan (ts) order. Last param is the separator iff it's a string
        # literal; default ','.
        sep, cols = "','", a
        if len(a) > 1 and re.match(r"^\s*'", a[-1]):
            sep, cols = a[-1], a[:-1]
        row = "concat_ws('', " + ", ".join(
            f"cast({c} as string)" for c in cols) + ")"
        nonnull = " OR ".join(f"{c} IS NOT NULL" for c in cols)
        arr = (f"array_sort(collect_list(CASE WHEN {nonnull} THEN "
               f"struct({ts_col} as _o, {row} as _v) END))")
        # element_at(transform(array(x), a -> …), 1) is a let-binding
        # that keeps the whole rewrite ONE balanced call (the window
        # paths parse select items as `call(...) [alias]`)
        return (f"element_at(transform(array({arr}), a -> "
                f"CASE WHEN size(a) > 0 THEN "
                f"array_join(transform(a, x -> x._v), {sep}) END), 1)")

    s = _rewrite_call(s, "group_concat", gconcat)

    def lsq(a):
        # leastsquares(col, start, step) — builtinsimpl.c leastSQRFinalize:
        # OLS of col (non-null rows, scan order) against the arithmetic
        # sequence x_i = start + step*i, rendered '{slop:%.6lf,
        # intercept:%.6lf}'. NULL when no rows or zero x-variance.
        col, x0, dx = a[0], a[1], a[2]
        arr = (f"array_sort(collect_list(CASE WHEN {col} IS NOT NULL THEN "
               f"struct({ts_col} as _o, cast({col} as double) as _v) END))")
        pairs = (f"zip_with({arr}, sequence(0, size({arr}) - 1), (e, i) -> "
                 f"struct(cast({x0} as double) + cast({dx} as double) * i "
                 f"as x, e._v as y))")
        sums = (f"aggregate({pairs}, named_struct('n', 0.0D, 'sx', 0.0D, "
                f"'sy', 0.0D, 'sxx', 0.0D, 'sxy', 0.0D), (a, p) -> "
                f"named_struct('n', a.n + 1.0D, 'sx', a.sx + p.x, "
                f"'sy', a.sy + p.y, 'sxx', a.sxx + p.x * p.x, "
                f"'sxy', a.sxy + p.x * p.y))")
        # element_at(transform(array(x), s -> …), 1) is a let-binding:
        # the aggregate runs once, s names its result in the lambda, and
        # the whole rewrite stays ONE balanced call for the item parsers
        return (
            f"element_at(transform(array({sums}), s -> "
            f"CASE WHEN s.n > 0 AND s.n * s.sxx - s.sx * s.sx <> 0 "
            f"THEN format_string('{{slop:%.6f, intercept:%.6f}}', "
            f"(s.n * s.sxy - s.sx * s.sy) / (s.n * s.sxx - s.sx * s.sx), "
            f"(s.sy - (s.n * s.sxy - s.sx * s.sy) / (s.n * s.sxx - "
            f"s.sx * s.sx) * s.sx) / s.n) END), 1)"
        )

    s = _rewrite_call(s, "leastsquares", lsq)

    if float_cols:
        fre = re.compile(
            r"\b(" + "|".join(re.escape(c) for c in float_cols) + r")\b"
        )

        def finguard(name):
            def wrap(a):
                call = f"{name}(" + ", ".join(a) + ")"
                if not any(fre.search(x) for x in a):
                    return call
                return (
                    f"element_at(transform(array({call}), v -> "
                    f"CASE WHEN isnan(v) OR abs(v) = double('Infinity') "
                    f"THEN NULL ELSE v END), 1)"
                )
            return wrap

        for fn in ("avg", "sum", "stddev_pop", "stddev_samp",
                   "var_pop", "var_samp"):
            s = _rewrite_call(s, fn, finguard(fn))
    return s


_INTERP_RE = re.compile(
    r"""
    ^\s*SELECT\s+(?P<items>.*?\binterp\s*\(.*?)
    \s+FROM\s+(?P<table>[A-Za-z_][\w.]*)
    (?:\s+WHERE\s+(?P<where>.*?))?
    (?:\s+PARTITION\s+BY\s+(?P<partition>.*?))?
    \s+RANGE\s*\(\s*(?P<range>[^)]*)\)
    (?:\s+EVERY\s*\(\s*(?P<every>[^)]+)\))?
    (?:\s+FILL\s*\((?P<fill>[^)]*)\))?
    (?:\s+SURROUND\s*\(\s*(?P<surround>[^)]*)\))?
    (?:\s+ORDER\s+BY\s+(?P<order>.*?))?
    (?:\s+LIMIT\s+(?P<limit>\d+))?
    \s*;?\s*$
    """,
    re.IGNORECASE | re.VERBOSE | re.DOTALL,
)

_INTERP_ITEM_RE = re.compile(
    r"^(?P<expr>_irowts_origin|_irowts|_isfilled"
    r"|interp\s*\(\s*(?P<col>[A-Za-z_]\w*)\s*(?:,\s*(?P<flag>[01])\s*)?\)"
    r"|[A-Za-z_]\w*)"
    r"(?:\s+(?:as\s+)?(?P<alias>[A-Za-z_]\w*))?\s*$",
    re.IGNORECASE,
)


def _fill_scalar(tok: str) -> "float | None":
    """A FILL default literal with the reference's C-cast-to-double
    semantics: numbers pass through, true/false → 1/0, NULL → NULL,
    non-numeric strings → 0 (atof)."""
    tok = tok.strip()
    if tok.upper() == "NULL":
        return None
    if tok.lower() == "true":
        return 1.0
    if tok.lower() == "false":
        return 0.0
    tok = tok.strip("'\"")
    try:
        return float(tok)
    except ValueError:
        return 0.0

_ASOF_JOIN_RE = re.compile(
    r"""
    ^\s*SELECT\s+(?P<select>.*?)
    \s+FROM\s+(?P<ltab>[A-Za-z_][\w.]*)\s+(?:AS\s+)?(?P<lal>[A-Za-z_]\w*)
    \s+(?P<side>LEFT|RIGHT)?\s*ASOF\s+JOIN\s+
    (?P<rtab>[A-Za-z_][\w.]*)\s+(?:AS\s+)?(?P<ral>[A-Za-z_]\w*)
    \s+ON\s+(?P<cond>.*?)
    (?:\s+WHERE\s+(?P<where>.*?))?
    (?:\s+JLIMIT\s+(?P<jlimit>\d+))?
    (?:\s+ORDER\s+BY\s+(?P<order>.*?))?
    (?:\s+LIMIT\s+(?P<limit>\d+))?
    \s*;?\s*$
    """,
    re.IGNORECASE | re.VERBOSE | re.DOTALL,
)

_WINDOW_JOIN_RE = re.compile(
    r"""
    ^\s*SELECT\s+(?P<select>.*?)
    \s+FROM\s+(?P<ltab>[A-Za-z_][\w.]*)\s+(?:AS\s+)?(?P<lal>[A-Za-z_]\w*)
    \s+(?P<side>LEFT|RIGHT)?\s*WINDOW\s+JOIN\s+
    (?P<rtab>[A-Za-z_][\w.]*)\s+(?:AS\s+)?(?P<ral>[A-Za-z_]\w*)
    \s+ON\s+(?P<cond>.*?)
    (?:\s+WHERE\s+(?P<where>.*?))?
    \s+WINDOW_OFFSET\s*\(\s*(?P<lo>-?\w+)\s*,\s*(?P<hi>-?\w+)\s*\)
    (?:\s+JLIMIT\s+(?P<jlimit>\d+))?
    \s*;?\s*$
    """,
    re.IGNORECASE | re.VERBOSE | re.DOTALL,
)


_NOT_KEYWORD = (
    r"(?!(?:ON|JOIN|INNER|LEFT|RIGHT|FULL|CROSS|ASOF|WHERE|GROUP|ORDER"
    r"|PARTITION|INTERVAL|SESSION|STATE_WINDOW|EVENT_WINDOW|COUNT_WINDOW"
    r"|ANOMALY_WINDOW|FILL|HAVING|LIMIT|SLIMIT|UNION|WINDOW|USING|VALUES)"
    r"\b)"
)


def _table_names(sql: str) -> list[str]:
    """Table identifiers appearing after FROM / JOIN keywords, including
    comma-separated FROM lists (``FROM t1, t2`` implicit-join syntax)."""
    out = []
    for m in re.finditer(
        # each comma operand may carry an alias before the comma
        # (FROM t1 a, t2 b); only the first token per segment is the
        # table name — clause keywords must not be eaten as aliases.
        # An optional "(" skips into parenthesized join groups
        # (A join (B join C on …) on …).
        r"\b(?:FROM|JOIN)\s+\(?\s*("
        rf"[A-Za-z_][\w.]*(?:\s+(?:AS\s+)?{_NOT_KEYWORD}[A-Za-z_]\w*)?"
        rf"(?:\s*,\s*[A-Za-z_][\w.]*"
        rf"(?:\s+(?:AS\s+)?{_NOT_KEYWORD}[A-Za-z_]\w*)?)*)",
        sql,
        flags=re.IGNORECASE,
    ):
        for t in re.split(r"\s*,\s*", m.group(1)):
            out.append(t.split()[0])
    return out


_WIN_KEYWORD_RE = re.compile(
    r"\b(?:interval|session|state_window|count_window|event_window"
    r"|anomaly_window)(?=[\s(])",
    re.IGNORECASE,
)


def _split_join_window_tail(sql: str):
    """Detect a dialect time-window clause at paren depth 0 after the
    FROM of a multi-table (join) statement.  Returns
    ``(select_list, from_and_where, window_tail, join_ts or None)`` —
    ``join_ts`` is the left side of the first ts-on-ts equi condition
    (the merged stream's primary key) — or None when the statement has
    no window clause."""
    fm = re.search(r"(?i)\bfrom\b", sql)
    hm = re.match(r"(?is)^\s*select\s+(.*?)\s+from\s+(.*)$", sql)
    if not fm or not hm:
        return None
    pos = next(
        (m.start() for m, depth in _scan(sql, _WIN_KEYWORD_RE, fm.end())
         if depth == 0),
        None,
    )
    if pos is None:
        return None
    head_rest = sql[hm.start(2):pos].strip()
    tail = sql[pos:].strip()
    em = re.search(
        r"(?i)\b([A-Za-z_]\w*\.(?:[A-Za-z_]\w*)?ts\d*)\s*=\s*"
        r"[A-Za-z_]\w*\.(?:[A-Za-z_]\w*)?ts\d*\b",
        head_rest,
    )
    return hm.group(1), head_rest, tail, em.group(1) if em else None


def _from_alias_map(sql: str) -> dict:
    """alias → table map for FROM/JOIN operands (alias maps to itself
    when none is given)."""
    amap = {}
    for m in re.finditer(
        r"\b(?:FROM|JOIN)\s+\(?\s*("
        rf"[A-Za-z_][\w.]*(?:\s+(?:AS\s+)?{_NOT_KEYWORD}[A-Za-z_]\w*)?"
        rf"(?:\s*,\s*[A-Za-z_][\w.]*"
        rf"(?:\s+(?:AS\s+)?{_NOT_KEYWORD}[A-Za-z_]\w*)?)*)",
        sql,
        flags=re.IGNORECASE,
    ):
        for seg in re.split(r"\s*,\s*", m.group(1)):
            toks = [t for t in seg.split() if t.upper() != "AS"]
            if toks:
                amap[toks[-1]] = toks[0].split(".")[-1]
    return amap


def _rel_data_cols(db: Database, name: str) -> "list[str] | None":
    """Declared data columns of a registered table (child tables
    resolve through their parent), None when unknown."""
    st = db.tables.get(name)
    if st is None:
        return None
    if st.parent:
        pt = db.tables.get(st.parent)
        if pt is not None and getattr(pt, "data_cols", None):
            return list(pt.data_cols)
    if getattr(st, "data_cols", None):
        return list(st.data_cols)
    return None


def _rewrite_join_firstlast(db: Database, sql: str) -> str:
    """first/last over a Catalyst-executed join: the reference's
    first/last are ts-keyed selections skipping NULLs
    (builtins.c firstFunction) — rewrite qualified calls to
    min_by/max_by keyed on the operand table's own ts; a table-star
    operand (``first(tb.*)``) expands to the table's data columns
    first (parTranslater.c createAllColumns)."""
    if not re.search(r"(?i)\b(?:first|last)\s*\(", sql):
        return sql
    amap = _from_alias_map(sql)

    def expand(m):
        fn, q = m.group(1), m.group(2)
        cols = _rel_data_cols(db, amap.get(q, q))
        if not cols:
            return m.group(0)
        return ", ".join(f"{fn}({q}.{c})" for c in cols)

    sql = _outside_quotes(
        sql,
        lambda s: re.sub(
            r"(?i)\b(first|last)\s*\(\s*([A-Za-z_]\w*)\.\*\s*\)",
            expand, s,
        ),
    )

    def fl(m):
        fn, q, col = m.group(1).lower(), m.group(2), m.group(3)
        st = db.tables.get(amap.get(q, q))
        ts = st.ts_col if st is not None else "ts"
        pick = "min_by" if fn == "first" else "max_by"
        return (
            f"{pick}({q}.{col}, CASE WHEN {q}.{col} IS NOT NULL"
            f" THEN {q}.{ts} END)"
        )

    return _outside_quotes(
        sql,
        lambda s: re.sub(
            r"(?i)\b(first|last)\s*\(\s*([A-Za-z_]\w*)\.([A-Za-z_]\w*)\s*\)",
            fl, s,
        ),
    )


def _rewrite_join_topbottom(sql: str) -> str:
    """``top(x, k)`` / ``bottom(x, k)`` in a Catalyst-join select list:
    the reference's rank selection keeps the k extreme JOIN rows
    (companion columns ride along) — order by the operand and limit;
    a trailing ORDER BY re-sorts the selected rows."""
    m = re.match(r"(?is)^(\s*select\s+)(.*?)(\s+from\s+.*)$", sql)
    if not m:
        return sql
    sel, rest = m.group(2), m.group(3)
    tm = re.search(
        r"(?i)\b(top|bottom)\s*\(\s*([^,()]+?)\s*,\s*(\d+)\s*\)", sel
    )
    if not tm:
        return sql
    fn, x, k = tm.group(1).lower(), tm.group(2).strip(), int(tm.group(3))
    sel2 = sel[: tm.start()] + x + sel[tm.end():]
    om = re.search(r"(?i)\s+order\s+by\s+(.+?)\s*;?\s*$", rest)
    order = ""
    if om and rest.count("(", 0, om.start()) == rest.count(
        ")", 0, om.start()
    ):
        # outer re-sort addresses the subquery's OUTPUT columns —
        # qualifiers don't survive the derived table
        order = " order by " + re.sub(
            r"\b[A-Za-z_]\w*\.", "", om.group(1)
        )
        rest = rest[: om.start()]
    dirn = "desc" if fn == "top" else "asc"
    inner = f"select {sel2}{rest} order by {x} {dirn} limit {k}"
    if not order:
        return inner
    return f"select * from ({inner}) _topk{order}"


def _operand_star_cols(db: Database, tbl: str) -> "list[str] | None":
    """Star-expansion column list for one join operand: data columns in
    declared order, + tags for a super table (reference
    createAllColumns; tbname/_version never)."""
    st = db.tables.get(tbl)
    if st is None:
        return None
    cols = _rel_data_cols(db, tbl)
    if not cols:
        return None
    if not st.child and not st.parent:
        cols = [*cols, *st.tag_cols]
    return cols


def _expand_join_stars(db: Database, sql: str) -> str:
    """Star expansion for Catalyst-executed joins. The registered views
    carry internal columns (tbname, _version) that the reference's ``*``
    never shows — expand stars against the catalog instead:
    ``select *`` → every operand's columns in FROM order; ``tb.*`` →
    that operand's columns; ``first/last/last_row(*)`` → one call per
    column. ``count(tb.*)`` collapses to count(*) first (row count)."""
    if "*" not in sql:
        return sql
    sql = _outside_quotes(
        sql,
        lambda s: re.sub(
            r"(?i)\bcount\s*\(\s*(?:[A-Za-z_]\w*\.)?\*\s*\)", "count(*)",
            s,
        ),
    )
    amap = _from_alias_map(sql)
    percol: dict = {}
    perdata: dict = {}
    for al, tbl in amap.items():
        cols = _operand_star_cols(db, tbl)
        if cols is None:
            return sql  # unknown operand (subquery): keep Catalyst's *
        percol[al] = cols
        perdata[al] = _rel_data_cols(db, tbl) or cols
    all_items = [
        f"{al}.{c}" for al, cols in percol.items() for c in cols
    ]
    # aggregate star (last(*)) expands to DATA columns only — tags are
    # per-group constants the reference's agg star skips
    data_items = [
        f"{al}.{c}" for al, cols in perdata.items() for c in cols
    ]

    def qstar(m):
        al = m.group(1)
        if al not in percol:
            return m.group(0)
        return ", ".join(f"{al}.{c}" for c in percol[al])

    def fnstar(m):
        fn = m.group(1)
        return ", ".join(f"{fn}({it})" for it in data_items)

    def fnqstar(m):
        fn, al = m.group(1), m.group(2)
        if al not in perdata:
            return m.group(0)
        return ", ".join(f"{fn}({al}.{c})" for c in perdata[al])

    def sub(s):
        s = re.sub(
            r"(?i)\b(first|last|last_row)\s*\(\s*\*\s*\)", fnstar, s
        )
        # fn(tb.*) expands to one call per data column — must run
        # before the generic q.* pass turns it into one 10-arg call
        s = re.sub(
            r"(?i)\b(first|last|last_row)\s*\(\s*([A-Za-z_]\w*)\.\*\s*\)",
            fnqstar, s,
        )
        s = re.sub(r"\b([A-Za-z_]\w*)\.\*(?!\w)", qstar, s)
        return re.sub(
            r"(?is)^(\s*select\s+)\*(\s+from\b)",
            lambda m: m.group(1) + ", ".join(all_items) + m.group(2),
            s,
        )

    return _outside_quotes(sql, sub)


def _coerce_ts_epoch_by_schema(schema, expr: str) -> str:
    """Epoch-int comparisons against TIMESTAMP columns whose NAME the
    *ts suffix heuristic misses (`tscol >= 1420041600000`): promote by
    SCHEMA type instead of name."""
    from pyspark.sql.types import TimestampType

    tcols = [
        f.name for f in schema.fields
        if isinstance(f.dataType, TimestampType)
    ]
    if not tcols:
        return expr
    names = "|".join(re.escape(c) for c in tcols)
    pat = re.compile(
        rf"\b(?P<col>{names})\s*(?P<op>>=|<=|<>|!=|=|>|<)\s*"
        rf"(?P<lit>\d{{12,19}})(?![\w.])"
    )
    bet = re.compile(
        rf"\b(?P<col>{names})\s+BETWEEN\s+(?P<lo>\d{{12,19}})"
        rf"\s+AND\s+(?P<hi>\d{{12,19}})(?![\w.])",
        re.IGNORECASE,
    )
    expr = _outside_quotes(
        expr,
        lambda s: bet.sub(
            lambda m: (
                f"{m.group('col')} BETWEEN {_epoch_lit_sql(m.group('lo'))}"
                f" AND {_epoch_lit_sql(m.group('hi'))}"
            ),
            pat.sub(
                lambda m: (
                    f"{m.group('col')} {m.group('op')} "
                    f"{_epoch_lit_sql(m.group('lit'))}"
                ),
                s,
            ),
        ),
    )
    return expr


def _filter_expr_sql(schema, where_sql: str) -> str:
    """WHERE-expression SQL: binary-literal coercion, boolean-vs-numeric
    coercion, and the reference's untyped-NULL filter (``WHERE NULL`` is
    no rows, not a type error)."""
    w = _coerce_binary_literals(schema, where_sql)
    w = _coerce_bool_numeric(schema, w)
    w = _coerce_numeric_str_literals(schema, w)
    w = _coerce_ts_epoch_by_schema(schema, w)
    if re.fullmatch(r"(?is)\s*null\s*", w):
        return "cast(null as boolean)"
    return w


def _atof_prefix(lit: str) -> str:
    """C strtod semantics the reference's string→numeric conversion
    uses (convertImpl): the longest numeric prefix, 0 when none."""
    m = re.match(r"\s*[-+]?\d*\.?\d+(?:[eE][-+]?\d+)?", lit)
    return m.group(0).strip() if m and m.group(0).strip() else "0"


def _coerce_numeric_str_literals(schema, expr: str) -> str:
    """``num_col between 'NUL' and 'HT'`` / ``num_col = 'abc'``: the
    reference converts the string by C strtod (non-numeric → 0); Spark
    casts to NULL and drops every row."""
    from pyspark.sql.types import NumericType

    ncols = [
        f.name for f in schema.fields
        if isinstance(f.dataType, NumericType)
    ]
    if not ncols or "'" not in expr:
        return expr
    names = "|".join(re.escape(c) for c in ncols)
    expr = re.sub(
        rf"(?i)\b((?:[A-Za-z_]\w*\.)?(?:{names}))"
        r"\s+between\s+'([^']*)'\s+and\s+'([^']*)'",
        lambda m: (
            f"{m.group(1)} between {_atof_prefix(m.group(2))}"
            f" and {_atof_prefix(m.group(3))}"
        ),
        expr,
    )
    return re.sub(
        rf"(?i)\b((?:[A-Za-z_]\w*\.)?(?:{names}))"
        r"\s*(>=|<=|<>|!=|=|>|<)\s*'([^']*)'",
        lambda m: (
            f"{m.group(1)} {m.group(2)} {_atof_prefix(m.group(3))}"
        ),
        expr,
    )


def _coerce_bool_numeric(schema, expr: str) -> str:
    """``bool_col between 0 and 1`` / ``bool_col >= 0``: the reference
    compares BOOL as its 0/1 integer (filterOperator.c promotion);
    Spark needs the cast."""
    from pyspark.sql.types import BooleanType

    bcols = [
        f.name for f in schema.fields
        if isinstance(f.dataType, BooleanType)
    ]
    if not bcols:
        return expr
    names = "|".join(re.escape(c) for c in bcols)
    expr = re.sub(
        rf"(?i)\b((?:[A-Za-z_]\w*\.)?(?:{names}))"
        r"(\s+between\s+-?\d+(?:\.\d+)?\s+and\s+-?\d+(?:\.\d+)?)",
        r"cast(\1 as int)\2",
        expr,
    )
    expr = re.sub(
        rf"(?i)\b((?:[A-Za-z_]\w*\.)?(?:{names}))"
        r"(\s*(?:>=|<=|<>|!=|=|>|<)\s*-?\d+(?:\.\d+)?)(?![\w.])",
        r"cast(\1 as int)\2",
        expr,
    )
    return re.sub(
        rf"(?i)\b((?:[A-Za-z_]\w*\.)?(?:{names}))"
        r"(\s+(?:not\s+)?in\s*\(\s*-?\d[^()]*\))",
        r"cast(\1 as int)\2",
        expr,
    )


def _binary_lit_hex(lit: str) -> str:
    """SQL hex literal for a string compared against a VARBINARY column:
    0x-forms are hex bytes, others their utf-8 bytes (same rule as the
    VALUES coercion)."""
    if re.fullmatch(r"0[xX][0-9a-fA-F]*", lit):
        h = lit[2:]
        return f"X'{'0' + h if len(h) % 2 else h}'"
    return f"X'{lit.encode('utf-8').hex()}'"


def _coerce_binary_literals(schema, expr: str) -> str:
    """Rewrite string literals compared (or IN-listed) against
    binary-typed columns into X'…' hex literals — Spark rejects
    string-vs-binary comparisons the reference's parser coerces."""
    from pyspark.sql.types import BinaryType

    bincols = [
        f.name for f in schema.fields if isinstance(f.dataType, BinaryType)
    ]
    if not bincols or "'" not in expr:
        return expr
    names = "|".join(re.escape(c) for c in bincols)

    def cmp_sub(m):
        return f"{m.group(1)} {m.group(2)} {_binary_lit_hex(m.group(3))}"

    expr = re.sub(
        rf"(?i)\b((?:[A-Za-z_]\w*\.)?(?:{names}))\s*"
        r"(>=|<=|<>|!=|=|>|<)\s*'([^']*)'",
        cmp_sub,
        expr,
    )

    def in_sub(m):
        not_kw = m.group(2) or ""
        items = [
            _binary_lit_hex(t.strip()[1:-1])
            if t.strip().startswith("'") else t.strip()
            for t in _split_select(m.group(3))
        ]
        return f"{m.group(1)} {not_kw}in ({', '.join(items)})"

    return re.sub(
        rf"(?i)\b((?:[A-Za-z_]\w*\.)?(?:{names}))\s+"
        r"(not\s+)?in\s*\(([^)]*)\)",
        in_sub,
        expr,
    )


def _promote_ts_numeric_cmp(spark: SparkSession, sql: str) -> str:
    """``a.ts = b.c1`` (timestamp vs numeric column): the reference
    promotes the numeric operand to epoch ticks in the db precision
    (filterOperator.c type promotion); Spark rejects the comparison.
    Type-checked against the registered views' schemas, so
    timestamp-vs-timestamp and numeric-vs-numeric pairs are untouched."""
    from pyspark.sql.types import NumericType, TimestampType

    amap = _from_alias_map(sql)
    schemas: dict = {}

    def coltype(q, c):
        t = amap.get(q, q)
        if t not in schemas:
            try:
                schemas[t] = {
                    f.name.lower(): f.dataType
                    for f in spark.table(t).schema.fields
                }
            except Exception:  # noqa: BLE001 — unknown relation
                schemas[t] = {}
        return schemas[t].get(c.lower())

    conv = {
        "ms": "timestamp_millis(cast({x} as bigint))",
        "us": "timestamp_micros(cast({x} as bigint))",
        "ns": "timestamp_micros(cast({x} as bigint) div 1000)",
    }.get(_DB_PRECISION, "timestamp_millis(cast({x} as bigint))")

    def sub(m):
        q1, c1, op, q2, c2 = m.groups()
        t1, t2 = coltype(q1, c1), coltype(q2, c2)
        if isinstance(t1, TimestampType) and isinstance(t2, NumericType):
            return f"{q1}.{c1} {op} " + conv.format(x=f"{q2}.{c2}")
        if isinstance(t2, TimestampType) and isinstance(t1, NumericType):
            return conv.format(x=f"{q1}.{c1}") + f" {op} {q2}.{c2}"
        return m.group(0)

    return _outside_quotes(
        sql,
        lambda s: re.sub(
            r"\b([A-Za-z_]\w*)\.([A-Za-z_]\w*)\s*"
            r"(>=|<=|<>|!=|=|>|<)\s*([A-Za-z_]\w*)\.([A-Za-z_]\w*)\b",
            sub, s,
        ),
    )


def _dequalify_tables(sql: str, db: Database) -> str:
    """Strip db qualifiers from table references: ``db1.st1`` → ``st1``
    when ``st1`` is a table in ``db`` and ``db1`` is not (the reference
    addresses tables as ``<db>.<tbl>``; our Database is single-level).

    Only (prefix, table) pairs that actually appear as FROM/JOIN
    operands are rewritten, and only outside string literals — so
    ``WHERE s = 'db1.events'`` and alias-qualified column refs that
    happen to collide with a table name (``o.part``) stay untouched."""
    import os

    # db-qualifier pairs observed in FROM/JOIN operand position
    pairs = set()
    for t in _table_names(sql):
        if "." in t:
            pre, suf = t.split(".", 1)
            if (
                os.path.exists(f"{db.root}/{suf}.parquet")
                # registered child tables live in the parent's dataset
                or suf in db.tables
            ) and not os.path.exists(f"{db.root}/{pre}.parquet"):
                pairs.add((pre.lower(), suf.lower()))
    if not pairs:
        return sql

    def sub(m):
        if (m.group(1).lower(), m.group(2).lower()) in pairs:
            return m.group(2)
        return m.group(0)

    return _outside_quotes(
        sql,
        lambda s: re.sub(r"\b([A-Za-z_]\w*)\.([A-Za-z_]\w*)\b", sub, s),
    )


def _register_views(spark: SparkSession, db: Database, sql: str) -> None:
    """Register every referenced parquet table as a temp view so Catalyst
    can parse the standard-SQL query against ``db``'s data."""
    import os

    for t in dict.fromkeys(_table_names(sql)):
        if os.path.exists(f"{db.root}/{t}.parquet"):
            db.read(spark, t).createOrReplaceTempView(t)
            continue
        reg = db.tables.get(t)
        if reg is not None and reg.parent:
            # child table: its rows live in the parent's dataset —
            # register the tbname slice
            sliced = _child_slice(spark, db, t)
            if sliced is not None:
                sliced.createOrReplaceTempView(t)


_INFO_SCHEMA_RE = re.compile(r"\binformation_schema\.(\w+)", re.IGNORECASE)


def _split_top_and(expr: str) -> "list[str]":
    """Split a predicate on depth-0 ANDs outside string literals.
    The AND inside ``x BETWEEN a AND b`` joins BETWEEN's two bounds,
    not two conjuncts — it must stay inside one part."""
    parts, lo = [], 0
    between = 0  # pending BETWEEN…AND pairs at any depth
    for m, depth in _scan(expr, r"(?i:\b(?:AND|BETWEEN)\b)"):
        if m.group().upper() == "BETWEEN":
            between += 1
        elif between:
            between -= 1
        elif depth == 0:
            parts.append(expr[lo:m.start()])
            lo = m.end()
    parts.append(expr[lo:])
    return [p.strip() for p in parts if p.strip()]


_TBNAME_EQ_RE = re.compile(
    r"(?i)^\s*tbname\s*=\s*'([^']*)'\s*$|^\s*'([^']*)'\s*=\s*tbname\s*$"
)
_TBNAME_IN_RE = re.compile(r"(?i)^\s*tbname\s+in\s*\(([^()]*)\)\s*$")


def _pinned_tbnames(where: "str | None") -> "list[str] | None":
    """Child tables pinned by the WHERE clause — ``tbname='c2'`` or
    ``tbname in ('a','b')`` appearing as a depth-0 conjunct — else None.
    The reference prunes non-matching children at planning time
    (before TableMergeScan), so a pinned scan must filter tbname BEFORE
    the cross-child composite-pk merge. A depth-0 OR makes conjunct
    extraction unsound — bail out (merge stays conservative)."""
    if not where or not re.search(r"(?i)\btbname\b", where):
        return None
    if len(_split_top_or(where)) > 1:
        return None  # depth-0 OR
    names: "list[str] | None" = None
    for conj in _split_top_and(where):
        m = _TBNAME_EQ_RE.match(conj)
        if m:
            names = (names or []) + [
                m.group(1) if m.group(1) is not None else m.group(2)
            ]
            continue
        m = _TBNAME_IN_RE.match(conj)
        if m:
            items = [v.strip() for v in _split_depth0(m.group(1))]
            if items and all(
                len(v) >= 2 and v[0] == "'" and v[-1] == "'" for v in items
            ):
                names = (names or []) + [v[1:-1] for v in items]
    return names


def _session_dbs(db: Database) -> dict:
    """All databases the session knows (information_schema spans dbs):
    the current one plus its registered siblings."""
    out = dict(db.siblings or {})
    out[getattr(db, "name", "db") or "db"] = db
    return out


def _resolve_information_schema(
    spark: SparkSession, db: Database, sql: str
) -> str:
    """``information_schema.ins_*`` references → synthesized temp views
    (reference sysscanoperator.c serves these from mnode metadata; here
    they come from the Database catalog / Spark session)."""
    views = {m.group(1).lower() for m in _INFO_SCHEMA_RE.finditer(sql)}
    if not views:
        return sql
    from tdengine_spark.catalog import information_schema

    for name in _db_tables(db):
        db.table(name)
    for v in views:
        information_schema(spark, _session_dbs(db), v).createOrReplaceTempView(
            f"_is_{v}"
        )
    return _INFO_SCHEMA_RE.sub(lambda m: f"_is_{m.group(1).lower()}", sql)


def _child_slice(spark: SparkSession, db: Database, name: str):
    """A child table created via ``INSERT … USING stable`` has no dataset
    of its own — its rows live in the super table's dataset under
    ``tbname = name``. Returns that filtered slice, or None."""
    import os

    reg = db.tables.get(name)
    if reg is not None and reg.parent and os.path.exists(
        f"{db.root}/{reg.parent}.parquet"
    ):
        parent = db.table(reg.parent)
        # per-child slice: no cross-child (ts, pk) merge — the reference
        # dedupes only in the merged TableMergeScan, a child keeps its rows
        df = parent.read(spark, dedup=parent.managed, pk_merge=False)
        return df.where(F.col("tbname") == (reg.src_name or name))
    for st_tbl in list(db.tables.values()):
        if st_tbl.name == name or not os.path.exists(st_tbl.path):
            continue
        df = st_tbl.read(spark)
        if (
            "tbname" in df.columns
            and df.where(F.col("tbname") == name).limit(1).count()
        ):
            return df.where(F.col("tbname") == name)
    return None


def _read_rel(spark: SparkSession, db: Database, name: str) -> DataFrame:
    """A FROM operand: parquet table in ``db``, else a registered temp
    view (e.g. a translated subquery), else a child-table slice of a
    super table."""
    import os

    globals()["_ACTIVE_DEGRADED"] = name in _VIEW_DEGRADED
    if os.path.exists(f"{db.root}/{name}.parquet"):
        reg0 = db.tables.get(name)
        return db.read(
            spark, name, dedup=bool(reg0 is not None and reg0.managed)
        )
    if name in db.tables:
        # registry FIRST: join translation registers temp views under
        # table names — after a drop/create-database cycle those views
        # point at the previous generation's data
        child = _child_slice(spark, db, name)
        if child is not None:
            return child
    if _view_exists(spark, name):
        return spark.table(name)
    child = _child_slice(spark, db, name)
    if child is not None:
        return child
    raise ValueError(f"unknown table or view {name!r}")


# `SELECT <items> FROM t [WHERE w] [ORDER BY o] [LIMIT n]` where one
# item is a selection function — detected before _CLAUSE_RE because the
# companion items ride the selected row, not a GROUP BY
_SELECTION_STMT_RE = re.compile(
    r"""
    ^\s*SELECT\s+(?P<items>.*?)\s+FROM\s+(?P<table>[A-Za-z_][\w.]*)
    (?:\s+WHERE\s+(?P<where>.*?))?
    (?:\s+ORDER\s+BY\s+(?P<order>.*?))?
    (?:\s+LIMIT\s+(?P<limit>\d+))?
    \s*;?\s*$
    """,
    re.IGNORECASE | re.VERBOSE | re.DOTALL,
)

_SEL_FN_ITEM_RE = re.compile(
    r"^(first|last|mode|unique|min|max)\s*\(\s*([A-Za-z_]\w*)\s*\)"
    r"(?:\s+(?:as\s+)?(?P<alias>[A-Za-z_]\w*))?\s*$",
    re.IGNORECASE,
)

_ITEM_ALIAS_RE = re.compile(
    # the expr may not end on a binary operator: `timediff(…) + t1` is
    # ONE expression (t1 is the + operand), not `timediff(…) +` AS t1
    r"^(?P<expr>.+?(?<![-+*/%,<>=|&(]))"
    r"(?:\s+(?:as\s+)?(?P<alias>[A-Za-z_]\w*))?\s*$",
    re.DOTALL,
)


_CLAUSE_TAIL_RE = re.compile(
    r"""\b(?:GROUP\s+BY|PARTITION\s+BY|HAVING|SLIMIT
         |INTERVAL\s*\(|SESSION\s*\(|STATE_WINDOW\s*\(
         |EVENT_WINDOW\b|COUNT_WINDOW\s*\(|ANOMALY_WINDOW\s*\(
         |FILL\s*\()""",
    re.IGNORECASE | re.VERBOSE,
)


def _has_clause_tail(text: str) -> bool:
    """True when ``text`` holds a depth-0, unquoted window/grouping
    clause keyword — i.e. _SELECTION_STMT_RE's lazy WHERE capture
    swallowed a clause that the _CLAUSE_RE path must handle."""
    return any(depth == 0 for _, depth in _scan(text, _CLAUSE_TAIL_RE))


def _match_selection_stmt(sql: str):
    """(clause-match, parsed-items, fn-index) when ``sql`` is a
    selection-function statement with companion items, else None.

    TDengine selection functions (first/last/mode/unique,
    builtins.c FUNC_MGT_SELECT_FUNC) let plain columns accompany the
    function in the select list; the companions take their values from
    the selected row(s) — not expressible as a Spark GROUP BY."""
    m = _SELECTION_STMT_RE.match(sql)
    if not m:
        return None
    # grouped / windowed statements belong to the clause path — a lazy
    # WHERE capture can swallow their tail (GROUP BY / PARTITION BY /
    # INTERVAL(...) …), which would route garbage into F.expr
    for grp in ("where", "order"):
        if m.group(grp) and _has_clause_tail(m.group(grp)):
            return None
    items = _split_select(m.group("items"))
    if len(items) < 2:
        return None
    fn_idx = None
    for i, it in enumerate(items):
        if _SEL_FN_ITEM_RE.match(it.strip()):
            if fn_idx is not None:
                return None  # multiple selection fns — out of scope
            fn_idx = i
    if fn_idx is None:
        return None
    if any(_has_agg(it) for i, it in enumerate(items) if i != fn_idx):
        return None  # selection + ordinary aggregates: _CLAUSE_RE path
    return m, items, fn_idx


def _translate_selection(
    spark: SparkSession, db: Database, m, items, fn_idx, ts_col: str
) -> DataFrame:
    """Selection-function select list with companion columns:

    - first/last(c): one row — each output = min_by/max_by(item, ts
      over non-null c), matching the reference's "other columns take
      the first/last row's values".
    - mode(c): the row of the most frequent c (ties → earliest first
      occurrence, matching the reference's golden answers); companions
      via min_by(item, ts) within the winning group.
    - unique(c): one row per distinct c at its first occurrence.
    """
    g = m.groupdict()
    base = _read_rel(spark, db, g["table"])
    if "tbname" not in base.columns and any(
        re.search(r"(?i)\btbname\b", re.sub(r"'[^']*'", "''", it))
        for it in items
    ):
        # tbname over a NORMAL table is the table's own name
        # (parTranslater translates the pseudo-column for any kind)
        base = base.withColumn(
            "tbname", F.lit(g["table"].split(".")[-1])
        )
    if g["where"]:
        base = base.where(
            F.expr(_filter_expr_sql(
                base.schema, _rewrite_ops(g["where"])
            ))
        )
    fm = _SEL_FN_ITEM_RE.match(items[fn_idx].strip())
    fn, col = fm.group(1).lower(), fm.group(2)
    fn_alias = fm.group("alias") or f"{fn}({col})"

    def companions(indexed: bool = False):
        out = []
        for i, it in enumerate(items):
            if i == fn_idx:
                continue
            am = _ITEM_ALIAS_RE.match(it.strip())
            expr = _rewrite_ops(am.group("expr"))
            pair = (expr, am.group("alias") or am.group("expr"))
            out.append((i, *pair) if indexed else pair)
        return out

    def comp(e, a, wrapped_sql):
        # a companion that is ITSELF an aggregate (`first(c1)*91,
        # last(c3)`) is an independent aggregate over the same scan —
        # wrapping it in the anchor's pick would nest aggregates.
        # Returns a LIST: a cols(…) companion expands to several
        # aliased aggregates
        if _AGG_CALL_RE.search(e):
            parts = _split_select(_rewrite_aggs(e, ts_col))
            if len(parts) > 1:
                return [F.expr(p) for p in parts]
            return [F.expr(parts[0]).alias(a)]
        return [F.expr(wrapped_sql).alias(a)]

    if fn in ("first", "last"):
        tkey = ts_col
        if _ACTIVE_DEGRADED and "_rowidx" in base.columns:
            # degraded-timeline duplicate ties break by ARRIVAL: last()
            # returns the FIRST arrival among max-timeline rows
            # (timeline_fallback.ans t_dupmax `last(c0), c1` = 10)
            tkey = (
                f"struct({ts_col}, _rowidx)" if fn == "first"
                else f"struct({ts_col}, -_rowidx)"
            )
        guard = f"CASE WHEN {col} IS NOT NULL THEN {tkey} END"
        pick = "min_by" if fn == "first" else "max_by"
        aggs = []
        for i, e, a in companions(indexed=True):
            aggs.extend(comp(e, a, f"{pick}({e}, {guard})"))
        # the anchor sits at its ORIGINAL position among the (possibly
        # expanded) companions
        pos = sum(
            len(comp(e, a, "0")) for i, e, a in companions(indexed=True)
            if i < fn_idx
        )
        aggs.insert(pos, F.expr(f"{pick}({col}, {guard})").alias(fn_alias))
        # all-NULL input (or no rows): firstLastFinalize numOfElems = 0
        # → NO result row (golden: `select last(c2) from tb9` with c2
        # all-NULL → checkRows(0); timeline_fallback t_allnull)
        out = base.agg(*aggs).where(F.col(f"`{fn_alias}`").isNotNull())
    elif fn in ("min", "max"):
        # min/max are selection functions too: companions take their
        # values from the extremal ROW (ts breaks value ties — first
        # occurrence wins, builtins.c minmax row selection)
        if fn == "min":
            key = f"struct({col}, unix_micros({ts_col}))"
        else:  # max with earliest-ts tie break: negate the ts component
            key = f"struct({col}, -unix_micros({ts_col}))"
        pick = "min_by" if fn == "min" else "max_by"
        aggs = [
            c for e, a in companions()
            for c in comp(e, a, f"{pick}({e}, {key})")
        ]
        aggs.insert(fn_idx, F.expr(f"{fn}({col})").alias(fn_alias))
        out = (
            base.where(F.col(col).isNotNull())
            .agg(*aggs)
            # all-NULL input: no result row (minmaxFunction numOfElems=0)
            .where(F.col(f"`{fn_alias}`").isNotNull())
        )
    elif fn == "mode":
        # modeFunction (builtinsimpl.c:7461) SKIPS NULL values; on a
        # value's re-occurrence doModeAdd updateTupleData re-saves the
        # row, so companions ride the LATEST occurrence of the winning
        # value. Count ties pick the earliest-first-occurrence value
        # (hash order is engine-"random"; this matches the reference's
        # golden answers). All-NULL input: mode is NULL and companions
        # ride the FIRST row (nullTuplePos = block start) — modeled as
        # a count -1 group that only wins when nothing else exists.
        comps = list(companions())
        ag = []
        for i, (e, _a) in enumerate(comps):
            ag.append(F.expr(f"max_by({e}, {ts_col})").alias(f"_lst{i}"))
            ag.append(F.expr(f"min_by({e}, {ts_col})").alias(f"_fst{i}"))
        grouped = base.groupBy(F.col(col).alias(fn_alias)).agg(
            *ag,
            F.count(F.lit(1)).alias("_cnt"),
            F.min(ts_col).alias("_fts"),
        )
        pickrow = grouped.orderBy(
            F.when(F.col(fn_alias).isNull(), F.lit(-1))
            .otherwise(F.col("_cnt")).desc(),
            F.col("_fts").asc(),
        ).limit(1)
        sel = [
            F.when(F.col(fn_alias).isNull(), F.col(f"_fst{i}"))
            .otherwise(F.col(f"_lst{i}")).alias(a)
            for i, (_e, a) in enumerate(comps)
        ]
        sel.insert(fn_idx, F.col(fn_alias))
        out = pickrow.select(*sel)
    else:
        aggs = [
            F.expr(f"min_by({e}, {ts_col})").alias(a) for e, a in companions()
        ]
        grouped = base.groupBy(F.col(col).alias(fn_alias)).agg(
            *aggs,
            F.count(F.lit(1)).alias("_cnt"),
            F.min(ts_col).alias("_fts"),
        )
        names = [a for _, a in companions()]
        names.insert(fn_idx, fn_alias)
        out = grouped.select(*[F.col(n) for n in names])
    if g["order"]:
        # order items outside the select list are dropped (the
        # reference tolerates `select first(c2) a … order by c2` —
        # one selected row, the sort is a planner no-op). Matching is
        # case-insensitive and expression items whose identifiers all
        # resolve to output columns (`cast(ts as bigint)`) are kept.
        low = {c.lower() for c in out.columns}
        _kw = {
            "asc", "desc", "nulls", "first", "last", "and", "or", "not",
            "case", "when", "then", "else", "end", "between", "in", "is",
            "null", "true", "false", "as", "cast", "interval", "bigint",
            "int", "integer", "double", "float", "timestamp", "varchar",
            "binary", "nchar", "smallint", "tinyint", "bool", "unsigned",
        }
        items = []
        for p in _split_select(g["order"]):
            p = p.strip()
            desc_ = bool(
                re.search(r"(?i)\bdesc(\s+nulls\s+(first|last))?\s*$", p)
            )
            body = re.sub(
                r"(?i)(\s+(asc|desc))?(\s+nulls\s+(first|last))?\s*$",
                "", p,
            ).strip()
            b = body.strip("`")
            if b.isdigit():
                items.append((F.col(out.columns[int(b) - 1]), desc_))
            elif b.lower() in low:
                items.append((F.col(b), desc_))
            else:
                ids = {
                    t.lower()
                    for t in re.findall(r"\b[A-Za-z_]\w*\b(?!\s*\()", body)
                } - _kw
                if ids and ids <= low:
                    items.append((F.expr(body), desc_))
        if items:
            out = out.orderBy(
                *[(c.desc() if d else c) for c, d in items]
            )
    if g["limit"]:
        out = out.limit(int(g["limit"]))
    return out


_PK_SEMI_ANTI_RE = re.compile(
    r"\b(?P<side>LEFT|RIGHT)\s+(?P<kind>SEMI|ANTI)\s+JOIN\b", re.IGNORECASE
)


def _take_operand(text: str):
    """Parse a FROM operand: ``( subquery )`` or identifier, plus an
    optional [AS] alias. Returns (operand_text, alias, rest)."""
    text = text.lstrip()
    if text.startswith("("):
        j = _close_paren(text, 0)
        if j < 0:
            j = len(text)
        op, rest = text[:j], text[j:]
    else:
        m = re.match(r"[A-Za-z_][\w.]*", text)
        op, rest = m.group(0), text[m.end() :]
    am = re.match(r"\s+(?:AS\s+)?([A-Za-z_]\w*)", rest, re.IGNORECASE)
    alias = None
    if am and am.group(1).upper() not in (
        "ON", "LEFT", "RIGHT", "INNER", "FULL", "JOIN", "WHERE",
    ):
        alias = am.group(1)
        rest = rest[am.end() :]
    return op, alias, rest


def _operand_df(spark: SparkSession, db: Database, text: str, ts_col: str):
    """Translate a join operand to (DataFrame, pick_order) where
    pick_order is (col, descending) — the operand's own ORDER BY, or
    storage order (ts asc) when unordered. The reference's semi join
    picks the FIRST match in the other side's row order, so the order
    must survive the subquery boundary."""
    text = text.strip()
    order = (ts_col, False)
    if text.startswith("("):
        inner = _strip_outer_parens(text)
        om = re.search(
            r"\border\s+by\s+([A-Za-z_]\w*)(\s+desc)?\s*(?:limit\s+\d+)?\s*$",
            inner,
            re.IGNORECASE,
        )
        if om:
            order = (om.group(1), om.group(2) is not None)
        df = translate(spark, db, inner, ts_col)
        if order[0] not in df.columns:
            # the order key was projected away — fall back to the ts
            # column, any ts-suffixed projection of it, or the first
            # column (storage order rides the ts-ordered projection)
            cand = (
                [c for c in df.columns if c == ts_col]
                or [c for c in df.columns if c.endswith("ts")]
                or [df.columns[0]]
            )
            order = (cand[0], order[1])
        return df, order
    return _read_rel(spark, db, text), order


def _translate_semi_anti(
    spark: SparkSession, db: Database, sql: str, jm, ts_col: str
) -> DataFrame:
    """``X [AS] a LEFT|RIGHT SEMI|ANTI JOIN Y [AS] b ON cond`` with the
    reference's semantics (joinoperator.c M_JOIN_SUBTYPE_SEMI/ANTI):

    - SEMI emits each driving-side row once with the columns of its
      FIRST matching row from the other side (first in that side's row
      order) — unlike Spark's LEFT SEMI, the other side is projectable.
    - ANTI emits driving-side rows with no match, other side
      NULL-extended.

    LEFT drives from the first operand, RIGHT from the second. Executed
    as one shuffle join plus a per-driving-row row_number pick."""
    from pyspark.sql.window import Window

    side, kind = jm.group("side").upper(), jm.group("kind").upper()
    pre, post = sql[: jm.start()], sql[jm.end() :]
    pm = re.match(
        r"^\s*SELECT\s+(?P<select>.*?)\s+FROM\s+(?P<rest>.*)$",
        pre,
        re.IGNORECASE | re.DOTALL,
    )
    if not pm:
        raise ValueError(f"unsupported semi/anti join shape: {sql!r}")
    ltext, lal, lrest = _take_operand(pm.group("rest"))
    if lrest.strip():
        raise ValueError(f"unparsed join text before operator: {lrest!r}")
    rtext, ral, rrest = _take_operand(post)
    om = re.match(r"\s*ON\s+(?P<cond>.*?)\s*;?\s*$", rrest,
                  re.IGNORECASE | re.DOTALL)
    if not om:
        raise ValueError(f"semi/anti join needs an ON clause: {sql!r}")
    lal, ral = lal or "a", ral or "b"
    ldf, lorder = _operand_df(spark, db, ltext, ts_col)
    rdf, rorder = _operand_df(spark, db, rtext, ts_col)
    cond = F.expr(_rewrite_ops(om.group("cond")))
    sel = _split_select(pm.group("select"))

    def key(order, alias=None):
        c = F.col(f"{alias}.{order[0]}" if alias else order[0])
        return c.desc() if order[1] else c.asc()

    if kind == "SEMI":
        # row_number over the driving side's own order: a deterministic
        # surrogate id. Single-partition window is fine here — the
        # reference planner rejects every non-ts-equi join shape, so
        # this path only ever sees small compat queries.
        if side == "LEFT":
            drv_al, drv, drv_ord = lal, ldf, lorder
            oth_al, oth, oth_ord = ral, rdf, rorder
        else:
            drv_al, drv, drv_ord = ral, rdf, rorder
            oth_al, oth, oth_ord = lal, ldf, lorder
        drv = drv.withColumn(
            "_did", F.row_number().over(Window.orderBy(key(drv_ord)))
        )
        if side == "LEFT":
            j = drv.alias(lal).join(oth.alias(ral), cond, "inner")
        else:
            j = oth.alias(lal).join(drv.alias(ral), cond, "inner")
        w = Window.partitionBy(F.col(f"{drv_al}._did")).orderBy(
            key(oth_ord, oth_al)
        )
        return (
            j.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .selectExpr(*sel)
            .drop("_did", "_rn")
        )
    # ANTI: left join against a match marker, keep unmatched driving rows
    if side == "LEFT":
        j = ldf.alias(lal).join(
            rdf.withColumn("_m", F.lit(1)).alias(ral), cond, "left"
        )
        out = j.where(F.col(f"{ral}._m").isNull())
    else:
        j = rdf.alias(ral).join(
            ldf.withColumn("_m", F.lit(1)).alias(lal), cond, "left"
        )
        out = j.where(F.col(f"{lal}._m").isNull())
    return out.selectExpr(*sel).drop("_m")


_EXTWIN_TAIL_RE = re.compile(
    r"^\s*(?:FILL\s*\(\s*(?P<fill>[^)]*)\))?"
    r"\s*(?:HAVING\s*(?P<having>\(.*?\)|.+?))?"
    r"(?:\s*ORDER\s+BY\s+(?P<order>.*?))?"
    r"(?:\s*LIMIT\s+(?P<limit>\d+))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_EXTWIN_HEAD_RE = re.compile(
    r"^\s*SELECT\s+(?P<items>.*?)\s+FROM\s+(?P<table>[A-Za-z_][\w.]*)"
    r"(?:\s+WHERE\s+(?P<where>.*?))?"
    r"(?:\s+PARTITION\s+BY\s+(?P<partition>.*?))?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _translate_external_window(
    spark: SparkSession, db: Database, sql: str, em, ts_col: str,
    hint: "str | None" = None,
) -> DataFrame:
    """``SELECT <items> FROM fact [WHERE..] [PARTITION BY k]
    EXTERNAL_WINDOW((<window query>) w) [HAVING..] [ORDER BY..]
    [LIMIT n]`` → operators.externalwindow.external_window. Items mix
    fact columns, ``w.<payload>`` refs (arithmetic allowed),
    ``_wstart``/``_wend`` and aggregates; with aggregates present the
    non-aggregate items become the per-window group keys."""
    from tdengine_spark.operators.externalwindow import (
        WEND, WID, WPREFIX, WSTART, external_window,
    )

    hm = _EXTWIN_HEAD_RE.match(sql[: em.start()])
    if not hm:
        raise ValueError(f"unsupported external_window head: {sql!r}")
    i = _close_paren(sql, em.end() - 1)
    if i < 0:
        raise ValueError("unbalanced EXTERNAL_WINDOW clause")
    inner = sql[em.end() : i - 1]
    sub_text, walias, rest = _take_operand(inner)
    if rest.strip():
        raise ValueError(f"unparsed external_window text: {rest!r}")
    tm = _EXTWIN_TAIL_RE.match(sql[i:])
    g, t = hm.groupdict(), tm.groupdict() if tm else {}

    fact = _read_rel(spark, db, g["table"])
    if g["where"]:
        fact = fact.where(F.expr(_rewrite_ops(g["where"])))
    keys = (
        [c.strip() for c in _split_select(g["partition"])]
        if g["partition"] else []
    )
    sub_sql = _strip_outer_parens(sub_text)
    windows = translate(spark, db, sub_sql, ts_col)
    missing = [k for k in keys if k not in windows.columns]
    if missing:
        # partition-correlated external windows: each outer partition
        # uses its own partition's windows (reference semantics — the
        # r7 pk corpus and 09-WindowProjection mode goldens both depend
        # on it). If the subquery partitions by the same keys but does
        # not project them, re-translate with the keys appended so the
        # join can correlate; otherwise the window set is shared, and
        # per-partition duplicates collapse to a distinct rowset.
        sub_keys_m = re.search(
            r"\b(?:partition|group)\s+by\s+(.*?)(?:\s+interval"
            r"|\s+session"
            r"|\s+state_window|\s+event_window|\s+count_window"
            r"|\s+order\s+by|\s+group\s+by|\s+having|\s+fill"
            r"|\s+s?limit|\s*$)",
            sub_sql,
            re.IGNORECASE | re.DOTALL,
        )
        sub_keys = (
            [c.strip() for c in sub_keys_m.group(1).split(",")]
            if sub_keys_m
            else []
        )
        if all(k in sub_keys for k in missing):
            fm = re.search(r"\bfrom\b", sub_sql, re.IGNORECASE)
            aug = (
                sub_sql[: fm.start()]
                + ", "
                + ", ".join(missing)
                + " "
                + sub_sql[fm.start():]
            )
            windows = translate(spark, db, aug, ts_col)
        elif sub_keys and len(sub_keys) == len(keys):
            # differently-NAMED partition keys correlate by VALUE: each
            # subquery partition's windows apply to the outer partition
            # whose key value equals it (function_matrix.ans: partition
            # by t1 over windows partitioned by mark → 0 rows; by v2 →
            # only the v2==mark partition joins)
            fm = re.search(r"\bfrom\b", sub_sql, re.IGNORECASE)
            proj = ", ".join(
                f"{sk} AS {ok}"
                for ok, sk in zip(keys, sub_keys)
                if ok in missing
            )
            aug = (
                sub_sql[: fm.start()] + ", " + proj + " "
                + sub_sql[fm.start():]
            )
            windows = translate(spark, db, aug, ts_col)
        else:
            windows = windows.distinct()
    fill_parts = (
        [p.strip() for p in _split_select(t["fill"])] if t.get("fill") else []
    )
    fill_mode = fill_parts[0].lower() if fill_parts else "none"
    joined = external_window(fact, windows, ts_col=ts_col, corr_keys=keys)

    walias = walias or "w"
    _wcols = windows.columns
    if WSTART in _wcols and WEND in _wcols:
        _bounds = {WSTART, WEND}
    else:
        _bounds = set(_wcols[:2])
    # window payload columns are referencable bare (without the w.
    # alias) when the fact doesn't shadow them (more_branch_coverage:
    # `select t1, ws, wc from ext_src … ((… count(*) as wc …) w)`)
    _bare_payload = [
        c for c in _wcols
        if c not in _bounds and c not in fact.columns
    ]

    def rw(expr: str) -> str:
        # w.<col> → the prefixed window payload column; _wduration is
        # the window's ms width (reference pseudo-column)
        s = re.sub(rf"\b{re.escape(walias)}\.(\w+)", rf"{WPREFIX}\1", expr)
        for p in _bare_payload:
            s = re.sub(
                rf"(?<![\w.]){re.escape(p)}\b(?!\s*\()",
                f"{WPREFIX}{p}", s,
            )
        s = re.sub(
            r"\b_wduration\b",
            "(unix_millis(_wend) - unix_millis(_wstart))",
            s,
            flags=re.IGNORECASE,
        )
        # the full dialect aggregate surface applies per window —
        # first/last (NULL-skipping, ts-ordered), last_row, spread,
        # stddev/var population semantics, apercentile, elapsed …
        s = _rewrite_aggs(s, ts_col)
        return _rewrite_ops(s)

    items, aliases, has_agg = [], [], False
    raw_items = []
    for raw in _split_select(g["items"]):
        raw = raw.strip()
        # `*` / `fact.*` in an external-window projection expands to the
        # fact's star columns (data cols; + tags only for a bare stable —
        # same rule as join star expansion / reference createAllColumns)
        if raw == "*" or raw.lower() == f"{g['table'].lower()}.*":
            raw_items.extend(
                _operand_star_cols(db, g["table"]) or fact.columns
            )
        else:
            raw_items.append(raw)
    for raw in raw_items:
        am = _ITEM_ALIAS_RE.match(raw.strip())
        expr, alias = am.group("expr"), am.group("alias")
        expr = rw(expr)
        name = alias or expr
        items.append((expr, name))
        if _has_agg(expr):
            has_agg = True
    if has_agg and fill_mode not in ("none",):
        out = _extwin_fill_agg(
            spark, db, fact, windows, items, fill_parts, fill_mode,
            keys, ts_col, t, rw,
        )
    elif has_agg:
        gcols = [
            F.expr(e).alias(n) for e, n in items if not _has_agg(e)
        ]
        aggs = [F.expr(e).alias(n) for e, n in items if _has_agg(e)]
        if t.get("having"):
            # aggregate-typed boolean rides the agg list, filters, drops
            aggs.append(F.expr(f"({rw(t['having'])})").alias("_hv"))
        # unprojected partition keys ride as hidden group columns so
        # ORDER BY can reference them (window_boundary.in: `select ws,
        # we, c … partition by t1 … order by t1, ws`); the final item
        # select drops them
        names = {n for _, n in items}
        hidden = [
            k for k in keys if k not in names and k in joined.columns
        ]
        out = joined.groupBy(
            F.col(WID), *[F.col(k) for k in hidden], *gcols
        ).agg(*aggs)
        if t.get("having"):
            out = out.where(F.col("_hv")).drop("_hv")
        out = out.withColumnRenamed(WID, "_ord_wid")
    else:
        agg_const = False
        if hint == "AGG":
            # AGG-hinted const-only projection: one row per (partition,
            # window) — the window-operator aggregate implementation
            # (golden: 09-WindowProjection mode external-window AGG rows)
            st = db.tables.get(g["table"])
            const = set(keys) | {"_wstart", "_wend", "_wduration"}
            if st is not None and st.child:
                const |= set(st.tag_cols) | {"tbname"}
            elif "tbname" in keys:
                const |= set(st.tag_cols if st else ())
            agg_const = all(_refs_only_cols(e, const) for e, _ in items)
        if agg_const:
            gb = joined.groupBy(F.col(WID), *[F.col(k) for k in keys])
            aggs2 = [
                F.first(F.expr(e)).alias(n)
                for e, n in items
                if e.strip() not in keys
            ]
            out = gb.agg(*aggs2) if aggs2 else gb.agg(
                F.count(F.lit(1)).alias("_n")
            )
            out = out.withColumnRenamed(WID, "_ord_wid")
        else:
            names = {n for _, n in items}
            hidden = [
                k for k in keys
                if k not in names and k in joined.columns
                and k != ts_col
            ]
            out = joined.select(
                F.col(WID).alias("_ord_wid"),
                F.col(ts_col).alias("_ord_ts"),
                *[F.col(k) for k in hidden],
                *[F.expr(e).alias(n) for e, n in items],
            )
    kcols = [k for k in keys if k in out.columns]
    if (
        t.get("limit")
        and not t.get("order")
        and kcols
        and "_ord_wid" in out.columns
    ):
        # LIMIT under PARTITION BY caps each partition's output, not
        # the total result set (basic_query.ans: `partition by tbname …
        # limit 1` emits one row PER child) — rank in canonical window
        # order within the partition
        from pyspark.sql import Window as _LimW

        ordc2 = [F.col("_ord_wid")] + (
            [F.col("_ord_ts")] if "_ord_ts" in out.columns else []
        )
        out = (
            out.withColumn(
                "_lrn",
                F.row_number().over(
                    _LimW.partitionBy(*[F.col(k) for k in kcols])
                    .orderBy(*ordc2)
                ),
            )
            .where(F.col("_lrn") <= int(t["limit"]))
            .drop("_lrn")
        )
        t = dict(t)
        t["limit"] = None
    if t.get("order"):
        out = out.orderBy(
            *_order_cols(rw(t["order"]), [n for _, n in items])
        )
    elif "_ord_wid" in out.columns:
        # canonical presentation order (ans goldens): windows in
        # (start, end, payload) order via the WID struct — per
        # partition when PARTITION BY is present — and fact rows in ts
        # order inside a projection-mode window
        ordc = [F.col(k) for k in kcols]
        ordc.append(F.col("_ord_wid"))
        if "_ord_ts" in out.columns:
            ordc.append(F.col("_ord_ts"))
        out = out.orderBy(*ordc)
    out = out.select(*[F.col(n) for _, n in items])
    if t.get("limit"):
        out = out.limit(int(t["limit"]))
    return out


def _extwin_fill_agg(
    spark, db, fact, windows, items, fill_parts, fill_mode, keys, ts_col,
    tail, rw,
):
    """EXTERNAL_WINDOW aggregate path with FILL: empty windows survive
    (window frame LEFT JOIN the per-window aggregates) and their agg
    columns fill per mode — NULL[_F] leaves NULLs, VALUE[_F] takes the
    positional constants, PREV/NEXT copy the nearest non-empty window's
    values in _wstart order (reference external fill,
    ans/external_fill_basic.ans)."""
    from pyspark.sql.window import Window as W

    from tdengine_spark.operators.externalwindow import (
        WID, external_window_frames,
    )

    joined, wkeyed = external_window_frames(
        fact, windows, ts_col=ts_col, corr_keys=keys
    )
    agg_items = [(e, n) for e, n in items if _has_agg(e)]
    aggs = [F.expr(e).alias(n) for e, n in agg_items]
    per_win = joined.groupBy(F.col(WID), *keys).agg(
        *aggs, F.lit(1).alias("_nonempty")
    )
    if keys:
        # every (window × partition-key) combination is a fill slot —
        # the key domain comes from the fact side (tiny distinct set),
        # so a key with no data contributes no slots at all
        wkeyed = wkeyed.crossJoin(fact.select(*keys).distinct())
    elif not fill_mode.endswith("_f"):
        # unpartitioned: an entirely empty source emits nothing — except
        # under the FORCE variants (NULL_F/VALUE_F), which fill every
        # window regardless (reference ext_fill_src_empty goldens)
        wkeyed = wkeyed.crossJoin(
            fact.select(F.lit(1).alias("_has")).limit(1)
        ).drop("_has")
    full = wkeyed.join(per_win, on=[WID, *keys], how="left")
    # the reference's fill executor reports a FILLED (empty) window's
    # _wend one ms past the definition's endtime; data-bearing windows
    # keep it exact (extWinAppendAggFilledRow;
    # ans/external_fill_edge_cases.ans pins both)
    full = full.withColumn(
        "_wend",
        F.when(
            F.col("_nonempty").isNull(),
            F.timestamp_millis(F.unix_millis(F.col("_wend")) + 1),
        ).otherwise(F.col("_wend")),
    )

    names = [n for _, n in agg_items]
    empty = F.col("_nonempty").isNull()
    if fill_mode in ("value", "value_f"):
        consts = [
            _fill_scalar(p) for p in fill_parts[1:]
        ] + [None] * len(names)
        for n, c in zip(names, consts):
            full = full.withColumn(
                n, F.when(empty, F.lit(c)).otherwise(F.col(n))
            )
    elif fill_mode in ("prev", "next"):
        if fill_mode == "prev":
            frame = W.partitionBy(*keys).orderBy(
                F.col("_wstart").asc()
            ).rowsBetween(W.unboundedPreceding, 0)
        else:
            # NEXT as a reverse-ordered growing frame: shrinking
            # current→unboundedFollowing frames re-aggregate per row
            # (O(n²) per key); this is an O(n) pass, no extra shuffle
            frame = W.partitionBy(*keys).orderBy(
                F.col("_wstart").desc()
            ).rowsBetween(W.unboundedPreceding, 0)
        pick = F.last
        for n in names:
            src = F.when(~empty, F.col(n))
            full = full.withColumn(
                n,
                F.when(empty, pick(src, ignorenulls=True).over(frame))
                .otherwise(F.col(n)),
            )
    elif fill_mode not in ("null", "null_f"):
        raise ValueError(f"unsupported external fill mode {fill_mode!r}")
    full = full.drop("_nonempty")

    out_cols = []
    for e, n in items:
        if _has_agg(e):
            out_cols.append(F.col(n))
        else:
            out_cols.append(F.expr(e).alias(n))
    out = full.select(*out_cols, F.col(WID))
    if tail.get("having"):
        # post-fill HAVING: aggregate expressions are already computed
        # columns — substitute each aggregate CALL in the HAVING text
        # with its output column, matching on whitespace/case-normalized
        # text (not raw str.replace, which misses any spelling drift)
        out = out.where(F.expr(_subst_agg_refs(rw(tail["having"]), agg_items)))
    return out.drop(WID)


def _subst_agg_refs(hv: str, agg_items) -> str:
    """Replace aggregate-call expressions in ``hv`` with backticked
    output-column refs. Matching is on normalized text (lowercase,
    whitespace stripped) over balanced-paren call spans, so ``SUM( x )``
    in HAVING matches select item ``sum(x)``."""

    def norm(s: str) -> str:
        return re.sub(r"\s+", "", s).lower()

    wanted = {norm(e): n for e, n in agg_items}
    out, i = [], 0
    for m, _ in _scan(hv, r"\b[A-Za-z_]\w*(?=\s*\()"):
        if m.start() < i:  # inside a call already substituted
            continue
        j = _close_paren(hv, hv.index("(", m.end()))
        if j < 0:
            j = len(hv)
        col = wanted.get(norm(hv[m.start():j]))
        if col is not None:
            out.append(hv[i:m.start()])
            out.append(f"`{col}`")
            i = j
    out.append(hv[i:])
    return "".join(out)


def _translate_interp(spark: SparkSession, db: Database, m, ts_col: str) -> DataFrame:
    """``SELECT <items> FROM t [WHERE..] [PARTITION BY..]
    RANGE(a,b[,tol]) EVERY(d) [FILL(mode[, defaults…])] [ORDER BY..]``
    → operators.interp.interp (grammar sql.y:3018-3026; TimeSlice
    executor). The select list mixes interp(col[, ignore_null]) calls
    with the pseudo-columns _irowts/_isfilled/_irowts_origin and
    partition columns, each with optional aliases; ignore_null is
    accepted (the kernel always ignores NULL samples). FILL defaults
    after the mode are positional per interp() expression."""
    from tdengine_spark.operators import interp as iop
    from tdengine_spark.operators.interp import interp

    g = m.groupdict()
    base = _read_rel(spark, db, g["table"])
    ordspec = _VIEW_ORDER.get(g["table"])
    if (_ACTIVE_DEGRADED or ordspec) and (
        ordspec or "_rowidx" in base.columns
    ):
        # interp over a degraded/ordered derived timeline: the
        # executor's forward scan requires a monotone stream — strictly
        # ASC runs normally, strictly DESC never advances past the
        # FIRST presentation row (only its exact-match instant emits:
        # test_pk_baseline.ans:954 `order by ts desc` → one row), and a
        # non-monotone stream is rejected ("Invalid timeline in
        # function", taoserror.h TSDB_CODE_FUNC_INVALID_TIMELINE)
        from pyspark.sql import Window as _ItW

        ocols = (
            [F.col(c).desc() if d else F.col(c).asc() for c, d in ordspec]
            if ordspec else [F.col("_rowidx").asc()]
        )
        wseq = _ItW.orderBy(*ocols)
        probe = (
            base.select(
                F.col(ts_col).alias("_t"),
                F.lag(ts_col).over(wseq).alias("_p"),
            )
            .agg(
                F.max(
                    (F.col("_p") < F.col("_t")).cast("int")
                ).alias("_asc"),
                F.max(
                    (F.col("_p") > F.col("_t")).cast("int")
                ).alias("_desc"),
            )
            .first()
        )
        if probe and probe["_desc"]:
            if probe["_asc"]:
                raise ValueError(
                    "Invalid timeline in function: interp over a "
                    "non-monotone degraded timeline"
                )
            base = base.orderBy(*ocols).limit(1)
    if g["where"]:
        base = base.where(
            F.expr(_filter_expr_sql(
                base.schema, _rewrite_ops(g["where"])
            ))
        )
    keys = [c.strip() for c in g["partition"].split(",")] if g["partition"] else []

    rng = [p.strip().strip("'\"") for p in g["range"].split(",")]
    if len(rng) == 1:
        # RANGE(t): interp at the single instant t (no EVERY needed)
        lo = hi = rng[0]
        tol = None
    else:
        lo, hi = rng[0], rng[1]
        tol = rng[2] if len(rng) > 2 else None

    # reference default is FILL_MODE_NONE (parTranslater.c
    # createDefaultFillNode): only exact-ts instants, no interpolation
    fill = (g["fill"] or "none").strip()
    fparts = [p.strip() for p in _split_select(fill)]
    mode = fparts[0].lower()
    fill_args = [_fill_scalar(p) for p in fparts[1:]]

    # SURROUND(tol, default): spelled-out tolerance + fallback (newer
    # grammar form of RANGE's third argument)
    if g.get("surround"):
        sparts = [p.strip() for p in g["surround"].split(",")]
        tol = sparts[0]
        if len(sparts) > 1 and mode in ("prev", "next", "near"):
            fill_args = [_fill_scalar(p) for p in sparts[1:]]

    # classify the select list; output columns keep the statement order
    items = []
    vals = []  # (col, out_name) per interp() call
    ignores = []  # interp(col[, ignore_null]) — reference default 0
    need_origin = False
    for raw in _split_select(g["items"]):
        im = _INTERP_ITEM_RE.match(raw.strip())
        if not im:
            raise ValueError(f"unsupported interp select item: {raw!r}")
        expr = im.group("expr").lower()
        alias = im.group("alias")
        if im.group("col"):
            name = alias or f"interp({im.group('col')})"
            vals.append((im.group("col"), name))
            ignores.append(im.group("flag") == "1")
            items.append(name)
        elif expr == "_irowts":
            items.append((iop.IROWTS, alias))
        elif expr == "_isfilled":
            items.append((iop.ISFILLED, alias))
        elif expr == "_irowts_origin":
            need_origin = True
            items.append((iop.IROWTS_ORIGIN, alias))
        else:
            # partition col / tbname / tag: constants per group — ride
            # the partitioning (tags not named in PARTITION BY group
            # identically, reference timeslice tag projection)
            name = im.group("expr")
            if name not in keys:
                keys.append(name)
            items.append((name, alias))
    if g["order"] and "_irowts_origin" in g["order"].lower():
        need_origin = True

    out = interp(
        base, ts_col, vals, lo, hi, (g["every"] or "1s").strip(),
        mode=mode, partition_by=keys,
        fill_value=fill_args if mode == "value" else None,
        tolerance=tol,
        defaults=fill_args if mode in ("prev", "next", "near") else None,
        with_origin=need_origin,
        ignore_null=ignores,
    )
    if g["order"]:
        # order refs may use source names or aliases; resolve against the
        # pre-projection frame (Spark's Sort-through-Project handles the
        # post-projection case)
        out = out.orderBy(*_order_cols(_dealias_interp_order(g["order"], items)))
    cols = [
        F.col(n) if isinstance(n, str) else F.col(n[0]).alias(n[1] or n[0])
        for n in items
    ]
    out = out.select(*cols)
    if g["limit"]:
        out = out.limit(int(g["limit"]))
    return out


def _dealias_interp_order(order: str, items) -> str:
    """ORDER BY in interp statements may reference select aliases; map
    them back to the operator's column names."""
    mapping = {}
    for it in items:
        if isinstance(it, tuple) and it[1]:
            mapping[it[1].lower()] = it[0]
    def sub(mm):
        return mapping.get(mm.group(0).lower(), mm.group(0))
    return re.sub(r"[A-Za-z_]\w*", sub, order)


_CMP_RE = re.compile(
    r"^([A-Za-z_]\w*)\.([A-Za-z_]\w*)\s*(>=|<=|=|>|<)\s*([A-Za-z_]\w*)\.([A-Za-z_]\w*)$"
)


def _join_cond_parse(cond: str, lal: str, ral: str, ts_col: str):
    """Split an ASOF/WINDOW JOIN ON condition into (equi_keys, ts_op).

    ``ts_op`` is the comparison as seen from the left side (None when the
    condition has no ts comparison — WINDOW JOIN). Equi conjuncts must
    reference the same column name on both sides (the reference requires
    tag/tbname equality, sql.y primary-key join constraint)."""
    flip = {">": "<", "<": ">", ">=": "<=", "<=": ">=", "=": "="}
    keys, ts_op = [], None
    for c in _split_top_and(cond):
        mm = _CMP_RE.match(c)
        if not mm:
            raise ValueError(f"unsupported join conjunct: {c!r}")
        a_al, a_col, op, b_al, b_col = mm.groups()
        if a_al == ral:  # normalize to left-side-first
            a_al, a_col, b_al, b_col = b_al, b_col, a_al, a_col
            op = flip[op]
        if a_al != lal or b_al != ral:
            raise ValueError(f"join conjunct aliases unknown: {c!r}")
        if a_col == ts_col and b_col == ts_col and op != "=":
            ts_op = op
        else:
            if a_col != b_col:
                raise ValueError(
                    f"equi-join columns must share a name: {c!r}"
                )
            keys.append(a_col)
    return keys, ts_op


def _dealias(expr: str, lal: str, ral: str, prefix: str = "r_") -> str:
    """Rewrite ``l.x``/``r.x`` alias references onto the joined frame's
    flat columns (driving side unprefixed, other side ``r_``-prefixed)."""
    s = re.sub(rf"\b{re.escape(ral)}\.(\w+)", rf"{prefix}\1", expr)
    return re.sub(rf"\b{re.escape(lal)}\.(\w+)", r"\1", s)


def _extract_indef_calls(items: "list[str]"):
    """Pull indef-function calls (diff/csum/…) out of arbitrary select
    expressions: each call is replaced by a generated ``_indef_k`` name
    and returned as ``(name, call_sql)`` so the caller can compute it as
    a window column first (``abs(diff(x, 0))`` → ``abs(_indef_0)``)."""
    calls: list[tuple[str, str]] = []
    out_items = []
    pat = r"(?i:\b(?:" + "|".join(_INDEF_FNS) + r")(?=\s*\())"
    for it in items:
        out, i = [], 0
        for m2, _ in _scan(it, pat):
            if m2.start() < i:  # nested in the call just taken
                continue
            j = _close_paren(it, it.index("(", m2.end()))
            if j < 0:
                j = len(it)
            out.append(it[i:m2.start()])
            if re.match(r"(?is)\s*over\b", it[j:]):
                # explicit OVER clause (std window SQL `lag(v) over
                # (…)`) — not a dialect indef call, leave untouched
                out.append(it[m2.start():j])
            else:
                name = f"_indef_{len(calls)}"
                calls.append((name, it[m2.start():j]))
                out.append(name)
            i = j
        out.append(it[i:])
        out_items.append("".join(out))
    return out_items, calls


def _project_join(out: DataFrame, select: str, lal: str, ral: str,
                  prefix: str = "r_", ts_col: str = "ts") -> DataFrame:
    select = select.strip()
    if select == "*":
        return out
    items = _split_select(_dealias(select, lal, ral, prefix))
    sub_items, calls = _extract_indef_calls(items)
    if calls:
        # indef functions over the join result (SELECT abs(diff(x))
        # FROM a ASOF JOIN b …): computed as ordered windows over the
        # merged stream, then the reference's emit rules drop undefined
        # rows (projectoperator.c indef emission). The window is
        # deliberately global — the reference's join output is one
        # ts-ordered stream.
        icols, iemit, ipref = _build_indef_items(
            [f"{c} as {n}" for n, c in calls], [], ts_col
        )
        if ipref is not None:
            out = out.where(ipref) if isinstance(ipref, Column) else ipref(out)
        sel = [F.col(c) for c in out.columns] + list(icols)
        if iemit is not None:
            out = (
                out.select(*sel, iemit.alias("_emit"))
                .where(F.col("_emit"))
                .drop("_emit")
            )
        else:
            out = out.select(*sel)
        return out.selectExpr(*sub_items)
    if _collect_groupfn_calls(items):
        # twa()/irate() over the join result (`select twa(tb1.c1),
        # twa(tb2.c2) from tb1, tb2 where tb1.ts=tb2.ts`): the join
        # output is one ts-ordered stream, so the lag pre-pass is
        # global — the rewritten items are then a plain global agg
        out, items = _prepare_groupfns(out, items, [], ts_col)
    if any(re.search(r"(?i)\bcols\s*\(", it) for it in items):
        # cols() over a join result: rewrite to its min_by/max_by form
        # over the merged stream; an all-aggregate select collapses to
        # one global aggregate row
        items = _split_select(_rewrite_aggs(", ".join(items), ts_col))
        # cols(mode(x), …) rewrites reference a __modecnt_x__ window
        # pre-pass column — add it here too (global over the merged
        # join stream), not only in the grouped translate path
        out = _add_modecnt_cols(out, items, [])
        if all(_has_agg(it) for it in items):
            return out.agg(*[F.expr(it) for it in items])
    return out.selectExpr(*items)


def _order_cols(order: str, columns: "list[str] | None" = None) -> list:
    """DESC-aware ORDER BY item list (shared by every translate path).

    ``columns``: the output schema, used to resolve ordinal references
    (``ORDER BY 1, 3`` — standard in the reference's test corpora)."""
    out = []
    for c in order.split(","):
        c = c.strip()
        desc = c.lower().endswith(" desc")
        name = c.split()[0]
        if name.isdigit() and columns:
            name = columns[int(name) - 1]
        out.append(F.col(name).desc() if desc else F.col(name))
    return out


def _translate_asof_join(spark: SparkSession, db: Database, m, ts_col: str) -> DataFrame:
    """``l [LEFT|RIGHT] ASOF JOIN r ON cond [JLIMIT k]`` →
    operators.asofjoin.asof_join (grammar sql.y:2766-2798). The ts
    operator picks direction/strictness as seen from the DRIVING side:
    ``l.ts >= r.ts`` backward, ``l.ts <= r.ts`` forward; strict for >/<.
    RIGHT ASOF JOIN (sql.y JOIN_TYPE_RIGHT) drives from the right table:
    implemented by swapping the tables, flipping the ts operator, and
    re-mapping the select-list alias prefixes."""
    from tdengine_spark.operators.asofjoin import asof_join

    g = m.groupdict()
    left = _read_rel(spark, db, g["ltab"])
    right = _read_rel(spark, db, g["rtab"])
    keys, ts_op = _join_cond_parse(g["cond"], g["lal"], g["ral"], ts_col)
    if ts_op is None:
        ts_op = ">="  # reference default: match at-or-before
    drv, other, drv_al, other_al = left, right, g["lal"], g["ral"]
    if (g["side"] or "").upper() == "RIGHT":
        # drive from the right table; the parsed ts_op is left-side-first,
        # so the driver sees the flipped comparison
        drv, other, drv_al, other_al = right, left, g["ral"], g["lal"]
        ts_op = {">": "<", "<": ">", ">=": "<=", "<=": ">="}[ts_op]
    direction = "backward" if ts_op in (">=", ">") else "forward"
    out = asof_join(
        drv, other, keys, ts_col=ts_col, direction=direction,
        strict=ts_op in (">", "<"),
        jlimit=int(g["jlimit"]) if g["jlimit"] else 1,
    )
    if g.get("where"):
        # standard SQL: WHERE filters the join result (post-null-extension)
        out = out.where(
            F.expr(_rewrite_ops(_dealias(g["where"], drv_al, other_al)))
        )
    out = _project_join(out, g["select"], drv_al, other_al, ts_col=ts_col)
    if g["order"]:
        out = out.orderBy(*_order_cols(g["order"], out.columns))
    if g.get("limit"):
        out = out.limit(int(g["limit"]))
    return out


def _translate_window_join(spark: SparkSession, db: Database, m, ts_col: str) -> DataFrame:
    """``l [LEFT|RIGHT] WINDOW JOIN r ON cond WINDOW_OFFSET(lo, hi)
    [JLIMIT k]`` → operators.asofjoin.window_join (sql.y WINDOW_OFFSET
    clause). RIGHT drives from the right table: tables swap, the offset
    window negates ([lo,hi] seen from the right row is [-hi,-lo]), and
    the select-list alias prefixes re-map."""
    from tdengine_spark.operators.asofjoin import window_join

    g = m.groupdict()
    left = _read_rel(spark, db, g["ltab"])
    right = _read_rel(spark, db, g["rtab"])
    keys, _ = _join_cond_parse(g["cond"], g["lal"], g["ral"], ts_col)
    drv, other, drv_al, other_al = left, right, g["lal"], g["ral"]
    lo, hi = g["lo"], g["hi"]
    if (g.get("side") or "").upper() == "RIGHT":
        drv, other, drv_al, other_al = right, left, g["ral"], g["lal"]
        lo, hi = _negate_offset(g["hi"]), _negate_offset(g["lo"])
    out = window_join(
        drv, other, keys, lo, hi, ts_col=ts_col,
        jlimit=int(g["jlimit"]) if g["jlimit"] else None,
    )
    if g.get("where"):
        out = out.where(
            F.expr(_rewrite_ops(_dealias(g["where"], drv_al, other_al)))
        )
    return _project_join(out, g["select"], drv_al, other_al, ts_col=ts_col)


def _negate_offset(spec: str) -> str:
    spec = spec.strip()
    return spec[1:] if spec.startswith("-") else f"-{spec}"


def _strip_outer_parens(s: str) -> str:
    s = s.strip().rstrip(";").strip()
    # an unbalanced "(…" loses its first and last character too
    while s.startswith("(") and _close_paren(s, 0) in (-1, len(s)):
        s = s[1:-1].strip()
    return s


_TRAIL_RE = re.compile(
    r"\b(?:ORDER\s+BY|SLIMIT|LIMIT)\b", re.IGNORECASE
)

_TRAIL_PARSE_RE = re.compile(
    r"^(?:ORDER\s+BY\s+(?P<order>.*?))?"
    r"(?:\s*\bSLIMIT\s+(?P<slimit>\d+))?"
    r"(?:\s*\bLIMIT\s+(?P<limit>\d+))?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _split_trailing_clauses(seg: str):
    """Strip depth-0 trailing ``ORDER BY … [SLIMIT n] [LIMIT n]`` from a
    union operand. Returns (core, {"order":…, "slimit":…, "limit":…}) —
    the dict empty when no depth-0 trailing clause exists."""
    cut = next(
        (m.start() for m, depth in _scan(seg, _TRAIL_RE) if depth == 0), None
    )
    if cut is None:
        return seg, {}
    m = _TRAIL_PARSE_RE.match(seg[cut:].strip())
    if not m:
        return seg, {}
    return seg[:cut].rstrip(), {
        k: v for k, v in m.groupdict().items() if v is not None
    }


def _split_top_union(sql: str):
    """Split ``q1 UNION [ALL] q2 [UNION [ALL] q3 …]`` at paren depth 0
    (grammar sql.y:3096-3098). Returns (operands, all_flags, tail) or
    None; ``all_flags[i]`` is the ALL-ness of the i-th UNION cut (mixed
    chains fold left-associatively, SQL semantics), and ``tail`` holds
    depth-0 trailing ORDER BY/SLIMIT/LIMIT — which the grammar applies
    to the whole set operation, not the last operand."""
    s = sql.strip().rstrip(";")
    cuts = [
        (m.start(), m.end(), m.group("all") is not None)
        for m, depth in _scan(s, r"(?i:\bUNION(?P<all>\s+ALL)?\b)")
        if depth == 0
    ]
    if not cuts:
        return None
    all_flags = [c[2] for c in cuts]
    parts, prev = [], 0
    for lo, hi, _ in cuts:
        parts.append(_strip_outer_parens(s[prev:lo]))
        prev = hi
    last, tail = _split_trailing_clauses(s[prev:].strip())
    parts.append(_strip_outer_parens(last))
    return parts, all_flags, tail


def _extract_from_subquery(sql: str):
    """Find ``FROM ( <subquery> ) [AS] alias`` and return
    (inner_sql, span_start, span_end, alias) covering the parenthesized
    group + alias, or None. Balanced-paren scan — the subquery may
    itself contain parens. The alias (when present) is preserved by the
    caller so qualified references keep resolving."""
    m = re.search(r"\bFROM\s*\(", sql, flags=re.IGNORECASE)
    if not m:
        return None
    i = _close_paren(sql, m.end() - 1)
    if i < 0:
        return None
    inner = sql[m.end() : i - 1].strip()
    am = re.match(
        r"\s*(?:AS\s+)?([A-Za-z_]\w*)", sql[i:], flags=re.IGNORECASE
    )
    alias = None
    if am and am.group(1).upper() not in (
        "WHERE", "GROUP", "ORDER", "LIMIT", "SLIMIT", "HAVING", "UNION",
        "INTERVAL", "SESSION", "STATE_WINDOW", "EVENT_WINDOW",
        "COUNT_WINDOW", "PARTITION", "FILL", "ON", "INNER", "LEFT",
        "RIGHT", "FULL", "JOIN", "ASOF", "WINDOW",
        # interp clause keywords (`FROM (sub) RANGE(...) EVERY(...)`)
        "RANGE", "EVERY", "ANOMALY_WINDOW", "EXTERNAL_WINDOW",
    ):
        alias = am.group(1)
    end = i + (am.end() if alias else 0)
    return inner, m.end() - 1, end, alias


def translate(
    spark: SparkSession,
    db: Database,
    sql: str,
    ts_col: str = "ts",
    tsma_catalog=None,
) -> DataFrame:
    """Translate one dialect SELECT into a DataFrame plan.

    ``tsma_catalog`` (a ``plans.tsma.TsmaCatalog``): INTERVAL queries
    whose select list is plain avg/sum/count/min/max aggregates are
    transparently rewritten onto a compatible pre-aggregation — the
    reference's TSMA planner rewrite (SURVEY §4.3)."""
    global _ACTIVE_TS
    _ACTIVE_TS = ts_col
    # reference NULL-on-error semantics are scoped to dialect plans:
    # analysis (which bakes ANSI behavior into the expressions) happens
    # eagerly inside this call, so flipping the conf around it leaves
    # the rest of the session ANSI-strict
    global _DB_PRECISION
    _DB_PRECISION = getattr(db, "precision", "ms") or "ms"
    prev_ansi = spark.conf.get("spark.sql.ansi.enabled", "true")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        sql = _expand_text_tables(spark, sql)
        return _translate_inner(spark, db, sql, ts_col, tsma_catalog)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev_ansi)


_TEXT_TABLE_RE = re.compile(
    r"(?is)\bTEXT\s*\(([^)]*)\)\s*values\s*((?:\(\s*[^()]*\)\s*)+)"
)

_TEXT_SPARK_TYPES = {
    "timestamp": "timestamp", "int": "int", "integer": "int",
    "bigint": "bigint", "smallint": "smallint", "tinyint": "tinyint",
    "float": "float", "double": "double", "bool": "boolean",
    "boolean": "boolean",
}


def _expand_text_tables(spark: SparkSession, sql: str) -> str:
    """``FROM TEXT(col TYPE, …) VALUES (…) (…) alias`` — inline literal
    table (reference TEXT table source, 08-ExternalWindow
    text_as_window goldens). Each literal tuple becomes one row of a
    registered temp view; the construct is replaced by the view name so
    the normal FROM machinery (alias, WHERE, subquery) applies."""
    def repl(m):
        defs = [d.strip() for d in m.group(1).split(",") if d.strip()]
        names = [d.split()[0] for d in defs]
        types = [
            " ".join(d.split()[1:]).lower().split("(")[0] for d in defs
        ]
        selects = []
        for rt in re.findall(r"\(\s*([^()]*)\)", m.group(2)):
            items = [
                f"cast({v.strip()} as "
                f"{_TEXT_SPARK_TYPES.get(t, 'string')}) as {n}"
                for v, n, t in zip(_split_select(rt), names, types)
            ]
            selects.append("select " + ", ".join(items))
        name = f"_text_{abs(hash(m.group(0))) % 10**8}"
        spark.sql(" union all ".join(selects)).createOrReplaceTempView(
            name
        )
        return f" {name} "

    return _TEXT_TABLE_RE.sub(repl, sql)


_HISTOGRAM_RE = re.compile(
    r"""(?isx)
    ^\s*select\s+histogram\s*\(\s*
    (?P<col>[A-Za-z_]\w*|[-+]?\d+(?:\.\d+)?)\s*,\s*
    (?:'(?P<btype>[^']+)'|"(?P<btype2>[^"]+)")\s*,\s*
    (?:'(?P<desc>[^']*)'|"(?P<desc2>[^"]*)")\s*,\s*(?P<norm>[01])\s*\)
    \s*from\s+(?P<table>[\w.]+)
    (?:\s+(?!where\b|partition\b|group\b)[A-Za-z_]\w*)?  # table alias
    (?:\s+where\s+(?P<where>.*?))?
    (?:\s+partition\s+by\s+(?P<partition>.*?))?
    (?:\s+group\s+by\s+(?P<group>.*?))?
    \s*;?\s*$
    """
)


def _histogram_edges(btype: str, desc: str) -> "list[float]":
    """Validate + materialize histogram bin edges, mirroring the
    reference's validateHistogramBinDesc (builtins.c:786-955): binDesc
    must parse as json; linear/log objects need exactly the 4 keys
    start/count/infinity + width|factor; count in [1,1000]; width != 0;
    log start != 0 and factor not in {<=0, 1}; no inf edges; user_input
    arrays must be strictly increasing numbers.  Raises ValueError
    (the dialect's parity with TSDB_CODE_FUNC_HISTOGRAM_ERROR) BEFORE
    any plan is built — the reference's own error-probe with
    count:10000000 must reject, not construct a 10M-bin plan."""
    import json as _json
    import math as _math

    err = "HISTOGRAM function invalid format for binDesc parameter"
    try:
        parsed = _json.loads(desc)
    except Exception:
        raise ValueError(err)
    if btype in ("linear_bin", "log_bin"):
        if not isinstance(parsed, dict):
            raise ValueError(err)
        if len(parsed) != 4:
            raise ValueError("HISTOGRAM function requires four parameters")
        start = parsed.get("start")
        count = parsed.get("count")
        width = parsed.get("width")
        factor = parsed.get("factor")
        infinity = parsed.get("infinity")
        _num = (int, float)
        if (not isinstance(start, _num) or isinstance(start, bool)
                or not isinstance(count, _num) or isinstance(count, bool)
                or not isinstance(infinity, bool)):
            raise ValueError(err)
        # builtins.c:820 — count->valueint truncates toward zero
        c = int(count)
        if c <= 0 or c > 1000:
            raise ValueError(
                'HISTOGRAM function binDesc parameter "count" '
                "should be in range [1, 1000]")
        for x in (start, width, factor, count):
            if isinstance(x, _num) and not isinstance(x, bool) \
                    and _math.isinf(float(x)):
                raise ValueError("HISTOGRAM function bin/parameter should "
                                 "be in range [-DBL_MAX, DBL_MAX]")
        s = float(start)
        if btype == "linear_bin":
            if not isinstance(width, _num) or isinstance(width, bool) \
                    or factor is not None:
                raise ValueError(err)
            w = float(width)
            if w == 0:
                raise ValueError(
                    'HISTOGRAM function binDesc parameter "width" cannot be 0')
            edges = [s + i * w for i in range(c + 1)]
        else:
            if not isinstance(factor, _num) or isinstance(factor, bool) \
                    or width is not None:
                raise ValueError(err)
            if s == 0:
                raise ValueError('HISTOGRAM function binDesc parameter '
                                 '"start" cannot be 0 with "log_bin" type')
            f0 = float(factor)
            if f0 <= 0 or f0 == 1:
                raise ValueError('HISTOGRAM function binDesc parameter '
                                 '"factor" cannot be negative or equal to 0/1')
            edges = [s * f0**i for i in range(c + 1)]
        if any(_math.isinf(e) for e in edges):
            raise ValueError("HISTOGRAM function bin/parameter should "
                             "be in range [-DBL_MAX, DBL_MAX]")
        if infinity:
            # builtins.c:897-907 — desc-ordered bins swap -inf/inf
            if edges[0] > edges[-1]:
                edges = [float("inf")] + edges + [float("-inf")]
            else:
                edges = [float("-inf")] + edges + [float("inf")]
        return edges
    if btype == "user_input":
        if not isinstance(parsed, list) or not parsed:
            raise ValueError(err)
        edges = []
        for x in parsed:
            if not isinstance(x, (int, float)) or isinstance(x, bool):
                raise ValueError(err)
            v = float(x)
            if edges and v <= edges[-1]:
                raise ValueError(err)
            edges.append(v)
        return edges
    raise ValueError("HISTOGRAM function binType parameter should be "
                     "one of the following: user_input, linear_bin, log_bin")


def _translate_histogram(spark, db, m, ts_col: str) -> DataFrame:
    """histogram(col, bin_type, bin_desc, normalized) —
    builtinsimpl.c:6093-6253: bin edges come from statement LITERALS
    (user_input list / linear_bin / log_bin json), each bin counts
    lower < v <= upper, output is one row per bin rendered
    '{"lower_bin":%g, "upper_bin":%g, "count":N}' (count %lf when
    normalized). Counts compute in ONE hash aggregate (conditional
    sums); the per-bin rows come from exploding a literal-sized array —
    no per-row Python anywhere."""
    g = m.groupdict()
    btype = (g["btype"] if g["btype"] is not None
             else g["btype2"]).strip().lower()
    desc = g["desc"] if g["desc"] is not None else g["desc2"]
    edges = _histogram_edges(btype, desc)
    bins = list(zip(edges[:-1], edges[1:]))
    norm = g["norm"] == "1"

    table = g["table"].split(".")[-1]
    base = _child_slice(spark, db, table)
    if base is None:
        base = db.read(
            spark, table,
            dedup=db.tables.get(table) is not None
            and db.tables[table].managed,
            pk_merge=not any(
                re.search(r"(?i)\btbname\b", g[k] or "")
                for k in ("partition", "group")
            ),
            tbname_in=_pinned_tbnames(g["where"]),
        )
    if g["where"]:
        base = base.where(F.expr(_filter_expr_sql(
            base.schema, _rewrite_ops(g["where"])
        )))
    keys = []
    for part in (g["partition"], g["group"]):
        if part:
            keys += [k.strip() for k in _split_select(part)]
    colname = g["col"]
    if re.fullmatch(r"[-+]?\d+(?:\.\d+)?", colname):
        # the reference accepts a numeric CONSTANT as the histogram
        # input (test_fun_agg_histogram cur_sqls col=1)
        v = F.lit(float(colname))
    else:
        # ...but REJECTS non-numeric columns (binary/nchar/bool/ts are
        # error probes; translateHistogram requires a numeric type) —
        # a silent cast-to-null would succeed where the reference errors
        ftype = next((f.dataType.simpleString() for f in base.schema
                      if f.name.lower() == colname.lower()), None)
        if ftype is None or not (
            ftype in ("tinyint", "smallint", "int", "bigint",
                      "float", "double")
            or ftype.startswith("decimal")
        ):
            raise ValueError(
                f"HISTOGRAM function requires a numeric column, got "
                f"{colname}: {ftype}")
        v = F.col(colname).cast("double")
    aggs = [
        F.sum(F.when((v > float(lo)) & (v <= float(hi)), 1)
              .otherwise(0)).alias(f"_b{i}")
        for i, (lo, hi) in enumerate(bins)
    ]
    out = base.groupBy(*[F.col(k) for k in keys]).agg(*aggs)
    total = None
    if norm:
        total = sum((F.col(f"_b{i}") for i in range(len(bins))), F.lit(0))

    def gfmt(x: float) -> str:
        return "%g" % x

    cells = []
    for i, (lo, hi) in enumerate(bins):
        if norm:
            frac = F.when(
                total > 0, F.col(f"_b{i}") / total
            ).otherwise(F.lit(0.0))
            cells.append(F.format_string(
                '{"lower_bin":%s, "upper_bin":%s, "count":%.6f}',
                F.lit(gfmt(lo)), F.lit(gfmt(hi)), frac,
            ))
        else:
            cells.append(F.format_string(
                '{"lower_bin":%s, "upper_bin":%s, "count":%d}',
                F.lit(gfmt(lo)), F.lit(gfmt(hi)), F.col(f"_b{i}"),
            ))
    if keys:
        out = out.orderBy(*keys)
    return out.select(
        F.explode(F.array(*cells)).alias("histogram")
    )


def _translate_inner(
    spark: SparkSession,
    db: Database,
    sql: str,
    ts_col: str = "ts",
    tsma_catalog=None,
) -> DataFrame:
    sql = _outside_quotes(sql, lambda s: s.replace("`", ""))
    # the reference parser tolerates a clause keyword glued to a closing
    # string literal (`...'group by tbname`) — re-insert the space, but
    # ONLY at quotes that CLOSE a literal (odd count of preceding
    # quotes); an opening quote followed by one of these words is the
    # literal itself (`where c = 'order'`, `select 'and more'`)
    _glued = re.compile(
        r"'(?=(?:group|order|partition|interval|session|limit|slimit|"
        r"having|fill|where|and|or)\b)",
        re.IGNORECASE,
    )
    sql = _glued.sub(
        lambda m: "' " if sql.count("'", 0, m.start()) % 2 == 1 else "'",
        sql,
    )
    sql = _resolve_information_schema(spark, db, sql)
    sql = _dequalify_tables(sql, db)
    # rank selections inside scalar arithmetic (`top(c1,1) -
    # bottom(c1,1)`): k=1 degenerates to max/min (builtins.c top keeps
    # the 1 extreme row; arithmetic consumes its value) — rewritten
    # before the selection matcher, whose arg parser expects a bare k
    sql = _outside_quotes(
        sql,
        lambda s: re.sub(
            r"(?i)\b(top|bottom)\s*\(\s*([A-Za-z_]\w*)\s*,\s*1\s*\)"
            r"(?=\s*[-+*/%])",
            lambda m: (
                ("max" if m.group(1).lower() == "top" else "min")
                + f"({m.group(2)})"
            ),
            s,
        ),
    )
    sql = _outside_quotes(
        sql,
        lambda s: re.sub(
            r"(?i)(?<=[-+*/%])(\s*)(top|bottom)\s*"
            r"\(\s*([A-Za-z_]\w*)\s*,\s*1\s*\)",
            lambda m: m.group(1) + (
                ("max" if m.group(2).lower() == "top" else "min")
                + f"({m.group(3)})"
            ),
            s,
        ),
    )
    rb = re.match(
        r"(?is)^\s*select\s+top\s*\(\s*([A-Za-z_]\w*)\s*,\s*(\d+)\s*\)\s*"
        r"([-+*/%])\s*bottom\s*\(\s*([A-Za-z_]\w*)\s*,\s*(\d+)\s*\)\s+"
        r"from\s+(.*)$",
        sql,
    )
    if rb:
        # rank-paired arithmetic (`top(c1,99) - bottom(c1,99)` = 99
        # rows, k-th top value op k-th bottom value — the reference
        # zips the two rank outputs). The row_number windows are
        # global but bounded: they run AFTER limit(k), over k rows.
        from pyspark.sql import Window as _W

        xt, k1, op, xb, k2, rest = rb.groups()
        k = min(int(k1), int(k2))
        base = _translate_inner(
            spark, db, f"select {xt} as _tv, {xb} as _bv from {rest}",
            ts_col, tsma_catalog,
        )
        topdf = (
            base.where(F.col("_tv").isNotNull())
            .orderBy(F.col("_tv").desc()).limit(k)
            .select(
                F.row_number().over(
                    _W.orderBy(F.col("_tv").desc())
                ).alias("_i"),
                "_tv",
            )
        )
        botdf = (
            base.where(F.col("_bv").isNotNull())
            .orderBy(F.col("_bv").asc()).limit(k)
            .select(
                F.row_number().over(
                    _W.orderBy(F.col("_bv").asc())
                ).alias("_i"),
                "_bv",
            )
        )
        return (
            topdf.join(botdf, "_i").orderBy("_i")
            .select(F.expr(f"_tv {op} _bv").alias("_rankdiff"))
        )
    if db is not None and getattr(db, "views", None):
        # logical views substitute as derived tables (one level deep)
        for t in dict.fromkeys(_table_names(sql)):
            if t in db.views:
                sql = re.sub(
                    rf"(?i)(\b(?:FROM|JOIN)\s+){re.escape(t)}\b",
                    lambda m, _t=t: (
                        f"{m.group(1)}({db.views[_t]}) {_t}"
                    ),
                    sql,
                )
    # `_c0`: the reference's internal alias for the first (timestamp)
    # column (parTranslater.c PK_TS_COL_INTERNAL_NAME)
    # deferred when a FROM-subquery is present: the derived table's pk
    # (which _c0 must resolve to — it may be a `ts as b` alias) is only
    # known after the subquery branch, whose outer re-translate applies
    # this same rewrite with the resolved pk
    if not re.search(r"(?i)\bfrom\s*\(\s*select\b", sql):
        sql = _outside_quotes(
            sql, lambda s: re.sub(r"(?i)\b_c0\b", ts_col, s)
        )
    # planner-mode hint (SELECT SCALAR .../SELECT AGG ... — the reference's
    # debug tokens forcing the window operator's scalar/aggregate
    # implementation, test/cases/13-TimeSeriesExt/09-WindowProjection):
    # uppercase-only so a column named "agg" is untouched
    hint = None
    hm = re.match(r"(\s*select\s+)(SCALAR|AGG)\s+", sql)
    if hm:
        hint = hm.group(2)
        sql = hm.group(1) + sql[hm.end():]
    un = _split_top_union(sql)
    if un is not None:
        parts, all_flags, tail = un
        dfs = [translate(spark, db, p, ts_col, tsma_catalog) for p in parts]
        if not any(all_flags) and len(dfs) > 1 and not tail.get("order"):
            # plain UNION (distinct) keeps FIRST-SEEN order across the
            # sides (the reference's result-block merge dedups while
            # streaming side 1 then side 2 — test_fun_agg_elapsed pins
            # [(9,),(None,),(4,),(5,),(10,)]). Row order is data, so
            # tag (side, row-index) with zipWithIndex and keep the min
            # tag per distinct row — all distributed, no driver pass.
            schema = dfs[0].schema
            tagged = None
            for si, d in enumerate(dfs):
                t = d.rdd.zipWithIndex().map(
                    lambda kv, si=si: (tuple(kv[0]), (si, kv[1]))
                )
                tagged = t if tagged is None else tagged.union(t)
            first = tagged.reduceByKey(min).sortBy(lambda kv: kv[1])
            out = spark.createDataFrame(
                first.map(lambda kv: kv[0]), schema
            )
        else:
            out = dfs[0]
            for d, is_all in zip(dfs[1:], all_flags):
                out = out.union(d)  # positional, SQL UNION semantics
                if not is_all:  # left-assoc fold: distinct per cut
                    out = out.distinct()
        if tail.get("order"):
            out = out.orderBy(*_order_cols(tail["order"], out.columns))
        if tail.get("limit"):
            out = out.limit(int(tail["limit"]))
        return out
    jm = _PK_SEMI_ANTI_RE.search(sql)
    if jm:
        # before subquery extraction: semi-join pick order depends on
        # the operand subqueries' own ORDER BY
        return _translate_semi_anti(spark, db, sql, jm, ts_col)
    em = re.search(r"\bEXTERNAL_WINDOW\s*\(", sql, re.IGNORECASE)
    if em:
        sub0 = _extract_from_subquery(sql[: em.start()])
        if sub0 is not None:
            # subquery FACT (`FROM (SELECT …) EXTERNAL_WINDOW(…)`):
            # materialize it as a view first; a ts-less projection
            # falls back to its first TIMESTAMP column as the timeline
            # (same degraded-timeline rule as the generic subquery path)
            inner_sql0, lo0, hi0, _al0 = sub0
            innerdf0 = translate(
                spark, db, _strip_outer_parens(inner_sql0), ts_col
            )
            vn0 = f"_dialect_extw_{abs(hash(inner_sql0)) % 10**8}"
            innerdf0.createOrReplaceTempView(vn0)
            ets = ts_col
            if ts_col not in innerdf0.columns:
                from pyspark.sql.types import TimestampType as _ETs

                ets = next(
                    (f.name for f in innerdf0.schema.fields
                     if isinstance(f.dataType, _ETs)), ts_col,
                )
            sql = sql[:lo0] + f" {vn0}" + sql[hi0:]
            em = re.search(r"\bEXTERNAL_WINDOW\s*\(", sql, re.IGNORECASE)
            return _translate_external_window(spark, db, sql, em, ets, hint)
        return _translate_external_window(spark, db, sql, em, ts_col, hint)
    sub = _extract_from_subquery(sql)
    if sub is not None:
        # translate the inner query first (it may itself use dialect
        # clauses), expose it as a view, and rewrite the outer query to
        # reference it — mirrors the reference planner's subplan stacking
        inner_sql, lo, hi, alias = sub
        _inner_txt = _strip_outer_parens(inner_sql)
        _jm0 = re.search(
            r"(?is)\bfrom\s+([A-Za-z_]\w*)\s+(?:as\s+)?([A-Za-z_]\w*)\s+"
            r"(?:left\s+|right\s+|full\s+|inner\s+)?(?:outer\s+)?join\s+"
            r"([A-Za-z_]\w*)\s+(?:as\s+)?([A-Za-z_]\w*)\s+on\b",
            _inner_txt,
        )
        if (
            _jm0
            and not re.search(r"(?i)\border\s+by\b|\bgroup\s+by\b",
                              _inner_txt)
            and re.search(
                r"(?i)\b(?:diff|csum|mavg|statecount|stateduration|lag|"
                r"lead|fill_forward|unique|tail|first|last|interval|"
                r"session|state_window|count_window|elapsed|derivative|"
                r"twa|irate)\s*\(|\bevent_window\b",
                sql[:lo] + sql[hi:],
            )
        ):
            # a JOIN-derived table feeding timeline functions: the
            # reference's merge join emits rows in merged-ts order —
            # coalesce(l.ts, r.ts) reproduces it for inner/left/right/
            # full (timeline_fallback.ans HH/HI join matrix); without
            # it the shuffle join's arbitrary order becomes the
            # degraded row order
            _, _lal0, _, _ral0 = _jm0.groups()
            _inner_txt += (
                f" order by coalesce({_lal0}.{ts_col}, {_ral0}.{ts_col})"
            )
        inner = translate(spark, db, _inner_txt, ts_col)
        name = f"_dialect_sub_{abs(hash(inner_sql)) % 10**8}"
        inner.createOrReplaceTempView(name)
        # record the subquery's presentation order: an outer data-driven
        # window (state/session) assigns runs in THAT row order, not ts
        # order (reference 04-StateWindow orderbyOtherTS — the planner
        # keeps the derived table's sort under the window operator)
        _VIEW_ORDER.pop(name, None)
        _VIEW_ROWIDX.discard(name)
        _VIEW_DEGRADED.discard(name)
        om = re.search(
            r"(?is)\border\s+by\s+(.+?)"
            r"(?:\s+(?:s?limit|s?offset)\s+\d+.*)?\s*$",
            _strip_outer_parens(inner_sql),
        )
        if om:
            spec = []
            for p in om.group(1).split(","):
                m2 = re.fullmatch(
                    r"([A-Za-z_]\w*|\d+)(?:\s+(asc|desc))?",
                    p.strip(), re.IGNORECASE,
                )
                if not m2:
                    spec = None
                    break
                col = m2.group(1)
                if col.isdigit():
                    i = int(col) - 1
                    if i >= len(inner.columns):
                        spec = None
                        break
                    col = inner.columns[i]
                if col not in inner.columns:
                    spec = None
                    break
                spec.append(
                    (col, (m2.group(2) or "").lower() == "desc")
                )
            if spec:
                _VIEW_ORDER[name] = spec
                if re.search(r"(?i)\belapsed\s*\(", sql[:lo] + sql[hi:]):
                    # presentation-position column for positional
                    # aggregates (inner is sorted; a monotonically
                    # increasing id follows the sorted order)
                    inner.withColumn(
                        "_rowidx", F.monotonically_increasing_id()
                    ).createOrReplaceTempView(name)
                    _VIEW_ROWIDX.add(name)
            else:
                # the ORDER BY column isn't in the projection (`select
                # event_time, … from (… union all …) order by ord`):
                # the sorted frame's row POSITION is the presentation
                # order — materialize it (degraded-timeline UNION ALL
                # matrix, test_degraded_timeline_subquery_matrix.in)
                frame = inner.withColumn(
                    "_rowidx", F.monotonically_increasing_id()
                )
                if ts_col not in inner.columns and re.search(
                    r"(?i)\b(?:interval|session|state_window|"
                    r"count_window|external_window)\s*\("
                    r"|\bevent_window\b",
                    sql[:lo] + sql[hi:],
                ):
                    # windows over an ordered DEGRADED timeline skip
                    # NULL-timeline rows (row-order functions keep
                    # them) — subquery-matrix HI windows count 4 of 6
                    from pyspark.sql.types import (
                        TimestampType as _NullTs,
                    )

                    c0 = next(
                        (f.name for f in inner.schema.fields
                         if isinstance(f.dataType, _NullTs)), None,
                    )
                    if c0:
                        frame = frame.where(F.col(c0).isNotNull())
                frame.createOrReplaceTempView(name)
                _VIEW_ORDER[name] = [("_rowidx", False)]
                _VIEW_ROWIDX.add(name)
        # leading space: `from(select …)` is legal dialect spelling
        repl = f" {name} AS {alias}" if alias else f" {name}"
        # primary-key tracking: the reference carries the pk role through
        # projections — `_wstart as a` makes `a` the derived table's pk,
        # so outer first/last/interp order by IT (parTranslater.c
        # PRIMARY_KEY flag). Fall back to the inner's ts column.
        # precedence (parTranslater PRIMARY_KEY flag): the RAW pk column
        # (bare or aliased — `ts as b`) wins over a `_wstart` alias; the
        # reference keeps the flag on the column, not the window pseudo
        # (orderbyOtherTS: `select ts as b, …, _wstart as a` → pk is b)
        outer_ts = ts_col
        # a JOIN-derived projection of a ts column (`b.ts event_time`)
        # does NOT keep the pk role — outer-join NULLs make it a
        # degraded timeline (timeline_fallback HH/HI matrix); the
        # qualified-ref lookbehind keeps single-table `ts as b` aliases
        # working
        tm2 = None if _jm0 else re.search(
            rf"(?i)(?<![\w.]){re.escape(ts_col)}\s+(?:as\s+)?"
            rf"([A-Za-z_]\w*)",
            inner_sql,
        )
        pm = re.search(
            r"(?i)\b_wstart\b(?:\s+(?:as\s+)?([A-Za-z_]\w*))?",
            inner_sql,
        )
        if ts_col in inner.columns:
            # an EXPLICIT subquery ORDER BY degrades the timeline: the
            # sort breaks the stored-order pk guarantee, so the outer
            # timeline falls back to the FIRST timestamp column in
            # projection order — `(select event_time, ts, … order by
            # event_time)` follows event_time, while `(select * from
            # t_base order by t2)` keeps ts (ts is column 1): both
            # golden in test_timeline_fallback.ans.
            if _VIEW_ORDER.get(name):
                from pyspark.sql.types import TimestampType as _PromTs

                c0 = next(
                    (f.name for f in inner.schema.fields
                     if isinstance(f.dataType, _PromTs)), None,
                )
                if c0 and c0 != ts_col:
                    outer_ts = c0
        elif (
            tm2
            and tm2.group(1) in inner.columns
            and tm2.group(1).lower() not in ("timestamp", "asc", "desc")
        ):
            outer_ts = tm2.group(1)
        elif pm and (pm.group(1) or "_wstart") in inner.columns:
            outer_ts = pm.group(1) or "_wstart"
        elif "_rowts" in inner.columns:
            # a projected _rowts pseudo-column keeps the pk role
            # (isPrimaryKeyImpl: FUNCTION_TYPE_IROWTS is a primary key)
            outer_ts = "_rowts"
        else:
            from pyspark.sql.types import TimestampType as _OuterTs

            # DEGRADED timeline (TS-5791 timeline fallback): a derived
            # table projecting no pk falls back to its first TIMESTAMP
            # column as the timeline — first/last/interp order by it
            cand = next(
                (f.name for f in inner.schema.fields
                 if isinstance(f.dataType, _OuterTs)), None,
            )
            outer_txt = sql[:lo] + sql[hi:]
            #: DEGRADED_TIMELINE_ROW_ORDER funcs (functionMgtInt.h:69,
            #: flagged in builtins.c: diff/csum/mavg/statecount/lag/
            #: lead/fill_forward): over a degraded timeline they run in
            #: ROW (presentation) order and KEEP NULL-timeline rows.
            #: unique keeps NULL-timeline rows too (its emission order
            #: is hash-internal — value set is the contract). last_row
            #: stays on the timeline path (max degraded-ts row —
            #: test_degraded_timeline.ans t_event_desc).
            _row_order_only = (
                re.search(
                    r"(?i)\b(?:diff|csum|mavg|statecount|lag|lead|"
                    r"fill_forward|unique)\s*\(",
                    outer_txt,
                )
                and not re.search(
                    r"(?i)\b(?:interval|session|state_window|"
                    r"count_window|external_window|first|"
                    r"last|derivative|irate|twa|elapsed|"
                    r"stateduration|tail|interp)\s*\("
                    r"|\bevent_window\b",
                    outer_txt,
                )
            )
            if cand and om is None and _row_order_only:
                v = inner.withColumn(
                    "_rowidx", F.monotonically_increasing_id()
                )
                v.createOrReplaceTempView(name)
                return translate(
                    spark, db, sql[:lo] + repl + sql[hi:], "_rowidx"
                )
            if cand:
                outer_ts = cand
                if om is None and re.search(
                    r"(?i)\b(?:interval|session|state_window|"
                    r"count_window|first|last|last_row|diff|csum|mavg|"
                    r"derivative|irate|twa|elapsed|statecount|"
                    r"stateduration|lag|lead|fill_forward|unique|tail|"
                    r"interp)\s*\("
                    r"|\bevent_window\b",
                    outer_txt,
                ):
                    # …but ONLY when the subquery has no explicit ORDER
                    # BY: an ordered derived table's presentation order
                    # KEEPS NULL-timeline rows (sorted NULLS FIRST —
                    # diff/csum goldens over `order by event_time`)
                    # degraded-timeline NULL rows are SKIPPED by every
                    # timeline operation (same rule as tailFinalize
                    # "Skip NULL timeline rows"; test_timeline_fallback
                    # t_null_ts/t_all_null_ts goldens); _rowidx carries
                    # the arrival position for duplicate-timeline ties
                    inner.withColumn(
                        "_rowidx", F.monotonically_increasing_id()
                    ).where(
                        F.col(cand).isNotNull()
                    ).createOrReplaceTempView(name)
                    _VIEW_DEGRADED.add(name)
                    # data-driven windows (state/event/count/session)
                    # over a degraded timeline assign runs in ARRIVAL
                    # order, not sorted-timeline order (the executor
                    # never re-sorts a degraded stream —
                    # timeline_fallback.ans EVENT_WINDOW over
                    # t_event_desc forms one {40} window)
                    _VIEW_ORDER[name] = [("_rowidx", False)]
            elif re.search(
                r"(?i)\b(?:diff|csum|mavg|statecount|stateduration|lag|"
                r"lead|fill_forward|unique|tail|first|last|last_row)\s*\(",
                sql[:lo],
            ):
                # NO timestamp column at all: the v3.4.2 degraded mode
                # runs timeline functions in ROW (presentation) order —
                # materialize a row-sequence column as the timeline
                inner.withColumn(
                    "_rowidx", F.monotonically_increasing_id()
                ).createOrReplaceTempView(name)
                outer_ts = "_rowidx"
        return translate(spark, db, sql[:lo] + repl + sql[hi:], outer_ts)
    m = _INTERP_RE.match(sql)
    if m:
        return _translate_interp(spark, db, m, ts_col)
    dsm = re.match(r"(?is)^(\s*select\s+)distinct\b\s*(.*)$", sql)
    if dsm:
        # SELECT DISTINCT over the dialect projection path (incl. the
        # reference's DISTINCT(col) call form): project, then dedup;
        # a trailing LIMIT applies AFTER the dedup (parTranslater.c
        # distinct-then-limit order)
        rest = dsm.group(2)
        cm2 = re.match(r"(?s)^\(\s*([^()]+?)\s*\)\s*(.*)$", rest)
        if cm2:
            rest = f"{cm2.group(1)} {cm2.group(2)}"
        lim = None
        lm2 = re.search(r"(?i)\s+limit\s+(\d+)\s*;?\s*$", rest)
        if lm2 and rest.count("(", 0, lm2.start()) == rest.count(
            ")", 0, lm2.start()
        ):
            lim = int(lm2.group(1))
            rest = rest[: lm2.start()]
        out = _translate_inner(
            spark, db, dsm.group(1) + rest, ts_col, tsma_catalog
        ).distinct()
        # DISTINCT over meta columns only (tbname/tags) is a TagScan in
        # the reference — it reads table METADATA, so registered children
        # with no data rows still appear (test_fun_agg_count
        # query_empty_stb: distinct tbname on an empty stb = tbnum)
        dm2 = re.match(
            r"(?is)^\s*([\w\s,]*?)\s+from\s+([\w.]+)\s*;?\s*$", rest
        )
        if dm2:
            dcols = [c.strip() for c in dm2.group(1).split(",")]
            tname = dm2.group(2).split(".")[-1]
            stm = db.tables.get(tname)
            if stm is not None and not stm.child and all(
                c == stm.tbname_col or c in (stm.tag_cols or ())
                for c in dcols
            ):
                regrows = [
                    tuple(
                        ch.name if c == stm.tbname_col
                        else dict(zip(stm.tag_cols, ch.tag_values)).get(c)
                        for c in dcols
                    )
                    for ch in db.tables.values()
                    if ch.parent == tname
                ]
                if regrows:
                    from pyspark.sql import types as _T

                    # positional field names — dcols may repeat a column
                    # (`distinct t0, t0`), which would make by-name
                    # selection AMBIGUOUS_REFERENCE; the union is
                    # positional anyway
                    reg_df = spark.createDataFrame(
                        [tuple(None if v is None else str(v) for v in r)
                         for r in regrows],
                        _T.StructType([
                            _T.StructField(f"_rc{i}", _T.StringType())
                            for i in range(len(dcols))
                        ]),
                    )
                    otypes = [f.dataType for f in out.schema]
                    reg_df = reg_df.select(*[
                        _lit_cast(f"_rc{i}", otypes[i])
                        for i in range(len(dcols))
                    ])
                    out = out.union(reg_df.toDF(*out.columns)).distinct()
        return out.limit(lim) if lim is not None else out
    hm2 = _HISTOGRAM_RE.match(sql)
    if hm2:
        return _translate_histogram(spark, db, hm2, ts_col)
    selm = _match_selection_stmt(sql)
    if selm:
        return _translate_selection(spark, db, *selm, ts_col)
    m = _ASOF_JOIN_RE.match(sql)
    if m and "window_offset" not in sql.lower():
        return _translate_asof_join(spark, db, m, ts_col)
    m = _WINDOW_JOIN_RE.match(sql)
    if m:
        return _translate_window_join(spark, db, m, ts_col)
    if re.search(r"\bJOIN\b", sql, re.IGNORECASE) or re.search(
        # comma-list implicit join: FROM t1 [AS a], … (alias allowed
        # before the comma; keywords like WHERE can't look like one
        # because a comma must follow immediately)
        r"\bFROM\s+[A-Za-z_][\w.]*(?:\s+(?:AS\s+)?[A-Za-z_]\w*)?\s*,",
        sql,
        re.IGNORECASE,
    ):
        # standard multi-table SQL (explicit JOIN or comma-list implicit
        # join): translate any remaining dialect SUBQUERY operands into
        # views (they may use window clauses Catalyst can't parse),
        # drop the reference's planner hints (/*+ hash_join() */ …:
        # empty-arg hints are Spark parse errors; Catalyst picks its
        # own join strategy), register the referenced tables as views,
        # and let Catalyst parse the whole query
        sql = re.sub(r"/\*\+.*?\*/", " ", sql)
        sql = _expand_join_stars(db, sql)
        sql = _rewrite_join_topbottom(sql)
        # right-nested ON grouping (reference grammar joinClause:
        # ``A join B join C on cBC on cAB``): parenthesize the inner
        # pair — a parenthesized join is still a join relation in
        # Spark, so the inner aliases stay visible to the outer ON
        for _ in range(4):
            m2 = re.search(
                r"(?i)\bjoin\s+([A-Za-z_][\w.]*(?:\s+(?:as\s+)?\w+)?)"
                r"\s+join\s+([A-Za-z_][\w.]*(?:\s+(?:as\s+)?\w+)?)"
                r"\s+on\s+(.+?)\s+on\s+",
                sql,
            )
            if not m2:
                break
            sql = (
                sql[: m2.start()]
                + f"join ({m2.group(1)} join {m2.group(2)} "
                + f"on {m2.group(3)}) on "
                + sql[m2.end():]
            )
        for _ in range(8):
            m2 = re.search(r"(?:,|\bJOIN\b)\s*\(\s*select\b", sql,
                           re.IGNORECASE)
            if not m2:
                break
            lo = sql.index("(", m2.start())
            i = _close_paren(sql, lo)
            if i < 0:
                i = len(sql)
            inner_sql = sql[lo + 1:i - 1]
            view = f"_dialect_sub_{abs(hash(inner_sql)) % 10**8}"
            translate(spark, db, inner_sql.strip(), ts_col
                      ).createOrReplaceTempView(view)
            sql = sql[:lo] + " " + view + " " + sql[i:]
        wj = _split_join_window_tail(sql)
        if wj is not None:
            # time-window clause over a join (… a, d2.t1 b where
            # a.ts = b.ts interval(1a)): the reference windows the
            # merged join stream on its primary-ts equi key
            # (joinoperator.c → window operator chain). Materialize the
            # bare join as a derived table with every qualified select
            # ref projected under a q__col alias (+ the equi ts as the
            # window's ts), then window it through the dialect.
            head_sel, head_rest, tail, jts = wj
            # count(tb.*) counts the join rows (reference table-star
            # count) — no per-side columns needed
            head_sel = re.sub(
                r"(?i)\bcount\s*\(\s*[A-Za-z_]\w*\.\*\s*\)", "count(*)",
                head_sel,
            )
            proj = {}

            def q2a(m3):
                key = f"{m3.group(1)}__{m3.group(2)}"
                proj[key] = f"{m3.group(1)}.{m3.group(2)}"
                return key

            qref = r"\b([A-Za-z_]\w*)\.([A-Za-z_]\w*)\b"
            sel2 = re.sub(qref, q2a, head_sel)
            tail2 = re.sub(qref, q2a, tail)
            items = [f"{v} as {k}" for k, v in proj.items()]
            wts = ts_col
            if jts is not None:
                wts = "_jts"
                items.append(f"{jts} as _jts")
            inner = (
                "select " + (", ".join(items) or "*")
                + " from " + head_rest
            )
            view = f"_dialect_winjoin_{abs(hash(sql)) % 10**8}"
            translate(spark, db, inner, ts_col
                      ).createOrReplaceTempView(view)
            return _translate_inner(
                spark, db, f"select {sel2} from {view} {tail2}",
                wts, tsma_catalog,
            )
        jm2 = re.match(r"(?is)^\s*select\s+(.*?)\s+from\s+(.*)$", sql)
        if jm2 and (
            _collect_groupfn_calls([jm2.group(1)])
            or re.search(
                r"(?i)\b(?:diff|csum|mavg|derivative|statecount|"
                r"stateduration|sample|unique|tail|mode|fill_forward)\s*\(",
                jm2.group(1),
            )
        ):
            # twa()/irate()/indef functions over a join: project the
            # qualified refs (plus the equi-join ts) through the plain
            # join fallback into a view, then re-enter the dialect —
            # the lag pre-pass / indef windows run over the view's
            # single ts-ordered stream (same shape as the
            # window-over-join rewrite)
            head_sel, head_rest = jm2.group(1), jm2.group(2)
            proj = {}

            def q2a2(m3):
                key = f"{m3.group(1)}__{m3.group(2)}"
                proj[key] = f"{m3.group(1)}.{m3.group(2)}"
                return key

            qref2 = r"\b([A-Za-z_]\w*)\.([A-Za-z_]\w*)\b"
            sel2 = re.sub(qref2, q2a2, head_sel)
            jtm = re.search(
                rf"(?i)\b([A-Za-z_]\w*)\.({re.escape(ts_col)})\s*=",
                head_rest,
            )
            items2 = [f"{v} as {k}" for k, v in proj.items()]
            wts2 = ts_col
            if jtm:
                wts2 = "_jts"
                items2.append(f"{jtm.group(0)[:-1].strip()} as _jts")
            inner2 = (
                "select " + (", ".join(items2) or "*")
                + " from " + head_rest
            )
            view2 = f"_dialect_gfjoin_{abs(hash(sql)) % 10**8}"
            _translate_inner(
                spark, db, inner2, ts_col, tsma_catalog
            ).createOrReplaceTempView(view2)
            return _translate_inner(
                spark, db, f"select {sel2} from {view2}",
                wts2, tsma_catalog,
            )
        sql = _rewrite_join_firstlast(db, sql)
        sql = _dequalify_tables(sql, db)
        _register_views(spark, db, sql)
        sql = _promote_ts_numeric_cmp(spark, sql)
        # dialect agg spellings (spread/hyperloglog/...) still need
        # their Spark forms on the join fallback
        out = spark.sql(_rewrite_ops(_rewrite_aggs(sql, ts_col)))
        if (
            _AGG_CALL_RE.search(sql)
            and not re.search(r"(?i)\bgroup\s+by\b", sql)
            and not re.search(
                r"(?i)\b(?:count|approx_count_distinct)\s*\(", sql
            )
        ):
            # reference: a global non-count aggregate over an empty
            # (join) input emits NO row — numOfRes stays 0
            out = out.where(
                " OR ".join(f"`{c}` IS NOT NULL" for c in out.columns)
            )
        return out
    m = _CLAUSE_RE.match(sql)
    if not m:
        # no dialect clause structure recognized — let Spark SQL parse it
        return spark.sql(_rewrite_ops(sql))
    g = m.groupdict()
    table = g["table"]
    # self-qualified column refs (``group by stb1.c1`` with FROM
    # db.stb1): the DataFrame path resolves bare columns only
    _qn = [
        n for n in dict.fromkeys(
            [table, table.split(".")[-1], g.get("talias")]
        ) if n
    ]
    _qre = re.compile(
        rf"\b(?:{'|'.join(re.escape(n) for n in _qn)})\.([A-Za-z_]\w*)"
    )
    g = {
        k: (
            _outside_quotes(v, lambda s: _qre.sub(r"\1", s))
            if isinstance(v, str) and k != "table" else v
        )
        for k, v in g.items()
    }
    import os

    if "." in table:
        # db-qualified FROM (`db.tb`): the prefix is the session db —
        # resolve against the bare registry name
        bare = table.split(".")[-1]
        if bare in db.tables or os.path.exists(f"{db.root}/{bare}.parquet"):
            table = bare
    globals()["_ACTIVE_SUB_ORDER"] = None
    globals()["_ACTIVE_SUB_ROWIDX"] = False
    globals()["_ACTIVE_DEGRADED"] = False
    if os.path.exists(f"{db.root}/{table}.parquet"):
        reg0 = db.tables.get(table)
        # partition/group by tbname = per-child scan shape: the reference
        # scans each child separately (no TableMergeScan), so the
        # cross-child composite-pk merge must NOT apply
        _per_child = any(
            re.search(r"(?i)\btbname\b", g[k] or "")
            for k in ("partition", "group")
            if k in g
        )
        base = db.read(
            spark, table,
            dedup=bool(reg0 is not None and reg0.managed),
            pk_merge=not _per_child,
            tbname_in=_pinned_tbnames(g.get("where")),
        )
        if "tbname" not in base.columns and re.search(
            r"(?i)\btbname\b", re.sub(r"'[^']*'", "''", sql)
        ):
            # tbname over a NORMAL table is the table's own name — one
            # constant group (parTranslater translates the pseudo-column
            # for any table kind)
            base = base.withColumn("tbname", F.lit(table.split(".")[-1]))
    elif (
        g["window"]
        or g["partition"]
        or g["slimit"]
        or re.search(
            r"(?i)\b(diff|csum|mavg|derivative|statecount|stateduration|"
            r"twa|irate|top|bottom|sample|last_row|spread|elapsed|mode|"
            r"tail|unique|histogram|percentile|apercentile|leastsquares|"
            r"fill_forward|"
            r"first|last|interp|lag|lead)"
            r"\s*\(",
            g["select"],
        )
        # cols() in ORDER BY needs the dialect group path's hidden-
        # aggregate machinery — Catalyst can't parse the rewrite
        or re.search(r"(?i)\bcols\s*\(", sql)
    ) and _view_exists(spark, table) and table not in db.tables:
        # dialect clauses over a registered view (e.g. a translated
        # FROM-subquery) — read the view instead of parquet; expose its
        # recorded presentation order to the window assignment below.
        # A name the CURRENT db's registry knows is never served from a
        # temp view: join translation registers views under table names,
        # and after a drop/create-database cycle those views point at
        # the PREVIOUS generation's data
        base = spark.table(table)
        global _ACTIVE_SUB_ORDER
        _ACTIVE_SUB_ORDER = _VIEW_ORDER.get(table)
        globals()["_ACTIVE_SUB_ROWIDX"] = table in _VIEW_ROWIDX
        globals()["_ACTIVE_DEGRADED"] = table in _VIEW_DEGRADED
    else:
        child = _child_slice(spark, db, table)
        if child is None:
            # std-SQL table/view → Catalyst parses the whole query
            # (dialect agg names still need their Spark spellings —
            # `select hyperloglog(1) from <subquery view>`)
            _tsc = None
            try:
                from pyspark.sql.types import TimestampType as _Tst

                _tsc = {
                    f.name for f in spark.table(table).schema.fields
                    if isinstance(f.dataType, _Tst)
                }
            except Exception:  # noqa: BLE001 — unresolvable FROM
                pass
            return spark.sql(_rewrite_ops(
                _rewrite_aggs(sql, ts_col, ts_cols=_tsc)
            ))
        base = child
    base, g = _promote_floats(base, g)
    base_prefilter = base
    if g["where"]:
        base = base.where(
            F.expr(_filter_expr_sql(
                base.schema, _rewrite_ops(g["where"])
            ))
        )
    keys = (
        [c.strip() for c in _split_select(g["partition"])]
        if g["partition"] else []
    )

    # a star qualified by the FROM table (or its alias) is the bare
    # star (reference createAllColumns resolves it per-table; there is
    # only one table here)
    qnames = [n for n in (table, table.split(".")[-1], g["talias"]) if n]
    qs = re.sub(
        rf"\b(?:{'|'.join(re.escape(n) for n in qnames)})\.\*",
        "*",
        g["select"],
    )
    if qs != g["select"]:
        g = dict(g)
        g["select"] = qs
    bare_star = re.search(r"(?:^|,)\s*\*\s*(?:,|$)", g["select"])
    if bare_star:
        # reference star expansion (parTranslater.c createAllColumns):
        # a child table's ``*`` is its data columns only; a super
        # table's ``*`` is data columns + tags; tbname and the internal
        # ``_version`` stamp are never part of ``*``. Window aggregates
        # expand to data columns only (tags are per-group constants).
        st0 = db.tables.get(table)
        skip = {"_version"}
        if st0 is not None or g["window"]:
            skip.add("tbname")
        if st0 is not None and (
            g["window"] or st0.child or st0.parent
        ):
            skip |= set(st0.tag_cols)
        datacols = [c for c in base.columns if c not in skip]
        g = dict(g)
        g["select"] = re.sub(
            r"(^|,)(\s*)\*(\s*)(?=,|$)",
            lambda m: m.group(1) + m.group(2) + ", ".join(datacols) + m.group(3),
            g["select"],
        )
    star = re.search(
        r"\b(first|last|last_row)\s*\(\s*\*\s*\)", g["select"], re.IGNORECASE
    )
    if star:
        # first(*)/last(*) expand to one call per data column (reference
        # parser star expansion; tags/tbname are not part of *)
        st0 = db.tables.get(table)
        skip = {"tbname", "_version", *(st0.tag_cols if st0 else ())}
        datacols = [c for c in base.columns if c not in skip]
        g = dict(g)
        g["select"] = re.sub(
            r"\b(first|last|last_row)\s*\(\s*\*\s*\)",
            lambda m: ", ".join(f"{m.group(1)}({c})" for c in datacols),
            g["select"],
        )
    st_pk = db.tables.get(table)
    from pyspark.sql.types import DoubleType as _DblT
    from pyspark.sql.types import FloatType as _FltT

    from pyspark.sql.types import TimestampType as _TssT

    _decl = dict(st_pk.declared_types or ()) if st_pk else {}
    select = _rewrite_aggs(
        _rewrite_ops(g["select"]), ts_col,
        pk_col=st_pk.pk_col if st_pk else None,
        nchar_cols={
            c for c, ty in _decl.items()
            if ty and ty.strip().lower().startswith("nchar")
        },
        bin_cols={
            c for c, ty in _decl.items()
            if ty and re.match(r"(?i)\s*(binary|varchar|varbinary)", ty)
        },
        float_cols={
            f.name for f in base.schema.fields
            if isinstance(f.dataType, (_FltT, _DblT))
        },
        ts_cols={
            f.name for f in base.schema.fields
            if isinstance(f.dataType, _TssT)
        },
    )
    items = _split_select(select)

    if g["order"] and re.search(r"(?i)\bcols\s*\(", g["order"]):
        # ORDER BY cols(sel, p): sorts on the aggregate the select-list
        # cols rewrite produces — run the same rewrite over the order
        # text so agg-output substitution can match it. The reference
        # rejects the combination on a temp table with a non-grouped
        # tag companion (orderby_test error probes).
        g = dict(g)
        _osql = _rewrite_aggs(
            _rewrite_ops(g["order"]), ts_col,
            pk_col=st_pk.pk_col if st_pk else None,
        )
        # the select-list rewrite appends output aliases — illegal in
        # ORDER BY text; strip them (the CAST(x AS t) form survives:
        # its `as` is inside parens, never followed by , / end / dir)
        _osql = re.sub(r"(?is)\s+as\s+`[^`]*`", "", _osql)
        g["order"] = re.sub(
            r"(?is)\s+as\s+[A-Za-z_]\w*(?=\s*(,|$|asc\b|desc\b))",
            "", _osql,
        )

    window = (g["window"] or "").strip()
    if window and keys and any(
        not re.fullmatch(r"[A-Za-z_]\w*", k) for k in keys
    ):
        # PARTITION BY <expr> [AS alias] with a window clause: the
        # window kernels partition by COLUMNS — materialize each
        # expression key, rewrite the key list and any select item that
        # spells the same expression (reference: partition by
        # to_char(ts,'yyyymmdd') as ts state_window(…))
        def _nrm(s):
            return re.sub(r"\s+", "", s).lower()

        new_keys = []
        for i, k in enumerate(keys):
            if re.fullmatch(r"[A-Za-z_]\w*", k):
                new_keys.append(k)
                continue
            am = _ITEM_ALIAS_RE.match(k.strip())
            kexpr = am.group("expr")
            kalias = am.group("alias")
            name = f"_pkey{i}"
            base = base.withColumn(name, F.expr(_rewrite_ops(kexpr)))
            new_keys.append(name)
            # HAVING/ORDER BY spelling the key expression reference the
            # materialized column (post-agg, the raw operands are gone)
            kpat = re.compile(
                re.sub(r"(?:\\\s|\s)+", r"\\s*", re.escape(kexpr)),
                re.IGNORECASE,
            )
            g = dict(g)
            for cl in ("having", "order"):
                if g[cl]:
                    g[cl] = kpat.sub(name, g[cl])
            fixed_items = []
            for it in items:
                im2 = _ITEM_ALIAS_RE.match(it.strip())
                if im2 and _nrm(im2.group("expr")) == _nrm(kexpr):
                    al = im2.group("alias") or kalias
                    fixed_items.append(f"{name} as {al}" if al else name)
                else:
                    fixed_items.append(it)
            items = fixed_items
        keys = new_keys
    gkeys_extra = (
        [c.strip() for c in _split_select(g["group"])] if g["group"] else []
    )
    ts_eff = ts_col
    if ts_col not in base.columns:
        # indef/groupfn ordering over a derived relation (subquery whose
        # time column is _wstart or an alias)
        from pyspark.sql.types import TimestampType as _TsTyp

        ts_eff = "_wstart" if "_wstart" in base.columns else next(
            (f.name for f in base.schema.fields
             if isinstance(f.dataType, _TsTyp)), ts_col)
        if ts_eff != ts_col:
            # `_rowts` (rewritten to the pk name) over a derived table
            # resolves to the relation's primary timestamp column
            items = [
                re.sub(rf"\b{re.escape(ts_col)}\b", ts_eff, it)
                for it in items
            ]
    indef_cols = None if window else _build_indef_items(
        items, keys, ts_eff, dtypes=dict(base.dtypes),
        pk_col=(st_pk.pk_col if st_pk and getattr(st_pk, "pk_col", None)
                in base.columns else None),
    )
    if window:
        # PARTITION BY tags + window + GROUP BY residue: residual group
        # keys fold into the window partitioning (reference planner puts
        # both in the window operator's group list)
        st = db.tables.get(table)
        win_order = None
        if g["order"] and _AGG_CALL_RE.search(g["order"]):
            # ORDER BY with aggregate calls sorts inside the window
            # operator (placeholder aggregation) — consumed here
            win_order = _rewrite_ops(g["order"])
            g = dict(g)
            g["order"] = None
        out = _windowed(
            base, window, items, keys + gkeys_extra, g["fill"], ts_eff,
            tsma_catalog=tsma_catalog,
            hint=hint,
            tag_cols=st.tag_cols if st else (),
            is_child=st.child if st else False,
            ts_bounds=_ts_bounds(g["where"], ts_eff),
            having=_rewrite_ops(g["having"]) if g["having"] else None,
            plimit=int(g["limit"]) if (g["limit"] and keys) else None,
            slimit=int(g["slimit"]) if (g["slimit"] and keys) else None,
            order_by=win_order,
        )
    elif indef_cols is not None:
        # row-indexed functions (diff/csum/…): PARTITION BY keys become
        # the ordered-window partition; rows where the function output
        # is undefined are dropped (reference indef emission)
        icols, iemit, ipref = indef_cols
        if ipref is not None:
            base = base.where(ipref) if isinstance(ipref, Column) else ipref(base)
        # SLIMIT needs the partition keys post-projection — carry them
        # under hidden names, select groups, then drop
        _skeys = []
        if g["slimit"] and keys:
            _skeys = [
                F.expr(k).alias(f"_sk{i}") for i, k in enumerate(keys)
            ]
        # ORDER BY columns outside the projection (`… partition by
        # tbname order by tbname`) ride through hidden, sorted here
        _osort = []
        if g["order"]:
            _oparts = [p.strip() for p in g["order"].split(",")]
            _onames = [p.split()[0] for p in _oparts if p]
            if all(n in base.columns for n in _onames):
                _skeys += [
                    F.col(n).alias(f"_ok{i}")
                    for i, n in enumerate(_onames)
                ]
                _osort = [
                    F.col(f"_ok{i}").desc()
                    if p.lower().endswith(" desc") else F.col(f"_ok{i}")
                    for i, p in enumerate(_oparts)
                ]
        if iemit is not None:
            out = (
                base.select(*icols, *_skeys, iemit.alias("_emit"))
                .where(F.col("_emit"))
                .drop("_emit")
            )
        else:
            out = base.select(*icols, *_skeys)
        if g["slimit"] and keys:
            from tdengine_spark.operators.slimit import slimit as _slimit

            out = _slimit(
                out, [f"_sk{i}" for i in range(len(keys))],
                int(g["slimit"]), int(g.get("soffset") or 0),
            ).drop(*[f"_sk{i}" for i in range(len(keys))])
            g = dict(g)
            g["slimit"] = None
        if _osort:
            out = out.orderBy(*_osort).drop(
                *[c for c in out.columns if c.startswith("_ok")]
            )
            g = dict(g)
            g["order"] = None
    elif (rs := _match_rowsel(items)) is not None:
        out = _translate_rowsel(base, items, rs, keys, ts_col,
                                pk_col=st_pk.pk_col if st_pk else None)
    elif (rsm := _match_rowsel_multi(items)) is not None:
        out = _translate_rowsel_multi(base, rsm, keys, ts_col,
                                      pk_col=st_pk.pk_col if st_pk else None)
    elif (
        keys
        and not g["group"]
        and not any(_has_agg(it) for it in items)
    ):
        # PARTITION BY over a plain projection: no implicit aggregation —
        # the row stream is emitted partition-grouped (reference
        # partition-by scalar mode); LIMIT becomes per-partition
        if g["having"]:
            # scalar HAVING over a plain partition stream filters rows
            # (reference translates it onto the partition node)
            base = base.where(F.expr(_rewrite_ops(g["having"])))
        if g["slimit"]:
            from tdengine_spark.operators.slimit import slimit as _slimit

            base = _slimit(base, keys, int(g["slimit"]))
        if g["limit"]:
            from pyspark.sql.window import Window as _W

            w = _W.partitionBy(*[F.expr(k) for k in keys]).orderBy(ts_col)
            base = (
                base.withColumn("_plim", F.row_number().over(w))
                .where(F.col("_plim") <= int(g["limit"]))
                .drop("_plim")
            )
        out = base.selectExpr(*items)
        if g["order"]:
            onames = [c.strip().split()[0] for c in g["order"].split(",")]
            if all(n in out.columns or n.isdigit() for n in onames):
                out = out.orderBy(*_order_cols(g["order"], out.columns))
            else:
                # ORDER BY a column outside the select list: sort the
                # source rows, then project (row order is preserved)
                out = base.orderBy(
                    *_order_cols(g["order"], base.columns)
                ).selectExpr(*items)
        if g.get("offset"):
            out = out.offset(int(g["offset"]))
        return out
    elif keys or g["group"]:
        gkeys = keys + gkeys_extra
        base, items = _prepare_groupfns(
            base, items, gkeys, ts_col,
            pk_col=st_pk.pk_col if st_pk else None,
        )
        # cols(mode(x), …) selectors need the per-group value count
        # (window pre-pass; see cols_fn) — one column per distinct x
        base = _add_modecnt_cols(base, items, gkeys)

        def _norm_txt(s: str) -> str:
            return re.sub(r"\s+", "", s).lower()

        # group keys may be expressions (GROUP BY abs(c1)) — alias each
        # non-identifier key to a stable output column name
        gk_alias, gb_cols = {}, []
        for k in gkeys:
            if re.match(r"^[A-Za-z_]\w*$", k.strip()):
                gb_cols.append(F.col(k.strip()))
                gk_alias[_norm_txt(k)] = k.strip()
            else:
                nm = re.sub(r"\W+", "_", k.strip()).strip("_") or "gkey"
                if nm[0].isdigit():
                    nm = "_" + nm
                gb_cols.append(F.expr(k).alias(nm))
                gk_alias[_norm_txt(k)] = nm
                if g["having"]:
                    # HAVING spelling an expression group key references
                    # its aliased output column (the raw operands are
                    # pruned post-aggregation)
                    g = dict(g)
                    g["having"] = re.sub(
                        re.sub(
                            r"(?:\\\s|\s)+", r"\\s*", re.escape(k.strip())
                        ),
                        nm,
                        g["having"],
                        flags=re.IGNORECASE,
                    )
        # output = the select list only, in order (the reference does
        # NOT implicitly append group keys), groups ordered by key when
        # no ORDER BY (reference group-ordered result blocks)
        sel_cols, aggs, used = [], [], set()
        agg_pairs = []
        anchor = _sel_anchor(items, ts_col)
        for it in items:
            kn = gk_alias.get(_norm_txt(re.sub(
                r"(?is)\s+as\s+(?:[A-Za-z_]\w*|`[^`]*`)\s*$", "", it)))
            if kn is not None:
                am = re.search(
                    r"\s+as\s+([A-Za-z_][\w]*)\s*$", it, re.IGNORECASE
                )
                sel_cols.append(f"{kn} as {am.group(1)}" if am else kn)
                continue
            if anchor is not None and not _AGG_CALL_RE.search(it):
                # companion scalar — but ONLY if the item carries no
                # aggregate at all (first/last included: wrapping
                # `first(c1)*91` in the anchor's max_by would nest
                # aggregates)
                am = _ITEM_ALIAS_RE.match(it.strip())
                body = am.group("expr")
                nm = am.group("alias") or re.sub(
                    r"\W+", "_", body.strip()).strip("_") or "expr"
                if nm[0].isdigit():
                    nm = "_" + nm
                while nm in used:
                    nm += "_"
                aggs.append(
                    F.expr(f"{anchor[0]}({body}, {anchor[1]})").alias(nm)
                )
                agg_pairs.append((body, nm))
                used.add(nm)
                sel_cols.append(nm)
                continue
            if not _AGG_CALL_RE.search(it) and st_pk is not None:
                # tag/tbname companion scalar (`select t0, count(c1) …
                # partition by tbname`): tags are per-group constants in
                # the reference's per-table groups — project any_value
                amt = _ITEM_ALIAS_RE.match(it.strip())
                bodyt = amt.group("expr") if amt else it
                metac = {st_pk.tbname_col, *(st_pk.tag_cols or ())}
                if _refs_only_cols(bodyt, metac):
                    nm = (amt.group("alias") if amt and amt.group("alias")
                          else re.sub(r"\W+", "_", bodyt.strip()).strip("_")
                          or "expr")
                    if nm[0].isdigit():
                        nm = "_" + nm
                    while nm in used:
                        nm += "_"
                    aggs.append(F.expr(f"any_value({bodyt})").alias(nm))
                    agg_pairs.append((bodyt, nm))
                    used.add(nm)
                    sel_cols.append(nm)
                    continue
            bq3 = re.match(r"(?is)^(.*?)\s+as\s+`([^`]*)`\s*$", it.strip())
            am3 = _ITEM_ALIAS_RE.match(it.strip())
            if bq3:
                # backquoted derived name (`min_by(…) as \`first(c0)\``)
                nm = bq3.group(2)[:64]
                aggs.append(F.expr(bq3.group(1)).alias(nm))
                agg_pairs.append((bq3.group(1), nm))
            elif am3 and am3.group("alias"):
                # `max(c1) as c1` AND the bare-alias form `max(c1) c1`
                nm = am3.group("alias")
                aggs.append(F.expr(am3.group("expr")).alias(nm))
                agg_pairs.append((am3.group("expr"), nm))
            else:
                raw = it.strip()
                # reference output name = the expression text as typed
                # ('count(1)', TSDB_COL_NAME_LEN 64-char cap); texts
                # with whitespace/backquotes sanitize as before
                if "`" not in raw and not re.search(r"\s", raw) \
                        and len(raw) <= 64:
                    nm = raw
                else:
                    nm = re.sub(r"\W+", "_", raw).strip("_") or "expr"
                if nm[0].isdigit():
                    nm = "_" + nm
                while nm in used:
                    nm += "_"
                aggs.append(F.expr(it).alias(nm))
                agg_pairs.append((it, nm))
            used.add(nm)
            sel_cols.append(
                nm if re.fullmatch(r"[A-Za-z_]\w*", nm) else f"`{nm}`"
            )
        if g["order"]:
            # ORDER BY an aggregate that is NOT in the select list
            # (`order by cols(last(c0), c0)` with a different select):
            # compute it as a hidden aggregate — dropped by the final
            # sel_cols projection after the sort
            for c in _split_select(g["order"]):
                body = re.sub(r"(?is)\s+(asc|desc)\s*$", "", c.strip())
                if body.isdigit() or gk_alias.get(_norm_txt(body)):
                    continue
                if any(_norm_txt(e) == _norm_txt(body)
                       for e, n in agg_pairs):
                    continue
                if _AGG_CALL_RE.search(body):
                    hid = f"_ordagg{len(agg_pairs)}"
                    aggs.append(F.expr(body).alias(hid))
                    agg_pairs.append((body, hid))
        _gdummy = None
        if not aggs:
            # `select c1 … group by c1`: the select list is group keys
            # only — grouped projection (one row per group, no agg)
            _gdummy = "_gdummy"
            aggs.append(F.count(F.lit(1)).alias(_gdummy))
        out = base.groupBy(*gb_cols).agg(*aggs)
        if _gdummy:
            out = out.drop(_gdummy)
        # GROUP/PARTITION BY tbname/tags runs per child table in the
        # reference (per-vnode table groups): a child with no surviving
        # rows (empty, or WHERE-filtered) still emits a group WHEN a
        # count() aggregate is selected — count 0, other aggs NULL
        # (countFunction always has a result; test_fun_agg_count
        # query_empty_stb). The key universe = unfiltered data distinct
        # ∪ REGISTERED children (child-table cardinality, not data).
        _cnt_cols = [
            nm for e, nm in agg_pairs
            if re.match(r"(?is)^\s*count\s*\(", e)
        ]
        _meta = {st_pk.tbname_col, *(st_pk.tag_cols or ())} \
            if st_pk is not None and not st_pk.child else set()
        _kplain = [k.strip() for k in gkeys]
        if (
            _cnt_cols and _kplain
            and all(
                re.match(r"^[A-Za-z_]\w*$", k) and k in _meta
                and k in base_prefilter.columns
                for k in _kplain
            )
        ):
            # the universe carries EVERY meta column so tag-only WHERE
            # conjuncts can prune table groups like the reference's
            # per-vnode tag filter; projected to the keys afterwards
            _mcols = [
                c for c in base_prefilter.columns if c in _meta
            ]
            universe = base_prefilter.select(*_mcols)
            tname = table.split(".")[-1]
            regrows = []
            for ch in db.tables.values():
                if ch.parent != tname:
                    continue
                vals = dict(zip(st_pk.tag_cols, ch.tag_values))
                vals[st_pk.tbname_col] = ch.name
                regrows.append(tuple(
                    None if vals.get(c) is None else str(vals.get(c))
                    for c in _mcols
                ))
            if not regrows and not st_pk.tag_cols:
                # a NORMAL table is its own (only) table group — an
                # empty one still emits its tbname group
                regrows.append(tuple(
                    tname if c == st_pk.tbname_col else None
                    for c in _mcols
                ))
            if regrows:
                from pyspark.sql import types as _T

                reg_df = spark.createDataFrame(
                    regrows,
                    _T.StructType([
                        _T.StructField(c, _T.StringType())
                        for c in _mcols
                    ]),
                )
                uni_schema = dict(
                    (f.name, f.dataType) for f in universe.schema
                )
                reg_df = reg_df.select(*[
                    _lit_cast(c, uni_schema[c]) for c in _mcols
                ])
                universe = universe.union(reg_df)
            if g["where"]:
                # tag-only WHERE conjuncts prune whole table groups
                # (the reference's per-vnode tag filter runs before the
                # scan); data-involving conjuncts can't prune — those
                # children still emit with count 0
                from pyspark.errors import AnalysisException as _AE

                for conj in _split_top_and(g["where"]):
                    if _refs_only_cols(conj, _meta):
                        try:
                            universe = universe.where(F.expr(
                                _filter_expr_sql(
                                    universe.schema, _rewrite_ops(conj)
                                )
                            ))
                        except (_AE, ValueError, KeyError):
                            # a conjunct the prune dialect can't express
                            # just doesn't prune — it still filters in
                            # the main query
                            pass
            universe = universe.select(*_kplain).distinct()
            out = universe.join(out, on=_kplain, how="left")
            out = out.select(*[
                F.coalesce(F.col(c), F.lit(0)).alias(c)
                if c in _cnt_cols else F.col(c)
                for c in out.columns
            ])
        # an agg alias may shadow its own group key (`select max(c1) c1
        # … group by c1`): positional-rename the key so the select-list
        # projection resolves the ALIAS (reference output scope)
        names = list(out.columns)
        tail = set(names[len(gb_cols):])
        if any(names[i] in tail for i in range(len(gb_cols))):
            for i in range(len(gb_cols)):
                if names[i] in tail:
                    names[i] = f"_gkey{i}_{names[i]}"
            out = out.toDF(*names)
        if g["having"] and not _has_agg(g["having"]):
            # scalar HAVING (a predicate over group keys): filter while
            # the aliased key columns are still in scope — the final
            # select-list projection prunes them. Aggregate HAVING stays
            # on the generic post-projection path (its aggregates
            # substitute to selected output columns).
            out = out.where(F.expr(_rewrite_ops(g["having"])))
            g = dict(g)
            g["having"] = None
        if g["slimit"]:
            # SLIMIT before the select-list projection: the group keys
            # may not survive into the output columns
            from tdengine_spark.operators.slimit import slimit as _slimit

            out = _slimit(
                out, [gk_alias[_norm_txt(k)] for k in gkeys],
                int(g["slimit"]), int(g.get("soffset") or 0),
            )
            g = dict(g)
            g["slimit"] = None
        if g["order"]:
            # resolve ORDER BY against the aggregated frame: ordinals →
            # select positions, group-key expressions → their aliases,
            # aggregate spellings → their output columns; items that
            # resolve to nothing are dropped (the reference tolerates
            # ordering grouped output by unrelated columns). Split
            # respects nesting — a rewritten cols() ordering carries
            # commas inside max_by(…, CASE …).
            ocols = []
            plain_names = [s.split()[0].strip("`") for s in sel_cols]
            for c in _split_select(g["order"]):
                c = c.strip()
                desc = c.lower().endswith(" desc")
                body = re.sub(r"(?is)\s+(asc|desc)\s*$", "", c)
                if body.isdigit():
                    body = plain_names[int(body) - 1]
                nm = gk_alias.get(_norm_txt(body))
                if nm is None:
                    nm = next(
                        (n for e, n in agg_pairs
                         if _norm_txt(e) == _norm_txt(body)), None)
                if nm is None and body in out.columns:
                    nm = body
                if nm is not None:
                    ocols.append(F.col(nm).desc() if desc else F.col(nm))
            if ocols:
                out = out.orderBy(*ocols)
            g = dict(g)
            g["order"] = None
        else:
            # implicit group order: by key, NULL groups last (matches the
            # reference's observed partition emission order in its suites)
            out = out.orderBy(
                *[F.col(gk_alias[_norm_txt(k)]).asc_nulls_last()
                  for k in gkeys]
            )
        out = out.selectExpr(*sel_cols)
    else:
        if any(_has_agg(it) for it in items):
            has_count = bool(
                re.search(
                    r"(?i)\b(?:count|approx_count_distinct)\s*\(",
                    " ".join(items),
                )
            )
            base, items = _prepare_groupfns(
                base, items, [], ts_col,
                pk_col=st_pk.pk_col if st_pk else None,
            )
            base = _add_modecnt_cols(base, items, [])
            out = base.agg(*[F.expr(it) for it in items])
            if not has_count:
                # reference: non-count aggregates produce NO row for
                # empty input (count/hyperloglog return 0 instead)
                out0 = base.agg(
                    *[F.expr(it) for it in items],
                    F.count(F.lit(1)).alias("_nrows"),
                )
                cond = F.col("_nrows") > 0
                if all(
                    re.match(
                        r"(?is)^\s*(?:first|last|min|max)\s*\(.*\)"
                        r"\s*(?:(?:as\s+)?[A-Za-z_]\w*)?\s*$",
                        it,
                    )
                    for it in _split_select(g["select"] or "count(*)")
                ):
                    # SELECTION functions over all-NULL input emit NO
                    # row (firstLastFinalize/minmax numOfElems = 0 —
                    # golden: `select last(c2)` over all-NULL c2 →
                    # checkRows(0)). Pure aggregates DO emit a NULL row
                    # (avg/sum/group_concat/distinct — their own tests
                    # pin checkRows(1) with NULL), so only a select
                    # list made ENTIRELY of first/last/min/max calls
                    # suppresses.
                    import functools as _ft
                    import operator as _op

                    cond = cond & _ft.reduce(
                        _op.or_,
                        [F.col(f"`{c}`").isNotNull()
                         for c in out0.columns[:-1]],
                    )
                out = out0.where(cond).drop("_nrows")
        else:
            out = base.selectExpr(*items)

    if g["having"] and not window:
        # substitute aggregate spellings to their output columns first
        # (`having count(c5) > 0` filters the aggregated frame — the
        # raw call can't re-evaluate there); items not in the select
        # list fall through as-is
        hv = _rewrite_ops(g["having"])
        ocols = list(out.columns)
        pairs = [
            (re.sub(r"(?is)\s+as\s+(?:[A-Za-z_]\w*|`[^`]*`)\s*$", "", it), oc)
            for it, oc in zip(items, ocols[len(ocols) - len(items):])
        ] if len(ocols) >= len(items) else []
        hv = _subst_agg_refs(_rewrite_aggs(hv, ts_col), pairs)
        out = out.where(F.expr(hv))
    if g["slimit"] and keys and not window:
        from tdengine_spark.operators.slimit import slimit as _slimit

        out = _slimit(
            out, [k for k in keys if k in out.columns] or keys,
            int(g["slimit"]), int(g.get("soffset") or 0),
        )
    if g["order"]:
        def _apply_order(otext):
            if not otext.strip():
                return out
            names = out.columns
            if len(set(names)) != len(names):
                # duplicate output names (reference allows `c0,
                # cols(first(ts), c0, …)`): sort on the FIRST
                # occurrence through a uniquified rename
                uniq = [f"_oc{i}" for i in range(len(names))]
                first = {}
                for i, n in enumerate(names):
                    first.setdefault(n, uniq[i])
                tmp = out.toDF(*uniq)
                oc2 = []
                for c in _split_select(otext):
                    c = c.strip()
                    desc = c.lower().endswith(" desc")
                    nm = re.sub(r"(?is)\s+(asc|desc)\s*$", "", c)
                    tgt = (uniq[int(nm) - 1] if nm.isdigit()
                           else first.get(nm, nm))
                    oc2.append(F.col(tgt).desc() if desc else F.col(tgt))
                return tmp.orderBy(*oc2).toDF(*names)
            ocols = _order_cols(otext, out.columns)
            if (
                window
                and "_wstart" in out.columns
                and not re.search(r"(?i)\b_wstart\b", otext)
            ):
                # reference result blocks are (partition, _wstart)-
                # ordered; an ORDER BY over partition keys keeps the
                # per-partition window order as tie-break
                ocols.append(F.col("_wstart"))
            return out.orderBy(*ocols)

        try:
            # Spark resolves ORDER BY through pruned projections
            # (ResolveMissingReferences) — try the literal spelling first
            out = _apply_order(g["order"])
        except Exception:  # noqa: BLE001 — unresolvable order column
            otext = g["order"]
            if re.search(rf"\b{re.escape(ts_col)}\b", otext):
                # ORDER BY ts on an aggregated window output: the pk
                # column became _wstart (or any window-monotone
                # timestamp output)
                from pyspark.sql.types import TimestampType as _OTs

                cand = "_wstart" if "_wstart" in out.columns else next(
                    (f.name for f in out.schema.fields
                     if isinstance(f.dataType, _OTs)), None)
                if cand:
                    otext = re.sub(
                        rf"\b{re.escape(ts_col)}\b", cand, otext)
                else:
                    otext = ",".join(
                        c for c in otext.split(",")
                        if not re.search(rf"\b{re.escape(ts_col)}\b", c)
                    )
            out = _apply_order(otext)
    if g.get("offset"):
        out = out.offset(int(g["offset"]))
    if g["limit"] and not (window and keys):
        out = out.limit(int(g["limit"]))
    return out


_SIMPLE_AGG_RE = re.compile(
    r"^(avg|sum|count|min|max)\s*\(\s*([A-Za-z_]\w*)\s*\)"
    r"(?:\s+as\s+([A-Za-z_]\w*))?\s*$",
    re.IGNORECASE,
)


_FINGUARD_RE = re.compile(
    r"(?is)^element_at\(transform\(array\((.*)\), v -> "
    r"CASE WHEN isnan\(v\) OR abs\(v\) = double\('Infinity'\) "
    r"THEN NULL ELSE v END\), 1\)"
)


def _unwrap_finguard(it: str) -> str:
    """Strip the non-finite-result guard wrapper (see _rewrite_aggs
    float_cols) so plan matchers (TSMA eligibility, fast paths) still
    see the plain aggregate call."""
    m = _FINGUARD_RE.match(it.strip())
    if m:
        rest = it.strip()[m.end():]
        return m.group(1) + rest
    return it


def _parse_simple_aggs(items: list[str]):
    """[(op, metric, out_alias)] when every item is a plain rollup-able
    aggregate (TSMA rewrite eligibility), else None."""
    out = []
    for it in items:
        m = _SIMPLE_AGG_RE.match(_unwrap_finguard(it).strip())
        if not m or m.group(2) == "*":
            return None
        op, metric = m.group(1).lower(), m.group(2)
        out.append((op, metric, m.group(3) or f"{op}_{metric}"))
    return out


_SQL_KEYWORDS = {
    "as", "and", "or", "not", "in", "is", "null", "true", "false",
    "case", "when", "then", "else", "end", "between", "like",
    "float", "double", "int", "bigint", "string", "boolean", "cast",
    "div", "timestamp", "interval", "asc", "desc",
}


def _refs_only_cols(item: str, allowed: set) -> bool:
    """True when every column reference in ``item`` is in ``allowed`` —
    used for the scalar/aggregate window-mode split: an expression over
    only tags/tbname/partition keys is window-constant (reference planner
    treats tag expressions as per-group constants)."""
    txt = _QUOTED_RE.sub("''", item)
    for m in re.finditer(r"\b([A-Za-z_]\w*)\b(?!\s*\()", txt):
        name = m.group(1)
        if name.lower() in _SQL_KEYWORDS:
            continue
        if name not in allowed:
            return False
    return True


def _promote_floats(base, g):
    """Reference float semantics for dialect plans (sclConvertOp /
    filter type conversion, source/libs/scalar):

      - scalar expressions over FLOAT columns compute in DOUBLE (the
        reference's scalar operators widen every numeric operand), so
        ``ceil(phase * 100)`` sees 31.000001, not a float-rounded 31.0 —
        we widen FLOAT columns to DOUBLE up front;
      - a numeric literal compared against a FLOAT column is converted
        to FLOAT first (the column's type), so ``current >= 1.9`` is
        true for the stored float 1.9 — we wrap such literals in
        ``cast(… as float)`` (then Spark widens both to the same double).

    Returns (base-with-doubles, g-with-rewritten-clauses).
    """
    from pyspark.sql.types import FloatType

    from pyspark.sql.types import IntegralType, TimestampType

    # ts-vs-integer-COLUMN comparison: the reference compares the epoch
    # value (filter type promotion) — Spark rejects timestamp vs int.
    tcols = [
        f.name
        for f in base.schema.fields
        if isinstance(f.dataType, TimestampType)
    ]
    icols = [
        f.name
        for f in base.schema.fields
        if isinstance(f.dataType, IntegralType)
    ]
    if tcols and icols:
        tnames = "|".join(re.escape(c) for c in tcols)
        inames = "|".join(re.escape(c) for c in icols)
        tvi = re.compile(
            rf"\b({tnames})\b(\s*(?:>=|<=|<>|!=|==|=|<|>)\s*)\b({inames})\b"
        )
        ivt = re.compile(
            rf"\b({inames})\b(\s*(?:>=|<=|<>|!=|==|=|<|>)\s*)\b({tnames})\b"
        )
        g = dict(g)
        for k in ("where", "having"):
            if g.get(k):
                g[k] = tvi.sub(r"unix_millis(\1)\2\3", g[k])
                g[k] = ivt.sub(r"\1\2unix_millis(\3)", g[k])

    from pyspark.sql.types import BooleanType

    bcols = [
        f.name for f in base.schema.fields
        if isinstance(f.dataType, BooleanType)
    ]
    if bcols:
        # BOOL in arithmetic computes as its 0/1 integer (sclConvertOp
        # C truthiness): `c7 * 12` — Spark rejects boolean operands
        bnames = "|".join(re.escape(c) for c in bcols)
        bfwd = re.compile(
            rf"\b({bnames})\b(\s*(?:[+*/%]|-(?!>))\s*(?!\s))"
        )
        brev = re.compile(rf"([-+*/%]\s*)\b({bnames})\b")
        # a bool-selection aggregate in arithmetic (`first(c7)*12`)
        # computes on the 0/1 integer too
        bsel = re.compile(
            rf"(?i)\b((?:first|last|last_row|min|max)\s*\(\s*"
            rf"(?:{bnames})\s*\))(\s*[-+*/%])"
        )
        # bool as the DIRECT arg of a numeric aggregate (stddev(c7)):
        # the reference computes on the 0/1 integer (bool is numeric in
        # its type lattice); Spark rejects BOOLEAN inputs
        bagg = re.compile(
            rf"(?i)\b(avg|sum|stddev|stddev_pop|stddev_samp|std|"
            rf"variance|var_pop|var_samp|spread|twa|percentile|"
            rf"apercentile)\s*\(\s*({bnames})\s*([,)])"
        )
        g = dict(g)
        for k in ("select", "where", "having", "group", "partition"):
            if g.get(k):
                g[k] = _outside_quotes(
                    g[k],
                    lambda s: bagg.sub(
                        r"\1(cast(\2 as int)\3",
                        bsel.sub(
                            r"cast(\1 as int)\2",
                            brev.sub(
                                r"\1cast(\2 as int)", bfwd.sub(
                                    r"cast(\1 as int)\2", s
                                )
                            ),
                        ),
                    ),
                )

    from pyspark.sql.types import StringType

    scols = [
        f.name for f in base.schema.fields
        if isinstance(f.dataType, StringType)
    ]
    if scols:
        # string column in arithmetic computes via C strtod — the
        # numeric PREFIX, 0 when none ('nchar0' → 0, '12abc' → 12);
        # Spark's implicit cast yields NULL instead
        snames = "|".join(re.escape(c) for c in scols)

        def strtod(c):
            return (
                "coalesce(cast(regexp_extract("
                f"{c}, '^\\\\s*[-+]?[0-9]*\\\\.?[0-9]+"
                "([eE][-+]?[0-9]+)?', 0) as double), cast(0 as double))"
            )

        sfwd = re.compile(
            rf"\b({snames})\b(\s*(?:[+*/%]|-(?!>))\s*(?!\s))"
        )
        srev = re.compile(rf"([-+*/%]\s*)\b({snames})\b")
        g = dict(g)
        for k in ("select", "where", "having", "group", "partition"):
            if g.get(k):
                g[k] = _outside_quotes(
                    g[k],
                    lambda s: srev.sub(
                        lambda m: m.group(1) + strtod(m.group(2)),
                        sfwd.sub(
                            lambda m: strtod(m.group(1)) + m.group(2), s
                        ),
                    ),
                )

    from pyspark.sql.types import IntegralType as _IntgT

    icols = [
        f.name for f in base.schema.fields
        if isinstance(f.dataType, _IntgT)
    ]
    if icols:
        # integer columns in +,-,*,% arithmetic promote to DOUBLE (the
        # reference's binary arithmetic always yields double —
        # parTranslater createOperator resType; Spark's int+int wraps at
        # INT_MAX instead). `/` already divides true in Spark. `->` (the
        # JSON operator) and `-N` alias-less negation are excluded.
        inames = "|".join(re.escape(c) for c in icols)
        ifwd = re.compile(
            rf"\b({inames})\b(\s*(?:[+*%]|-(?!>))\s*(?!\s))"
        )
        irev = re.compile(rf"((?:[+*%]|-(?!>))\s*)\b({inames})\b")
        # int-typed AGGREGATE calls in arithmetic promote the same way
        # (`max(q_int) + min(q_int)`: the reference's vectorMathAdd
        # computes double; Spark's int+int wraps at INT_MAX —
        # test_fun_agg_elapsed int-overflow probes)
        _iagg = (r"(?:max|min|first|last|last_row|sum|mode|count|spread)"
                 rf"\s*\(\s*(?:{inames})\s*\)")
        iaggfwd = re.compile(
            rf"\b({_iagg})(\s*(?:[+*%]|-(?!>))\s*(?!\s))", re.IGNORECASE
        )
        iaggrev = re.compile(
            rf"((?:[+*%]|-(?!>))\s*)({_iagg})", re.IGNORECASE
        )
        g = dict(g)
        for k in ("select", "where", "having", "group", "partition"):
            if g.get(k):
                g[k] = _outside_quotes(
                    g[k],
                    lambda s: iaggrev.sub(
                        r"\1cast(\2 as double)",
                        iaggfwd.sub(
                            r"cast(\1 as double)\2",
                            irev.sub(
                                r"\1cast(\2 as double)",
                                ifwd.sub(r"cast(\1 as double)\2", s),
                            ),
                        ),
                    ),
                )

    fcols = [
        f.name for f in base.schema.fields if isinstance(f.dataType, FloatType)
    ]
    if not fcols:
        return base, g
    base = base.select(
        *[
            F.col(c).cast("double").alias(c) if c in fcols else F.col(c)
            for c in base.columns
        ]
    )
    names = "|".join(re.escape(c) for c in fcols)
    fwd = re.compile(
        rf"\b({names})\b(\s*(?:>=|<=|<>|!=|==|=|<|>)\s*)(-?\d+(?:\.\d+)?)(?![\w.])"
    )
    rev = re.compile(
        rf"(?<![\w.])(-?\d+(?:\.\d+)?)(\s*(?:>=|<=|<>|!=|==|=|<|>)\s*)\b({names})\b"
    )

    def rw(text):
        if not text:
            return text
        text = fwd.sub(lambda m: f"{m.group(1)}{m.group(2)}cast({m.group(3)} as float)", text)
        return rev.sub(lambda m: f"cast({m.group(1)} as float){m.group(2)}{m.group(3)}", text)

    g = dict(g)
    for k in ("where", "having", "window"):
        g[k] = rw(g.get(k))
    return base, g


def _split_top_or(cond: str) -> "list[str]":
    """Split on depth-0 OR outside quotes; one space on each side goes
    with the OR, any other whitespace stays in the parts."""
    return _split_depth0(cond, r"(?i: ?\bOR\b ?)")


def _ts_bounds(where: "str | None", ts_col: str, allow_in: bool = True):
    """Half-open ``[lo_us, hi_us)`` epoch-us bounds the WHERE clause puts
    on ``ts_col``, from its top-level AND conjuncts (either side None when
    unbounded).  Used to size the FILL bucket spine: the reference fills
    the WHERE time range, not just the data's bucket range
    (tfill.c taosFillSetStartInfo — golden:
    13-TimeSeriesExt/09-WindowProjection/ans/test_window_projection_fill)."""
    if not where:
        return None
    from datetime import datetime as _dt

    branches = _split_top_or(where)
    if len(branches) > 1:
        # OR of range branches: union — lo = min of branch los. The
        # reference's range extraction handles OR of plain comparisons
        # but gives up when a branch is an IN list (interval.csv
        # goldens: or-of-ranges derive, or-with-IN falls back).
        los, his = [], []
        for b in branches:
            sub = _ts_bounds(
                _strip_outer_parens(b.strip()), ts_col, allow_in=False
            )
            if sub is None or sub[0] is None:
                return None
            los.append(sub[0])
            his.append(sub[1])
        return (
            min(los),
            None if any(h is None for h in his) else max(his),
        )

    lo = hi = None

    def lit_us(tok: str) -> "int | None":
        tok = tok.strip()
        adj = 0
        am = re.fullmatch(
            r"(.*?)\s*([+-])\s*(\d+)([buasmhdwny])", tok, re.IGNORECASE
        )
        if am:
            tok = am.group(1).strip()
            d = parse_duration(am.group(3) + am.group(4).lower())
            if not d.is_calendar:
                adj = d.microseconds * (1 if am.group(2) == "+" else -1)
        cm = re.fullmatch(
            r"cast\(\s*(.+?)\s+as\s+timestamp\s*\)", tok, re.IGNORECASE
        )
        if cm:
            tok = cm.group(1).strip()
        if adj:
            inner = lit_us(tok)
            return None if inner is None else inner + adj
        if tok.startswith("'") and tok.endswith("'"):
            txt = tok[1:-1]
            fmt = "%Y-%m-%d %H:%M:%S.%f" if "." in txt else (
                "%Y-%m-%d %H:%M:%S" if " " in txt else "%Y-%m-%d"
            )
            try:
                d = _dt.strptime(txt, fmt)
            except ValueError:
                return None
            tzi = _session_tzinfo()
            if tzi is not None:
                # SET TIMEZONE session: literals are local walls of the
                # session zone (per-literal offset — DST-correct)
                return int(d.replace(tzinfo=tzi).timestamp() * 1_000_000)
            return int((d - _dt(1970, 1, 1)).total_seconds() * 1_000_000)
        if re.fullmatch(r"\d+", tok):
            return int(int(tok) * _epoch_unit_us(tok))
        return None

    cmp_re = re.compile(
        rf"^\s*{re.escape(ts_col)}\s*(>=|<=|>|<|=)\s*(.+?)\s*$"
    )
    in_re = re.compile(
        rf"^\s*{re.escape(ts_col)}\s+in\s*\(\s*(.+?)\s*\)\s*$", re.IGNORECASE
    )
    for conj in _split_top_and(where):
        im = in_re.match(conj.strip())
        if im:
            if not allow_in:
                return None
            vals = [lit_us(v) for v in im.group(1).split(",")]
            vals = [v for v in vals if v is not None]
            if vals:
                lo = min(vals) if lo is None else max(lo, min(vals))
                cand = max(vals) + 1000
                hi = cand if hi is None else min(hi, cand)
            continue
        m = cmp_re.match(conj.strip())
        if not m:
            continue
        v = lit_us(m.group(2))
        if v is None:
            continue
        op = m.group(1)
        if op in (">=", ">", "="):
            cand = v if op in (">=", "=") else v + 1000
            lo = cand if lo is None else max(lo, cand)
        if op in ("<", "<=", "="):
            cand = v + 1000 if op in ("<=", "=") else v
            hi = cand if hi is None else min(hi, cand)
    if lo is None and hi is None:
        return None
    return (lo, hi)


def _fill_range(ts_bounds, width, offset):
    """Bucket-aligned (range_start, range_end) Columns for the FILL
    spine, from the WHERE ts bounds.  None sides fall back to the data's
    bucket range inside the fill operator.  Bucketing happens Spark-side
    via window_start so calendar widths (1n/1y) truncate in the SESSION
    timezone, exactly like the window assignment itself."""
    if not ts_bounds:
        return (None, None)

    def bucket(us):
        return tw.window_start(F.timestamp_micros(F.lit(us)), width, offset)

    lo_us, hi_us = ts_bounds
    return (
        bucket(lo_us) if lo_us is not None else None,
        bucket(hi_us - 1) if hi_us is not None else None,
    )


def _assign_data_windows(base, wl, ts_col, keys, extend=0):
    """Dispatch a data-driven window clause (session/state/event/count/
    anomaly) to its ``_wid`` assignment kernel. ``wl`` must have TRUE_FOR
    already stripped. Runs assign in ``_ACTIVE_SUB_ORDER`` (the FROM-
    subquery's ORDER BY presentation order) when one is recorded."""
    sub_order = _ACTIVE_SUB_ORDER
    if wl.startswith("session"):
        mm = re.match(r"session\s*\(\s*([^,]+),\s*([^)]+)\)", wl)
        return assign_session_windows(
            base, mm.group(1).strip(), mm.group(2).strip(), keys,
            order_by=sub_order,
        )
    if wl.startswith("state_window"):
        # balanced capture: the state expression may nest parens
        # (state_window(cast(current as varchar(2))))
        inner = wl[wl.index("(") + 1: wl.rindex(")")]
        scols = _split_select(inner)
        if len(scols) == 1:
            # expression states (cast(current as varchar(2)), CASE WHEN …)
            return assign_state_windows(
                base, ts_col, F.expr(scols[0]), keys, extend=extend,
                order_by=sub_order,
            )
        # multi-column state: the reference's sequential pendingVals
        # semantics (partial-NULL rows merge into compatible windows or
        # seed their own) — operators/eventwindow.py
        # assign_state_windows_multi
        from tdengine_spark.operators.eventwindow import (
            assign_state_windows_multi,
        )

        sc = [F.expr(c) for c in scols]
        mnames = [f"_m{i}" for i in range(len(sc))]
        base2 = base.select(
            "*", *[c.alias(nm) for c, nm in zip(sc, mnames)]
        )
        return assign_state_windows_multi(
            base2, ts_col, mnames, keys, extend=extend
        )
    if wl.startswith("event_window"):
        mm = re.match(
            r"event_window\s+start\s+with\s+(.*?)\s+end\s+with\s+(.*)$", wl
        )
        return assign_event_windows(
            base, ts_col, F.expr(mm.group(1)), F.expr(mm.group(2)), keys,
            order_by=sub_order,
        )
    if wl.startswith("count_window"):
        mm = re.match(
            r"count_window\s*\(\s*(\d+)\s*(?:,\s*(\d+)\s*)?"
            r"(?:,\s*([\w ,]+?)\s*)?\)",
            wl,
        )
        if not mm:
            raise ValueError(f"unsupported COUNT_WINDOW clause: {wl}")
        if mm.group(3):
            # COUNT_WINDOW(n, sliding, col…): a row participates when at
            # least one named column is non-NULL (golden: 07-CountWindow
            # Count0 — the all-NULL row is skipped, partial-NULL kept)
            import functools
            import operator

            cond = functools.reduce(
                operator.or_,
                [
                    F.col(c.strip()).isNotNull()
                    for c in mm.group(3).split(",")
                ],
            )
            base = base.where(cond)
        return assign_count_windows(
            base, ts_col, int(mm.group(1)),
            int(mm.group(2)) if mm.group(2) else None, keys,
            order_by=sub_order,
        )
    if wl.startswith("anomaly_window"):
        # ANOMALY_WINDOW(col[, 'algo=ksigma|mad|iqr|grubbs|esd'])
        # (anomalywindowoperator.c:138) — detected anomalies delimit
        # the windows
        from tdengine_spark.functions.analytics import anomaly_window

        mm = re.match(
            r"anomaly_window\s*\(\s*(\w+)\s*(?:,\s*'algo=(\w+)')?\s*\)", wl
        )
        return anomaly_window(
            base, ts_col, mm.group(1), keys, algo=mm.group(2) or "ksigma"
        )
    raise ValueError(f"unsupported window clause: {wl}")


_STATE_OPT_RE = re.compile(
    r"\s+(?:extend\s*\(\s*(?P<ext>\d+)\s*\)"
    r"|zeroth_state\s*\((?P<zer>[^)]*)\))",
    re.IGNORECASE,
)


def _strip_state_opts(wl: str):
    """Strip STATE_WINDOW's EXTEND(n) / ZEROTH_STATE(v,…) options
    (sql.y:2938-2940 state_window_opt). Returns (wl, extend, zeroth)
    where zeroth is a list of literal-or-None (NO_ZEROTH → None)."""
    extend, zeroth = 0, None

    def grab(m):
        nonlocal extend, zeroth
        if m.group("ext") is not None:
            extend = int(m.group("ext"))
        else:
            zeroth = [
                None if t.strip().lower() == "no_zeroth"
                else _parse_literal(t)
                for t in _split_select(m.group("zer"))
            ]
        return ""

    return _STATE_OPT_RE.sub(grab, wl), extend, zeroth


def _strip_true_for(wl: str):
    """(wl-without-TRUE_FOR, duration|None) — TRUE_FOR(d): minimum window
    duration (state/event windows, sql.y TRUE_FOR clause)."""
    tf = re.search(r"\s+true_for\s*\(\s*([^)]+)\s*\)\s*$", wl)
    if tf:
        return wl[: tf.start()], tf.group(1).strip()
    return wl, None


def _windowed_projection(
    base, window, items, keys, fill_spec, ts_col, ts_bounds, having=None,
    is_child=False, extend=0,
):
    """Projection-mode window query: per-row pseudo-column labeling
    (operators/windowproj.py; reference scalar-mode window operator,
    goldens in test/cases/13-TimeSeriesExt/09-WindowProjection)."""
    from pyspark.sql.types import TimestampType

    from tdengine_spark.operators import windowproj as wp

    wl, true_for = _strip_true_for(window.lower().strip())
    fill_parts = None
    if fill_spec:
        fill_parts = [p.strip() for p in fill_spec.split(",")]
        if fill_parts[0].lower() not in wp.PROJECTION_FILL_MODES:
            # reference parser: FILL(PREV/NEXT/LINEAR/NEAR) needs an
            # interpolatable aggregate — rejected in projection mode
            raise ValueError(
                f"FILL({fill_parts[0]}) is not allowed in a projection-mode"
                " window query"
            )

    width = offset = None
    if wl.startswith("interval"):
        mm = re.match(
            r"interval\s*\(\s*([^,)]+)(?:,\s*([^)]+))?\)"
            r"(?:\s+sliding\s*\(\s*([^)]+)\s*\))?",
            wl,
        )
        width = mm.group(1).strip()
        offset = (mm.group(2) or "").strip() or None
        sliding = (mm.group(3) or "").strip() or None
        if sliding and parse_duration(sliding).microseconds == parse_duration(
            width
        ).microseconds:
            sliding = None  # slide == width: plain tumbling
        labeled = wp.interval_projection(
            base, ts_col, width, offset, keys, sliding=sliding
        )
    else:
        if fill_parts and fill_parts[0].lower() != "none":
            raise ValueError("FILL requires an INTERVAL window")
        wl, p_extend, _ = _strip_state_opts(wl)
        assigned = _assign_data_windows(
            base, wl, ts_col, keys, extend=p_extend or extend
        )
        sm2 = re.match(r"session\s*\(\s*([^,]+),", wl)
        ts_eff = sm2.group(1).strip() if sm2 else ts_col
        labeled = wp.keyed_window_projection(assigned, ts_eff, keys)
    if true_for is not None:
        dur_us = parse_duration(true_for).microseconds
        labeled = labeled.where(
            F.unix_micros(F.col("_wend")) - F.unix_micros(F.col("_wstart"))
            >= dur_us
        )

    # projection-mode HAVING: a per-row filter over the labeled frame
    # (all base columns are still visible here, so HAVING may reference
    # columns outside the select list — golden-verified in
    # 09-WindowProjection/ans/test_window_projection_small.ans)
    filtered = labeled.where(F.expr(having)) if having else labeled
    # canonical emission order: (partition keys, _wstart, ts) ascending —
    # the reference's scalar-mode window operator emits the labeled row
    # stream in timeline order (golden: every unordered statement in
    # ans/test_window_projection_*.ans is ts-ascending). The sort keys
    # ride through the select-list projection as hidden columns (the
    # items may not include ts/_wstart).
    _ord_srcs = [k for k in keys if k in filtered.columns]
    _ord_srcs += [c for c in ("_wstart", ts_col) if c in filtered.columns]
    _hid = [f"_so{i}" for i in range(len(_ord_srcs))]
    # indef functions (csum/diff/mavg/…) in a window projection compute
    # per WINDOW: ordered analytic partitioned by (keys, window)
    win_key = "_wstart" if wl.startswith("interval") else WINDOW_ID
    indef_cols = _build_indef_items(items, keys + [win_key], ts_col)
    _hcols = [
        F.col(s).alias(h) for s, h in zip(_ord_srcs, _hid)
    ]
    if indef_cols is not None:
        icols, iemit, ipref = indef_cols
        if ipref is not None:
            filtered = (
                filtered.where(ipref) if isinstance(ipref, Column)
                else ipref(filtered)
            )
        data = filtered.select(*icols, *_hcols)
        if iemit is not None:
            data = (
                filtered.select(*icols, *_hcols, iemit.alias("_emit"))
                .where(F.col("_emit"))
                .drop("_emit")
            )
    else:
        data = filtered.select(
            *[F.expr(it) for it in items], *_hcols
        )
    if not fill_parts or fill_parts[0].lower() == "none":
        return data.orderBy(*_hid).drop(*_hid)

    # FILL over projection interval: one generated row per empty bucket.
    # "Empty" means no data row pre-HAVING (a bucket whose rows were all
    # HAVING-filtered gets neither data nor fill rows — golden-verified).
    mode = fill_parts[0].lower()
    # fill granularity is the child-table stream: a partition spanning N
    # child tables gets N generated rows per empty bucket (golden:
    # fill.ans partition-by-groupid bucket 6 appears once per child)
    spine_keys = list(keys)
    if not is_child and "tbname" in labeled.columns and "tbname" not in keys:
        spine_keys.append("tbname")
    observed = labeled.select(*spine_keys, "_wstart").distinct()
    rs, re_ = _fill_range(ts_bounds, width, offset)
    empty = wp.projection_fill_rows(
        base, observed, width, spine_keys, range_start=rs, range_end=re_
    )
    values = fill_parts[1:] if mode in ("value", "value_f") else []

    def fill_lit(v, dtype):
        if isinstance(dtype, TimestampType):
            # a numeric fill constant for a timestamp column is an
            # epoch literal in the table's precision (ms here)
            return F.timestamp_millis(F.lit(int(float(v))))
        return F.lit(float(v)).cast(dtype)

    vi = 0
    fexprs = []
    dexprs = []
    for it, fld in zip(items, data.schema.fields):
        s = it.strip()
        if s in wp.PSEUDO_COLS or s in keys:
            fexprs.append(F.col(s).alias(fld.name))
            dexprs.append(F.col(fld.name))
            continue
        if values:
            v = values[vi] if vi < len(values) else values[-1]
            vi += 1
            lit = fill_lit(v, fld.dataType)
            # VALUE fill also replaces NULL cells inside data rows
            # (golden: d_null fill(value, …) rows)
            dexprs.append(F.coalesce(F.col(fld.name), lit).alias(fld.name))
        else:
            lit = F.lit(None).cast(fld.dataType)
            dexprs.append(F.col(fld.name))
        fexprs.append(lit.alias(fld.name))
    if values:
        data = data.select(*dexprs, *_hid)
    # filled rows carry their bucket position in the hidden sort
    # columns (ts is NULL — a generated row has no data timestamp)
    _fhid = [
        (F.col(s) if s != ts_col and s in empty.columns
         else F.lit(None).cast("timestamp")).alias(h)
        for s, h in zip(_ord_srcs, _hid)
    ]
    filled = empty.select(*fexprs, *_fhid)
    if having:
        # generated rows pass through the same per-row HAVING; a filter
        # on a NULL-filled column drops them all.  If the predicate
        # references columns absent from the select list, no generated
        # row can satisfy it — emit none.
        try:
            filled = filled.where(F.expr(having))
        except Exception:  # noqa: BLE001 — unresolvable on filled schema
            return data.orderBy(*_hid).drop(*_hid)
    return data.unionByName(filled).orderBy(*_hid).drop(*_hid)


def _windowed(
    base, window, items, keys, fill_spec, ts_col, tsma_catalog=None,
    hint=None, tag_cols=(), is_child=False, ts_bounds=None, having=None,
    plimit=None, slimit=None, order_by=None,
):
    from pyspark.sql.window import Window as _W

    from tdengine_spark.operators.windowproj import PSEUDO_COLS, _with_duration

    def sel(out):
        out = fin(out)
        if ord_specs:
            # ORDER BY with aggregate calls (ORDER BY timediff(last(ts),
            # _wstart)): the agg sub-calls were aggregated under
            # placeholders — sort on the rewritten expressions BEFORE
            # the final projection drops them (projection preserves row
            # order)
            names = out.columns
            if len(set(names)) != len(names) and any(
                re.fullmatch(r"[A-Za-z_]\w*", b) and names.count(b) > 1
                for b, _ in ord_specs
            ):
                # duplicate output names (`c0, cols(first(ts), c0, …)`
                # state_window(c0) order by c0): sort on the FIRST
                # occurrence through a uniquified rename
                uniq = [f"_oc{i}" for i in range(len(names))]
                first = {}
                for i, n in enumerate(names):
                    first.setdefault(n, uniq[i])
                tmp = out.toDF(*uniq)
                oc = []
                for b, desc in ord_specs:
                    e = (F.col(first[b])
                         if re.fullmatch(r"[A-Za-z_]\w*", b) and b in first
                         else F.expr(b))
                    oc.append(e.desc() if desc else e)
                out = tmp.orderBy(*oc).toDF(*names)
            else:
                oc = []
                for b, desc in ord_specs:
                    e = F.expr(b)
                    oc.append(e.desc() if desc else e)
                out = out.orderBy(*oc)
        _names = out.columns
        if any(
            c not in deferred and _names.count(c) > 1 for c in keep
        ):
            # duplicate-name projection: each keep occurrence maps to
            # the next source occurrence positionally
            _uniq = [f"_kc{i}" for i in range(len(_names))]
            _tmp = out.toDF(*_uniq)
            _used: dict = {}
            _sel = []
            for c in keep:
                if c in deferred:
                    _sel.append(f"{deferred[c]} as {c}")
                    continue
                occ = [i for i, n in enumerate(_names) if n == c]
                if not occ:
                    continue
                k2 = _used.get(c, 0)
                _used[c] = k2 + 1
                _sel.append(
                    f"{_uniq[occ[min(k2, len(occ) - 1)]]} as `{c}`"
                )
            out = _tmp.selectExpr(*_sel)
        else:
            out = out.selectExpr(
                *[
                    f"{deferred[c]} as {c}" if c in deferred else c
                    for c in keep
                    if c in deferred or c in out.columns
                ]
            )
        for k, v in pseudo_alias.items():
            if k in out.columns:
                out = out.withColumnRenamed(k, v)
        return out

    def fin(out):
        # aggregate-mode HAVING: post-aggregation filter (projection mode
        # handles it per-row inside _windowed_projection). hv_expr is
        # bound after the aggregate list is built: selected aggregates
        # substitute to their output columns; HAVING-only aggregates are
        # computed per window as the extra `_hv` boolean column.
        if having:
            out = out.where(F.expr(hv_expr))
            if "_hv" in out.columns:
                out = out.drop("_hv")
        if slimit is not None and keys:
            from tdengine_spark.operators.slimit import slimit as _slim

            pk = [k for k in keys if k in out.columns]
            if pk:
                out = _slim(out, pk, slimit)
        if plimit is not None and keys:
            # LIMIT under PARTITION BY is per-partition in the reference
            # (first n rows of each partition in window order)
            okey = "_wstart" if "_wstart" in out.columns else ts_col
            pk = [k for k in keys if k in out.columns]
            if pk and okey in out.columns:
                w = _W.partitionBy(*pk).orderBy(okey)
                out = (
                    out.withColumn("_plim", F.row_number().over(w))
                    .where(F.col("_plim") <= plimit)
                    .drop("_plim")
                )
        return out

    # strip STATE_WINDOW options from the ORIGINAL text (zeroth
    # literals are case-sensitive against binary states)
    window, st_extend, st_zeroth = _strip_state_opts(window)
    wl = window.lower()
    pseudo = set(PSEUDO_COLS)
    if tag_cols and ("tbname" in keys or is_child):
        # tags are window-constant when grouping by tbname (functions of
        # tbname — reference planner tag-scan constants): fold referenced
        # tags into the grouping keys so select/HAVING/ORDER expressions
        # over them resolve post-aggregation. Same group granularity,
        # no extra shuffle dimension.
        _txt = " ".join(items) + " " + (having or "") + " " + (
            order_by or ""
        )
        for _tc in tag_cols:
            if _tc not in keys and re.search(
                rf"\b{re.escape(_tc)}\b", _txt
            ):
                keys = keys + [_tc]

    def _q_expr(name: str) -> str:
        # _qstart/_qend/_qduration: the QUERY's ts range (WHERE clause
        # bounds; builtins.c:5211 translateTimePseudoColumn) — constants
        # for the whole statement, NULL when unbounded
        lo, hi = ts_bounds if ts_bounds else (None, None)
        if name == "_qstart":
            return (f"timestamp_micros({lo})" if lo is not None
                    else "cast(null as timestamp)")
        if name == "_qend":
            return (f"timestamp_micros({hi})" if hi is not None
                    else "cast(null as timestamp)")
        if lo is not None and hi is not None:
            return f"cast({(hi - lo) // 1000} as bigint)"
        return "cast(null as bigint)"

    items = [
        re.sub(
            r"(?i)^\s*(_qstart|_qend|_qduration)"
            r"(?:\s+(?:as\s+)?([A-Za-z_]\w*))?\s*$",
            lambda m: f"{_q_expr(m.group(1).lower())} as "
                      f"{m.group(2) or m.group(1).lower()}",
            it,
        )
        for it in items
    ]
    # `_wstart as s` / `_wstart s`: keep the pseudo-column, rename on
    # output; `count(*) c1` bare aliases normalize to `… as c1`
    pseudo_alias = {}
    norm = []
    for it in items:
        pm = re.match(
            r"(?i)^\s*(_wstart|_wend|_wduration)\s+(?:as\s+)?"
            r"([A-Za-z_]\w*)\s*$",
            it,
        )
        if pm:
            pseudo_alias[pm.group(1).lower()] = pm.group(2)
            norm.append(pm.group(1).lower())
            continue
        bm = re.match(r"^(.*\))\s+([A-Za-z_]\w*)\s*$", it.strip(), re.DOTALL)
        if bm and not re.match(r"(?i)\s*as\s*$", bm.group(2)):
            norm.append(f"{bm.group(1)} as {bm.group(2)}")
            continue
        norm.append(it)
    items = norm
    if _collect_groupfn_calls(items):
        # twa()/irate() in a window query: the lag pre-pass partitions
        # by (keys, window bucket). Interval tumbling buckets are pure
        # ts expressions; DATA-DRIVEN windows (session/state/event/
        # count) assign window ids FIRST so the pre-pass partitions per
        # (keys, _wid) — a keys-only pass would leak samples across
        # window boundaries (04-Timeseries test_fun_ts_with_window).
        gbucket = None
        if wl.startswith("interval") and "sliding" not in wl:
            mg = re.match(r"interval\s*\(\s*([^,)]+)(?:,\s*([^)]+))?\)", wl)
            if mg:
                goff = (mg.group(2) or "").strip() or None
                if goff and goff.lower() == "auto":
                    goff = None
                gbucket = tw.window_start(
                    F.col(ts_col), mg.group(1).strip(), goff
                )
                gbucket_end = tw.window_end(
                    F.col(ts_col), mg.group(1).strip(), goff
                )
        elif not wl.startswith("interval"):
            from tdengine_spark.operators.eventwindow import (
                WINDOW_ID as _GWID,
            )

            _wl2, _ = _strip_true_for(wl)
            base = _assign_data_windows(
                base, _wl2, ts_col, keys, extend=st_extend
            )
            gbucket = F.col(_GWID)
        base, items = _prepare_groupfns(
            base, items, keys, ts_col, bucket=gbucket,
            bucket_end=gbucket_end if gbucket is not None
            and wl.startswith("interval") else None,
        )
    const_mode = False
    non_pseudo = [it for it in items if it.strip() not in pseudo]
    if non_pseudo and not any(_has_agg(it) for it in non_pseudo):
        # no aggregate in the select list: the planner's scalar/aggregate
        # mode split (reference parTranslater.c; goldens in
        # 13-TimeSeriesExt/09-WindowProjection).  Row-varying columns (or
        # the SCALAR hint) force per-row projection; a list of only
        # window-constant items aggregates to one row per window.
        # Window-constant: partition keys always; tags + tbname when the
        # scan is a single child table (per-scan constants) or when
        # partitioning by tbname (tags are functions of tbname); the
        # STATE_WINDOW column (constant within a state run).
        const = set(keys) | pseudo
        if is_child:
            const |= set(tag_cols) | {"tbname"}
        elif "tbname" in keys:
            const |= set(tag_cols)
        sm = re.match(r"state_window\s*\(\s*([A-Za-z_]\w*)\s*\)", wl)
        if sm:
            const.add(sm.group(1))
        if hint == "SCALAR" or any(
            not _refs_only_cols(it, const) for it in non_pseudo
        ):
            out = _windowed_projection(
                base, window, items, keys, fill_spec, ts_col, ts_bounds,
                having=having, is_child=is_child, extend=st_extend,
            )
            if slimit is not None and keys:
                from tdengine_spark.operators.slimit import slimit as _slim

                pk = [k for k in keys if k in out.columns]
                if pk:
                    out = _slim(out, pk, slimit)
            if plimit is not None and keys:
                pk = [k for k in keys if k in out.columns]
                okey = next(
                    (c for c in (ts_col, "_wstart") if c in out.columns), None
                )
                if pk and okey:
                    w = _W.partitionBy(*pk).orderBy(okey)
                    out = (
                        out.withColumn("_plim", F.row_number().over(w))
                        .where(F.col("_plim") <= plimit)
                        .drop("_plim")
                    )
            # pseudo-column output aliases (`_wstart as ws`) apply in
            # projection mode too — the sel() rename below is skipped
            # by this early return
            for _pk, _pv in pseudo_alias.items():
                if _pk in out.columns:
                    out = out.withColumnRenamed(_pk, _pv)
            return out
        const_mode = True
        items = [
            it
            if it.strip() in pseudo or _is_plain_col(it, keys)
            # expressions over pseudo-columns/keys/literals only need no
            # per-window aggregate at all — they defer to the post-agg
            # projection (wrapping them in first() would smuggle an
            # aggregate into that projection → MISSING_GROUP_BY)
            or _refs_only_cols(
                re.sub(r"(?is)\s+as\s+(?:[A-Za-z_]\w*|`[^`]*`)\s*$", "", it).strip(),
                pseudo | set(keys),
            )
            # ignore-nulls: window-constant columns stay constant even
            # when EXTEND absorbs NULL-state rows into the window
            else f"first({it.strip()}, true)"
            for it in items
        ]

    agg_items = [it for it in items if it.strip() not in pseudo]
    agg_exprs = [it for it in agg_items if not _is_plain_col(it, keys)]
    if not const_mode and any(not _has_agg(it) for it in agg_exprs):
        # non-constant plain columns mixed with aggregates in a window:
        # companion semantics when a selection anchor exists, else the
        # first row's value (reference implicit-selection behavior).
        # STATE-column companions always read the window's state value
        # (non-null even when EXTEND absorbs NULL-state rows).
        state_txts = set()
        if wl.startswith("state_window"):
            wl0, _, _ = _strip_state_opts(wl)
            wl0, _ = _strip_true_for(wl0)
            inner0 = wl0[wl0.index("(") + 1: wl0.rindex(")")]
            state_txts = {
                re.sub(r"\s+", "", c).lower()
                for c in _split_select(inner0)
            }
        wanchor = _sel_anchor(agg_exprs, ts_col)
        fixed = []
        for it in agg_exprs:
            if _has_agg(it):
                fixed.append(it)
                continue
            am = _ITEM_ALIAS_RE.match(it.strip())
            body, al = am.group("expr"), am.group("alias")
            if _refs_only_cols(body, pseudo | set(keys)):
                # pseudo-column expression: deferred to the post-agg
                # projection, not a row companion
                fixed.append(it)
                continue
            if re.sub(r"\s+", "", body).lower() in state_txts:
                nm2 = al or re.sub(
                    r"\W+", "_", body.strip()).strip("_") or "expr"
                if nm2[0].isdigit():
                    nm2 = "_" + nm2
                fixed.append(f"first({body}, true) as {nm2}")
                continue
            wrapped = (
                f"{wanchor[0]}({body}, {wanchor[1]})" if wanchor
                # ignore-nulls: extended state windows absorb NULL-state
                # rows at the front; the companion reads the window value
                else f"first({body}, true)"
            )
            nm2 = al or re.sub(r"\W+", "_", body.strip()).strip("_") or "expr"
            if nm2[0].isdigit():
                nm2 = "_" + nm2
            fixed.append(f"{wrapped} as {nm2}")
        agg_exprs = fixed
    # explicit aliases keep downstream selects name-safe: an unaliased
    # item like count(*) gets a sanitized identifier instead of Spark's
    # auto-name (which isn't selectable by string)
    agg_names = []
    aggs = []
    deferred: dict = {}
    _agg_seen: set = set()
    _agg_registry: dict = {}
    mixed_placeholders: list = []
    for it in agg_exprs:
        mm = re.search(r"\s+as\s+([A-Za-z_][\w]*)\s*$", it, re.IGNORECASE)
        body = re.sub(r"(?is)\s+as\s+(?:[A-Za-z_]\w*|`[^`]*`)\s*$", "", it).strip()
        if mm:
            nm = mm.group(1)
        else:
            nm = re.sub(r"\W+", "_", it.strip()).strip("_") or "expr"
            if nm[0].isdigit():
                nm = "_" + nm
            while nm in agg_names:
                nm += "_"
        if _has_agg(body) and _PSEUDO_REF_RE.search(
            _extract_agg_calls(body, dict(_agg_registry))[0]
        ):
            # MIXED item — aggregates AND window pseudo-columns in one
            # expression (timediff(_wend, last(ts))): aggregate the agg
            # sub-calls under placeholders, defer the full expression to
            # the post-window projection where _wstart/_wend exist
            body2, new_pairs = _extract_agg_calls(body, _agg_registry)
            for ph, call in new_pairs:
                aggs.append(F.expr(call).alias(ph))
                mixed_placeholders.append(ph)
            deferred[nm] = body2
            agg_names.append(nm)
            continue
        if (
            not _has_agg(it)
            # _AGG_RE doesn't cover the selection functions — anything
            # that is still an aggregate call must stay in the agg list
            and not re.search(
                r"(?i)\b(first|last|last_row|top|bottom|sample|tail|"
                r"unique|elapsed|spread|histogram|leastsquares)\s*\(",
                body,
            )
            and _refs_only_cols(body, pseudo | set(keys))
        ):
            # scalar expression over pseudo-columns (cast(_wstart as
            # bigint), _wend - _wstart, …): computed AFTER the window
            # aggregate, where _wstart/_wend exist
            deferred[nm] = body
            agg_names.append(nm)
            continue
        agg_names.append(nm)
        if (nm, body) in _agg_seen:
            # duplicate select item (e.g. `b, _c0` where _c0 resolved to
            # b): aggregate once, the keep-list re-selects it positionally
            continue
        _agg_seen.add((nm, body))
        aggs.append(F.expr(it).alias(nm) if not mm else F.expr(it))
    if not aggs:
        # every select item deferred to the post-agg projection: the
        # window aggregate still needs one expression to materialize
        aggs = [F.count(F.lit(1)).alias("__wcnt")]
    hv_expr = None
    hv_in_aggs = False
    if having:
        pairs = [
            (re.sub(r"(?is)\s+as\s+(?:[A-Za-z_]\w*|`[^`]*`)\s*$", "", e), n2)
            for e, n2 in zip(agg_exprs, agg_names)
        ]
        hv_expr = _subst_agg_refs(having, pairs)
        if _AGG_CALL_RE.search(hv_expr):
            if _PSEUDO_REF_RE.search(
                _extract_agg_calls(hv_expr, dict(_agg_registry))[0]
            ):
                # MIXED HAVING (timediff(last(ts), _wstart) >= 1):
                # aggregate the agg sub-calls (first/last spelled as
                # min_by/max_by like the select items), filter
                # post-window where the pseudo-columns exist
                hv_expr, new_pairs = _extract_agg_calls(
                    _rewrite_aggs(hv_expr, ts_col), _agg_registry
                )
                for ph, call in new_pairs:
                    aggs.append(F.expr(call).alias(ph))
                    mixed_placeholders.append(ph)
            else:
                # HAVING references aggregates outside the select list:
                # evaluate the whole predicate during the per-window
                # groupBy (grouping keys are legal in agg expressions)
                aggs.append(F.expr(f"({having})").alias("_hv"))
                hv_expr = "`_hv`"
                hv_in_aggs = True
    ord_specs: list = []
    if order_by:
        # ORDER BY items carrying aggregate calls: aggregate the calls
        # under placeholders (shared registry — repeated spellings
        # aggregate once), sort on the rewritten expression in sel()
        for c in order_by.split(","):
            c = c.strip()
            desc = bool(re.search(r"(?i)\s+desc$", c))
            obody = re.sub(r"(?is)\s+(asc|desc)\s*$", "", c).strip()
            ob_sub = _subst_agg_refs(
                obody,
                [
                    (
                        re.sub(r"(?is)\s+as\s+(?:[A-Za-z_]\w*|`[^`]*`)\s*$", "", e),
                        n2,
                    )
                    for e, n2 in zip(agg_exprs, agg_names)
                ],
            )
            if ob_sub in deferred:
                # the order item IS a deferred select item — sort on its
                # post-agg expression
                ob_sub = deferred[ob_sub]
            if _AGG_CALL_RE.search(ob_sub):
                # selection-fn spellings (first/last) → min_by/max_by,
                # as the select items already were
                ob_sub, new_pairs = _extract_agg_calls(
                    _rewrite_aggs(ob_sub, ts_col), _agg_registry
                )
                for ph, call in new_pairs:
                    aggs.append(F.expr(call).alias(ph))
                    mixed_placeholders.append(ph)
            ord_specs.append((ob_sub, desc))
    want_dur = any(it.strip() == "_wduration" for it in items)
    # output columns in select-item order (golden row tuples compare
    # positionally)
    keep = []
    ai = iter(agg_names)
    for it in items:
        s = it.strip()
        if s in pseudo or _is_plain_col(it, keys):
            keep.append(s)
        else:
            keep.append(next(ai))
    if (want_dur or "_wend" in keep) and "_wstart" not in keep:
        keep.insert(0, "_wstart")

    if wl.startswith("interval"):
        mm = re.match(
            r"interval\s*\(\s*([^,)]+)(?:,\s*([^)]+))?\)"
            r"(?:\s+sliding\s*\(\s*([^)]+)\s*\))?",
            wl,
        )
        width, offset, sliding = (
            mm.group(1).strip(),
            (mm.group(2) or "").strip() or None,
            (mm.group(3) or "").strip() or None,
        )
        if tsma_catalog is not None and not (
            fill_spec or offset or sliding or hv_in_aggs
        ):
            parsed = _parse_simple_aggs(agg_exprs)
            if parsed:
                metric_aggs: dict = {}
                for op, metric, _ in parsed:
                    metric_aggs.setdefault(metric, []).append(op)
                out = tsma_catalog.interval_agg(
                    base.sparkSession, base, width, keys, metric_aggs, ts_col
                )
                for op, metric, alias in parsed:
                    if alias != f"{op}_{metric}":
                        out = out.withColumnRenamed(f"{op}_{metric}", alias)
                return sel(out)
        if offset and offset.lower() == "auto":
            # INTERVAL(w, AUTO): origin = the WHERE range's start instant,
            # else the first data row (reference AUTO offset,
            # 13-TimeSeriesExt/03-TimeWindow)
            if ts_bounds and ts_bounds[0] is not None:
                origin_us = ts_bounds[0]
            else:
                # no derivable range start: AUTO falls back to plain
                # session-timezone alignment (golden: interval.csv rows
                # align to local midnight/hour when the WHERE clause has
                # no plain ts lower bound)
                origin_us = -CALENDAR_TZ_OFFSET_US
            out = tw.interval_window_auto(
                base, ts_col, width, origin_us, sliding=sliding,
                partition_by=keys, aggs=aggs,
                cal_tz_offset_us=CALENDAR_TZ_OFFSET_US,
            )
            if want_dur:
                out = _with_duration(out)
            return sel(out)
        out = tw.interval_window(
            base, ts_col, width, sliding=sliding, offset=offset,
            partition_by=keys, aggs=aggs,
        )
        if fill_spec:
            parts = [p.strip() for p in fill_spec.split(",")]
            mode = parts[0].lower()
            vals = None
            aliases = agg_names
            if mode in ("value", "value_f") and len(parts) > 1:
                # positional: fill(value, v1, v2, …) maps to the select's
                # aggregate items in order (tfill.c fill value list)
                vals = {
                    a: _parse_literal(
                        parts[1 + i] if 1 + i < len(parts) else parts[-1]
                    )
                    for i, a in enumerate(aliases)
                }
            rs, re_ = _fill_range(ts_bounds, width, offset)
            out = _fill(
                out.drop("_wend"), mode, width, keys,
                # deferred scalar items (_wstart + 1d, now, 1+1) are not
                # aggregate columns — they compute post-fill in sel(),
                # per generated row (reference projects scalars over the
                # filled window output). Mixed-expression placeholders
                # ride through as value columns; VALUE fill leaves them
                # NULL (no fill_values entry) so a mixed expression over
                # a generated row is NULL, matching the reference's
                # fill of aggregate outputs only.
                [a for a in aliases if a not in deferred]
                + mixed_placeholders,
                fill_values=vals, range_start=rs, range_end=re_,
            )
            if (
                "_wend" in keep
                or want_dur
                # deferred/HAVING expressions may reference _wend
                # (timediff(_wend, last(ts))) — recompute it on the
                # filled spine before they evaluate
                or any(
                    re.search(r"(?i)\b_wend\b", b)
                    for b in (*deferred.values(), hv_expr or "")
                )
            ):
                out = out.withColumn(
                    "_wend", tw.window_end(F.col("_wstart"), width, offset)
                )
            if want_dur:
                out = _with_duration(out)
            return sel(out)
        if want_dur:
            out = _with_duration(out)
        return sel(out)

    from tdengine_spark.operators.eventwindow import WINDOW_ID, window_agg

    wl, true_for = _strip_true_for(wl)
    # already assigned by the groupfn pre-pass above (twa/irate per
    # data-driven window) — don't re-assign
    assigned = (
        base if WINDOW_ID in base.columns
        else _assign_data_windows(base, wl, ts_col, keys, extend=st_extend)
    )
    if st_zeroth:
        # ZEROTH_STATE(v,…): windows whose state equals the zeroth value
        # on every constrained column are suppressed (NO_ZEROTH = no
        # constraint on that position). The literal converts to the
        # state column's type C-style — atoi/atof, so 'true' against a
        # BOOL state is 0/false (sclvector.c conversion), and string
        # comparison stays case-sensitive.
        from pyspark.sql.types import BooleanType, NumericType, StructType

        sdt = assigned.schema["_state"].dataType

        def _fdt(i):
            return sdt.fields[i].dataType if isinstance(sdt, StructType) else sdt

        def _c_cast(v, dt):
            if isinstance(dt, BooleanType):
                if isinstance(v, bool):
                    return v
                if isinstance(v, (int, float)):
                    return v != 0
                m2 = re.match(r"\s*[-+]?\d+(\.\d+)?", str(v))
                return bool(m2 and float(m2.group(0)) != 0)
            if isinstance(dt, NumericType):
                from pyspark.sql.types import IntegralType

                if isinstance(v, bool):
                    v = int(v)
                elif not isinstance(v, (int, float)):
                    m2 = re.match(r"\s*[-+]?\d+(\.\d+)?", str(v))
                    v = float(m2.group(0)) if m2 else 0
                # C conversion truncates toward zero for integer states
                return int(v) if isinstance(dt, IntegralType) else v
            return v

        # suppression is WINDOW-level: absorbed NULL-state rows share
        # the window's fate, so compare against the window's state (the
        # first non-null _state within the _wid group)
        from pyspark.sql.window import Window as _ZW

        from tdengine_spark.operators.eventwindow import WINDOW_ID as _WID

        zw = _ZW.partitionBy(*[F.expr(k) for k in keys], F.col(_WID))
        wstate = F.first("_state", ignorenulls=True).over(zw)
        conds = []
        multi = len(st_zeroth) > 1
        for i, v in enumerate(st_zeroth):
            if v is None:
                continue
            fld = wstate.getField(f"_s{i}") if multi else wstate
            conds.append(fld.eqNullSafe(F.lit(_c_cast(v, _fdt(i)))))
        if conds:
            import functools as _ft
            import operator as _op

            # window expressions can't sit in WHERE — materialize the
            # match flag first
            assigned = (
                assigned.withColumn(
                    "_zmatch", _ft.reduce(_op.and_, conds)
                )
                .where(F.col(_WID).isNull() | ~F.col("_zmatch"))
                .drop("_zmatch")
            )
    # SESSION names its own time column (session(tt, 3d) over a
    # subquery's aliased ts) — window bounds use it
    sm2 = re.match(r"session\s*\(\s*([^,]+),", wl)
    ts_eff = sm2.group(1).strip() if sm2 else ts_col
    # degraded-timeline streams (arrival-order _rowidx views): window
    # bounds follow the first/last ARRIVAL rows, not min/max ts
    _bby = (
        "_rowidx"
        if _ACTIVE_SUB_ORDER == [("_rowidx", False)]
        and "_rowidx" in assigned.columns
        else None
    )
    out = window_agg(
        assigned, ts_eff, aggs, keys, true_for=true_for, extend=st_extend,
        bounds_by=_bby,
    )
    if want_dur:
        out = _with_duration(out)
    return sel(out)


_INSERT_RE = re.compile(
    r"""
    ^\s*INSERT\s+INTO\s+(?P<table>[A-Za-z_][\w.]*)
    # column list may come BEFORE the USING clause
    # (`insert into dev1(ts, c1) using st tags(1) values…`)
    (?:\s*\(\s*(?P<cols_pre>[^)]*?)\s*\)(?=\s*USING\b))?
    (?:\s+USING\s+(?P<stable>[A-Za-z_][\w.]*)
        \s*(?:\(\s*(?P<tagcols>[^)]*?)\s*\))?
        \s*TAGS\s*\((?P<tags>.*?)\))?
    (?:\s*\(\s*(?P<cols>[^)]*?)\s*\))?
    \s*VALUES\s*(?P<values>.+?)\s*;?\s*$
    """,
    re.IGNORECASE | re.VERBOSE | re.DOTALL,
)


def _parse_literal(tok: str):
    tok = tok.strip()
    if tok.upper() == "NULL":
        return None
    nm = re.match(
        r"(?i)^(now|today)(?:\(\))?\s*(?:([+-])\s*(\d+)([a-z]))?$", tok
    )
    if nm:
        import time

        ms = int(time.time() * 1000)
        if nm.group(1).lower() == "today":
            ms -= ms % 86_400_000
        if nm.group(2):
            d = parse_duration(nm.group(3) + nm.group(4).lower())
            if not d.is_calendar:
                ms += (d.microseconds // 1000) * (
                    1 if nm.group(2) == "+" else -1
                )
        return ms
    if tok.lower() in ("true", "false"):
        return tok.lower() == "true"
    if len(tok) >= 2 and tok[0] in "'\"" and tok[-1] == tok[0]:
        return tok[1:-1]
    try:
        return int(tok)
    except ValueError:
        return float(tok)


def _split_value_groups(text: str) -> list[list]:
    """``(a, b)(c, d), (e, f)`` → [[a,b],[c,d],[e,f]] (balanced-paren,
    quote-aware)."""
    groups, start = [], 0
    for m, depth in _scan(text):
        if depth == 0 and m.lastgroup == "open":
            start = m.end()
        elif depth == 0:
            items = _split_select(text[start:m.start()])
            groups.append([_parse_literal(t) for t in items])
    return groups


#: VALUES range validation — parInsertSql.c accepts the full C-type
#: range per ttypes.h:310-317 (IS_VALID_TINYINT is >= INT8_MIN, i.e.
#: -128 is a VALID tinyint literal; the MIN sentinel is a storage-side
#: NULL marker, not a parser reject)
_SIGNED_BOUNDS = {
    "tinyint": (-128, 127), "smallint": (-32768, 32767),
    "int": (-2147483648, 2147483647),
    "bigint": (-(2**63), 2**63 - 1),
}
#: keyed by the WIDENED storage type (see _UNSIGNED_WIDEN)
_UNSIGNED_BOUNDS = {
    "smallint": (0, 255), "int": (0, 65535),
    "bigint": (0, 2**32 - 1), "decimal(20,0)": (0, 2**64 - 1),
}


def _lit_cast(name, dtype):
    """Cast a STRING literal column to ``dtype`` with the dialect's
    VALUES coercion rules: bare integer → epoch for timestamps
    (magnitude-disambiguated like _epoch_lit_sql)."""
    from pyspark.sql.types import TimestampType as _TsT

    c = F.col(name)
    if isinstance(dtype, _TsT):
        v = c.cast("bigint")
        return F.when(
            c.rlike(r"^-?\d+$"),
            F.when(F.abs(v) < F.lit(10**14), F.timestamp_millis(v))
            .when(F.abs(v) < F.lit(10**17), F.timestamp_micros(v))
            .otherwise(F.timestamp_micros(
                F.expr(f"cast(`{name}` as bigint) div 1000")
            )),
        ).otherwise(c.cast("timestamp")).alias(name)
    return c.cast(dtype).alias(name)


def _validate_insert_ranges(db, target, schema, data) -> None:
    """Reject integer VALUES literals outside the declared column
    range, like the reference parser does (out-of-range INSERT must
    error, not wrap — its side effects would corrupt later rows)."""
    ucols = set(db.tables.get(target).unsigned_cols
                if target in db.tables else ())
    for f in schema:
        st = f.dataType.simpleString()
        bounds = (_UNSIGNED_BOUNDS.get(st) if f.name in ucols
                  else _SIGNED_BOUNDS.get(st))
        if not bounds:
            continue
        lo, hi = bounds
        for d in data:
            v = d.get(f.name)
            if isinstance(v, int) and not isinstance(v, bool) and (
                v < lo or v > hi
            ):
                raise ValueError(
                    f"value {v} out of range for column "
                    f"{f.name} ({st})"
                )


def translate_insert(spark: SparkSession, db: Database, sql: str) -> int:
    """``INSERT INTO tbl [USING stable [(tagcols)] TAGS(...)] [(cols)]
    VALUES (...)[(...)…] [tbl2 … VALUES (...)…]`` (grammar sql.y INSERT
    rules; the reference's parser bypasses the planner the same way —
    parInsertSql.c). Appends to the tables' parquet datasets; returns
    the row count written.

    USING = child-table insert: rows land in the SUPER table's dataset
    with ``tbname`` = the child name and the tag columns set from TAGS —
    the reference's child-table→super-table row mapping.

    A multi-table statement is parsed and validated whole before
    anything is written, then each target dataset (the super table a
    child routes to) gets ONE write of all its rows, in statement order
    — the reference builds one submit request per vgroup, not per child
    (parInsertSql.c). So a bad literal anywhere writes nothing, and the
    children it would have auto-created (USING) stay unregistered.
    Exception: a target with no dataset yet (create-on-first-insert) is
    written as soon as its segment parses, since a later segment may
    need the schema that write creates.
    """
    fm = re.match(
        r"(?is)^\s*INSERT\s+INTO\s+([\w.]+)\s+FILE\s+'([^']+)'\s*;?\s*$",
        sql,
    )
    if fm:
        # INSERT INTO tbl FILE 'data.csv' (sql.y insert file clause):
        # each line is a parenthesis-free VALUES tuple — route through
        # the normal literal machinery in one multi-row insert
        with open(fm.group(2)) as fh:
            groups = "".join(
                f"({line.strip()})" for line in fh if line.strip()
            )
        return translate_insert(
            spark, db, f"INSERT INTO {fm.group(1)} VALUES {groups}"
        )
    hm = re.match(r"(?is)^\s*INSERT\s+INTO\s+(.*)$", sql.strip().rstrip(";"))
    segs = _split_depth0_segments(hm.group(1)) if hm else []
    # multi-table insert (parInsertSql.c: one VALUES run per target)
    stmts = [f"INSERT INTO {seg}" for seg in segs] if len(segs) > 1 else [sql]
    known = set(db.tables)
    schemas: dict = {}
    pending: dict = {}
    written = set()
    n, next_ver = 0, 0
    try:
        for stmt in stmts:
            parsed = _parse_insert_segment(spark, db, stmt, schemas, next_ver)
            if parsed is None:
                continue
            target, schema, data, cols = parsed
            n += len(data)
            next_ver = data[-1]["_version"] + 1
            if schema is None:
                # create-on-first-insert: a later segment needs the
                # schema this write creates
                _write_insert_rows(spark, db, target, None, data, cols[0])
                written.add(target)
            else:
                pending.setdefault(target, (schema, []))[1].extend(data)
    except Exception:
        # a failed statement auto-creates no child table
        for cn in set(db.tables) - known:
            if db.tables[cn].parent and db.tables[cn].parent not in written:
                del db.tables[cn]
        raise
    for target, (schema, data) in pending.items():
        _write_insert_rows(spark, db, target, schema, data)
    return n


def _parse_insert_segment(spark, db, sql, schemas, min_ver):
    """Parse and validate one single-target INSERT: resolve the target
    dataset, parse the literals, register a USING child, stamp each row
    with its ``_version`` (from ``min_ver`` up, so a later segment wins
    keep-last) and range-check it. ``schemas`` caches each target's
    read schema for the statement. Returns ``(target, schema, data,
    cols)``, or None for an INSERT-SELECT that selected no rows."""
    sm = re.match(
        r"(?is)^\s*INSERT\s+INTO\s+([\w.]+)\s*"
        r"(?:\(\s*(?!select\b)(?P<cl>[^()]*)\)\s*)?"
        r"(?P<sel>\(?\s*select\b.*)$",
        sql.strip().rstrip(";"),
    )
    if sm:
        # INSERT INTO tbl [(cols)] (SELECT …) (parInsertSql.c insert-
        # from-query): run the query and route its rows through the
        # same literal-coercion write as VALUES. The collect is guarded
        # — this path serves the dialect's re-insert statements, not
        # bulk ETL (use INSERT … FILE / the ingest API for that).
        sel = sm.group("sel").strip()
        if sel.startswith("("):
            sel = _strip_outer_parens(sel)
        vals = translate(spark, db, sel).limit(1_000_001).collect()
        if len(vals) > 1_000_000:
            raise ValueError("INSERT-SELECT too large for the literal path")
        g = {"cols": sm.group("cl"), "stable": None,
             "table": sm.group(1), "tags": None, "tagcols": None}
        rows = [list(r) for r in vals]
        if not rows:
            return None
    else:
        m = _INSERT_RE.match(sql)
        if not m:
            raise ValueError(f"unrecognized INSERT statement: {sql!r}")
        g = m.groupdict()
        rows = _split_value_groups(g["values"])
    if not rows:
        raise ValueError("INSERT with no VALUES rows")
    col_list = g["cols"] or g.get("cols_pre")
    cols = [c.strip() for c in col_list.split(",")] if col_list else None
    # db-qualified targets (`db.tb0`): the db prefix is the session
    # database in these statements — the registry keys bare names
    target = (g["stable"] or g["table"]).split(".")[-1]
    child_tags = {}
    reg = db.tables.get(target)
    if g["stable"] is None and reg is not None and reg.parent:
        # pre-declared child (CREATE TABLE … USING): route to the parent
        parent = db.table(reg.parent)
        child_tags = {"tbname": target}
        child_tags.update(
            dict(zip(parent.tag_cols, reg.tag_values))
        )
        target = reg.parent
    import os

    schema = schemas.get(target)
    if schema is None and os.path.exists(f"{db.root}/{target}.parquet"):
        # evolved (post-ALTER) schema: overlay columns are insertable
        schema = schemas[target] = db.table(target).read(spark).schema

    extra = dict(child_tags)
    if g["stable"]:
        extra["tbname"] = g["table"].split(".")[-1]
        tagvals = [_parse_literal(t) for t in _split_select(g["tags"])]
        if g["tagcols"]:
            tagcols = [c.strip() for c in g["tagcols"].split(",")]
        else:
            # positional: the super table's declared tag columns
            declared = list(db.table(target).tag_cols)
            tagcols = (
                declared[: len(tagvals)]
                if len(declared) >= len(tagvals)
                else [f"tag{i}" for i in range(len(tagvals))]
            )
        extra.update(dict(zip(tagcols, tagvals)))
        # INSERT … USING auto-creates the child table (reference
        # parInsertSql.c): register it so later SELECTs resolve it as a
        # child slice with child-table star semantics
        cn = g["table"].split(".")[-1]
        if cn not in db.tables:
            from tdengine_spark.catalog import SuperTable as _ST

            pt0 = db.table(target)
            # registry consumers zip against declared tag order (see the
            # child-INSERT path above), so normalize a named/reordered/
            # subset TAGS(...) list into pt0.tag_cols order here
            byname = dict(zip(tagcols, tagvals))
            db.tables[cn] = _ST(
                name=cn, path=f"{db.root}/{cn}.parquet",
                ts_col=pt0.ts_col, tag_cols=pt0.tag_cols, child=True,
                parent=target,
                tag_values=tuple(byname.get(c) for c in pt0.tag_cols),
                data_cols=pt0.data_cols,
            )

    if cols is None:
        if schema is None:
            raise ValueError(
                "INSERT without a column list needs an existing table schema"
            )
        cols = [f.name for f in schema
                if f.name not in extra and f.name != "_version"]
        cols = cols[: len(rows[0])]
    # per-ROW version: a later VALUES group overwrites an earlier one at
    # the same (tbname, ts) (reference parInsertSql.c processes groups
    # in order into the memtable) — a shared stamp would leave keep-last
    # dedup tied and arbitrary. ``min_ver`` carries the order across
    # the segments of one statement.
    import time as _time

    base_ver = max(_time.time_ns(), min_ver)
    data = [
        dict(zip(cols, r), **extra, _version=base_ver + i)
        for i, r in enumerate(rows)
    ]
    if schema is not None:
        _validate_insert_ranges(db, target, schema, data)
    return target, schema, data, cols


def _write_insert_rows(spark, db, target, schema, data, first_col=None):
    """Append parsed INSERT rows to ``target``'s dataset in one write.
    With a ``schema`` the literals are coerced to it; without one
    (create-on-first-insert) the frame is inferred from the rows and
    ``first_col`` — the primary key — is cast to timestamp."""
    path = f"{db.root}/{target}.parquet"
    if schema is not None:
        # route literals through strings + cast: '2024-…' → timestamp,
        # '1.5' → double, etc., exactly as the reference parser coerces
        # VALUES literals against the table schema
        from pyspark.sql import types as T

        # write the FULL table schema (absent columns as NULL): partial-
        # width files would leave the dataset's merged schema dependent
        # on file listing order
        out_fields = list(schema)
        names = [f.name for f in out_fields]
        str_schema = T.StructType([T.StructField(n, T.StringType()) for n in names])
        str_rows = [
            tuple(None if d.get(n) is None else str(d.get(n)) for n in names)
            for d in data
        ]

        def _coerce(f):
            c = F.col(f.name)
            if isinstance(f.dataType, T.IntegralType):
                # decimal literal into an integer column ROUNDS half-away
                # (reference VALUES coercion — orderbyOtherTS inserts
                # 215+num/15 into INT and expects 247.53 → 248); integer
                # literals cast directly (decimal(38,10) keeps int64 exact)
                return F.when(
                    c.rlike(r"^-?\d+(\.\d+)?([eE][+-]?\d+)?$") & c.contains("."),
                    F.round(c.cast("decimal(38,10)"), 0).cast(f.dataType),
                ).otherwise(c.cast(f.dataType)).alias(f.name)
            if isinstance(f.dataType, T.BinaryType):
                # VARBINARY input: 0x-prefixed literals are hex bytes,
                # anything else stores its utf-8 bytes (reference
                # taosHex2Ascii VALUES coercion)
                return F.when(
                    c.rlike("^0[xX][0-9a-fA-F]*$"),
                    F.unhex(F.expr(f"substring(`{f.name}`, 3)")),
                ).otherwise(c.cast("binary")).alias(f.name)
            if isinstance(f.dataType, T.BooleanType):
                # numeric literal into BOOL is C truthiness (reference
                # VALUES coercion, atoi: nonzero → true); Spark's
                # string→boolean cast rejects "5" as NULL
                return F.when(
                    c.rlike(r"^-?\d+(\.\d+)?([eE][+-]?\d+)?$"),
                    c.cast("double") != 0,
                ).otherwise(c.cast("boolean")).alias(f.name)
            # timestamps: a bare integer literal is an epoch in the db
            # precision (magnitude-disambiguated); anything else casts
            return _lit_cast(f.name, f.dataType)

        # every value is a str or None by construction: skip the
        # per-row type verification
        df = spark.createDataFrame(
            str_rows, str_schema, verifySchema=False
        ).select(*[_coerce(f) for f in out_fields])
        # evolved columns write to their PHYSICAL names: versioned
        # generations, and renamed columns back to their on-disk name
        ov = db.table(target).load_overlay()
        for c, p in ov["phys"].items():
            if c in df.columns:
                df = df.withColumnRenamed(c, p)
        for old, new in ov["rename"].items():
            if new in df.columns:
                df = df.withColumnRenamed(new, old)
    else:
        df = spark.createDataFrame(data)
        # create-on-first-insert: the reference's first column is always
        # the TIMESTAMP primary key — literals arrive as strings
        if dict(df.dtypes).get(first_col) == "string":
            df = df.withColumn(first_col, F.col(first_col).cast("timestamp"))
    df.write.mode("append").parquet(path)


#: TDengine column types → Spark (taosdef.h type table)
_TYPE_MAP = {
    "TIMESTAMP": "timestamp", "BOOL": "boolean", "TINYINT": "tinyint",
    "SMALLINT": "smallint", "INT": "int", "INTEGER": "int",
    "BIGINT": "bigint", "FLOAT": "float", "DOUBLE": "double",
    "VARCHAR": "string", "NCHAR": "string", "BINARY": "string",
    "JSON": "string", "VARBINARY": "binary", "GEOMETRY": "binary",
}

_CREATE_TABLE_RE = re.compile(
    r"""
    ^\s*CREATE\s+(?:STABLE|TABLE)\s+(?:IF\s+NOT\s+EXISTS\s+)?
    (?P<table>[A-Za-z_][\w.]*)
    \s*\(\s*(?P<cols>.*?)\s*\)
    (?:\s+TAGS\s*\(\s*(?P<tags>.*?)\s*\))?
    \s*;?\s*$
    """,
    re.IGNORECASE | re.VERBOSE | re.DOTALL,
)


#: UNSIGNED integer columns widen one storage tier (Spark has no
#: unsigned types; ttypes.h TSDB_DATA_TYPE_U* value ranges must fit)
_UNSIGNED_WIDEN = {
    "TINYINT": "smallint", "SMALLINT": "int",
    "INT": "bigint", "INTEGER": "bigint", "BIGINT": "decimal(20,0)",
}


def _parse_col_defs(defs: str) -> "list[tuple[str, str]]":
    """[(name, spark_type)] — column options (PRIMARY KEY, ENCODE/
    COMPRESS, sql.y column_options) are consumed by _parse_pk_col."""
    out = []
    for item in _split_select(defs):
        name, _, rest = item.strip().partition(" ")
        ty = re.sub(r"\(.*\)", "", rest.split("(")[0].split()[0]).upper()
        if re.search(r"(?i)\bunsigned\b", rest) and ty in _UNSIGNED_WIDEN:
            out.append((name, _UNSIGNED_WIDEN[ty]))
            continue
        if ty in ("DECIMAL", "DECIMAL64"):
            # DECIMAL(p[, s]) / DECIMAL64 (reference ttypes.h decimal64/
            # decimal128) → Spark DecimalType, precision/scale preserved
            dm = re.search(r"\(\s*(\d+)\s*(?:,\s*(\d+)\s*)?\)", rest)
            p, s = (dm.group(1), dm.group(2) or "0") if dm else ("18", "0")
            out.append((name, f"decimal({p},{s})"))
            continue
        out.append((name, _TYPE_MAP.get(ty, ty.lower())))
    return out


def _parse_pk_col(defs: str) -> "str | None":
    """The column carrying the COMPOSITE PRIMARY KEY option
    (sql.y:3250 ``column_options ::= column_options PRIMARY KEY``) —
    the second key after the timestamp; None when absent."""
    for item in _split_select(defs):
        if re.search(r"(?i)\b(?:primary|composite)\s+key\b", item):
            return item.split()[0]
    return None


_CREATE_CHILD_RE = re.compile(
    r"""
    ^\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?
    (?P<table>[A-Za-z_][\w.]*)\s+USING\s+(?P<stable>[A-Za-z_][\w.]*)
    \s*(?:\(\s*(?P<tagcols>[^)]*?)\s*\))?
    \s*TAGS\s*\(\s*(?P<tags>.*?)\s*\)\s*;?\s*$
    """,
    re.IGNORECASE | re.VERBOSE | re.DOTALL,
)


_SEG_KEYWORDS = {
    "values", "tags", "using", "file",
    # an INSERT-SELECT tail's clause keywords after a closing paren
    # (`… external_window((…) w) order by …`) never start a new
    # insert target
    "order", "group", "having", "limit", "slimit", "offset",
    "soffset", "fill", "where", "interval", "session",
    "state_window", "event_window", "count_window",
    "external_window", "partition", "window", "range", "every",
    "select",
}


def _split_depth0_segments(text: str) -> "list[str]":
    """Split a multi-target tail — ``tb0 … (…) tb1 … (…)`` — into one
    segment per target table (sql.y multi_create_clause /
    parInsertSql.c multi-table VALUES). A new segment starts at a
    depth-0 identifier whose previous non-space character is ``)``,
    unless the identifier is a clause keyword (VALUES/TAGS/USING)."""
    segs, start = [], 0
    # a name with the whitespace before it, so text[m.start() - 1] is
    # the previous non-space character
    for m, depth in _scan(text, r"\s*[^\W\d][\w.]*"):
        if (depth == 0 and text[m.start() - 1:m.start()] == ")"
                and m.group().lstrip().lower() not in _SEG_KEYWORDS):
            segs.append(text[start:m.start()].strip())
            start = m.start()
    segs.append(text[start:].strip())
    return [s for s in segs if s]


#: virtual-table registries keyed by (db.root, name): child vtables of a
#: virtual super table, and each vtable's compiled SELECT text
_VTABLE_CHILDREN: dict = {}
_VTABLE_SELECT: dict = {}


def translate_create_vtable(
    spark: SparkSession, db: Database, sql: str
) -> str:
    """``CREATE VTABLE name (col [type] FROM org.col, …)
    [USING stb TAGS(…)]`` — virtual tables (reference
    source/libs/parser virtual-table DDL; 08-ExternalWindow
    vtable_external_window_regression): each column reads from an
    origin table's column, rows aligned on the origin timestamps.
    Compiled to a logical view (db.views): a single-origin vtable is a
    straight projection; multiple origins align via FULL JOIN on ts
    with a coalesced timeline. A child vtable (USING) additionally
    contributes to its virtual super table's view — the stable reads
    as the UNION ALL of its children with tag literals and tbname."""
    m = re.match(
        r"(?is)^\s*CREATE\s+VTABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?"
        r"([\w.]+)\s*\((.*?)\)\s*"
        r"(?:USING\s+([\w.]+)\s+TAGS\s*\((.*?)\)\s*)?;?\s*$",
        sql.strip(),
    )
    if not m:
        raise ValueError(f"unrecognized CREATE VTABLE: {sql!r}")
    name = m.group(1).split(".")[-1]
    using = m.group(3).split(".")[-1] if m.group(3) else None
    cols = []  # (out_name, origin_table | None, origin_col | None)
    for cd in _split_select(m.group(2)):
        cm2 = re.match(
            r"(?is)^(\w+)"
            r"(?:\s+\w+(?:\s*\(\s*\d+\s*\))?(?:\s+unsigned)?)?"
            r"(?:\s+from\s+([\w.]+)\.(\w+))?\s*$",
            cd.strip(),
        )
        if not cm2:
            raise ValueError(f"unrecognized vtable column def: {cd!r}")
        cols.append(
            (cm2.group(1),
             cm2.group(2).split(".")[-1] if cm2.group(2) else None,
             cm2.group(3))
        )
    origins = list(dict.fromkeys(o for _, o, _ in cols if o))
    if not origins:
        raise ValueError(f"vtable {name!r} maps no origin columns")

    def _ots(o):
        t = db.tables.get(o)
        return (t.ts_col or "ts") if t is not None else "ts"

    ts_out = next((n for n, o, _ in cols if o is None), None)
    if len(origins) == 1:
        o = origins[0]
        items = [f"{_ots(o)} as {ts_out}"] if ts_out else [_ots(o)]
        items += [f"{sc} as {n}" for n, ot, sc in cols if ot]
        sel = f"select {', '.join(items)} from {o}"
    else:
        al = {o: f"_vt{i}" for i, o in enumerate(origins)}
        joins = f"{origins[0]} {al[origins[0]]}"
        for o in origins[1:]:
            joins += (
                f" full join {o} {al[o]} on "
                f"{al[origins[0]]}.{_ots(origins[0])} = {al[o]}.{_ots(o)}"
            )
        ts_expr = "coalesce(" + ", ".join(
            f"{al[o]}.{_ots(o)}" for o in origins
        ) + ")"
        items = [f"{ts_expr} as {ts_out or 'ts'}"]
        items += [f"{al[ot]}.{sc} as {n}" for n, ot, sc in cols if ot]
        sel = f"select {', '.join(items)} from {joins}"
    db.views[name] = sel
    _VTABLE_SELECT[(db.root, name)] = (
        sel, [n for n, o, _ in cols if o], ts_out
    )
    if using:
        st = db.tables.get(using)
        tag_names = list(st.tag_cols) if st is not None else []
        tvals = _split_select(m.group(4) or "")
        kids = _VTABLE_CHILDREN.setdefault((db.root, using), [])
        kids[:] = [k for k in kids if k[0] != name]
        kids.append((name, tvals))
        parts = []
        for child, tv in kids:
            csel, cnames, cts = _VTABLE_SELECT[(db.root, child)]
            out_items = [cts or (st.ts_col if st is not None else "ts")
                         or "ts"]
            out_items += cnames
            out_items += [
                f"{v} as {tn}" for tn, v in zip(tag_names, tv)
            ]
            out_items.append(f"'{child}' as tbname")
            parts.append(
                f"select {', '.join(out_items)} from ({csel}) _vtc"
            )
        db.views[using] = " union all ".join(parts)
    return name


def translate_create_table(spark: SparkSession, db: Database, sql: str) -> str:
    """``CREATE STABLE t (cols…) TAGS (tags…)`` (sql.y CREATE TABLE
    rules): registers the SuperTable descriptor (ts/tag columns) and
    materializes an empty parquet dataset with the declared schema so
    INSERT/SELECT see consistent types. Returns the table name."""
    hm = re.match(
        r"(?is)^\s*CREATE\s+(?:STABLE|TABLE)\s+(?:IF\s+NOT\s+EXISTS\s+)?(.*)$",
        sql.strip().rstrip(";"),
    )
    if hm and " using " in hm.group(1).lower():
        segs = _split_depth0_segments(hm.group(1))
        if len(segs) > 1:
            # multi-child create: one child registration per segment
            # (sql.y multi_create_clause)
            last = ""
            for seg in segs:
                seg = re.sub(r"(?is)^if\s+not\s+exists\s+", "", seg)
                last = translate_create_table(
                    spark, db, f"CREATE TABLE {seg}"
                )
            return last
    cm = _CREATE_CHILD_RE.match(sql)
    if cm:
        # child table: register the parent mapping + tag values; rows
        # land in the parent's dataset (INSERT routes through it)
        child = cm.group("table").split(".")[-1]
        parent = cm.group("stable").split(".")[-1]
        pt = db.table(parent)
        tagvals = tuple(
            _parse_literal(v) for v in _split_select(cm.group("tags"))
        )
        from tdengine_spark.catalog import SuperTable

        db.tables[child] = SuperTable(
            name=child, path=f"{db.root}/{child}.parquet",
            ts_col=pt.ts_col, tag_cols=pt.tag_cols, child=True,
            parent=parent, tag_values=tagvals, data_cols=pt.data_cols,
        )
        return child
    # SMA(col, …) rollup-function hint (sql.y table_options SMA): a
    # storage-side pre-agg directive with no analog here — drop it
    sql = re.sub(r"(?i)\s+SMA\s*\([^)]*\)", "", sql)
    m = _CREATE_TABLE_RE.match(sql)
    if not m:
        raise ValueError(f"unrecognized CREATE TABLE statement: {sql!r}")
    g = m.groupdict()
    cols = _parse_col_defs(g["cols"])
    tags = _parse_col_defs(g["tags"]) if g["tags"] else []
    name = g["table"].split(".")[-1]
    # ``_version``: monotone insert stamp — makes overwrite-on-duplicate-
    # key (TD_ROW_OVERWRITE_UPDATE) deterministic at dedup-on-read; the
    # catalog hides it from query output
    fields = (
        cols + tags + ([("tbname", "string")] if tags else [])
        + [("_version", "bigint")]
    )
    schema_str = ", ".join(f"{n} {t}" for n, t in fields)
    import os

    path = f"{db.root}/{name}.parquet"
    if not os.path.exists(path):
        spark.createDataFrame([], schema_str).write.parquet(path)
    t = db.table(name)
    t.ts_col = cols[0][0]
    t.tag_cols = tuple(n for n, _ in tags)
    t.managed = True
    t.pk_col = _parse_pk_col(g["cols"])
    t.data_cols = tuple(n for n, _ in cols)
    t.unsigned_cols = tuple(
        item.strip().split()[0]
        for item in _split_select(g["cols"] + "," + (g["tags"] or ""))
        if item.strip() and re.search(r"(?i)\bunsigned\b", item)
    )
    t.declared_types = tuple(
        (item.strip().split()[0],
         " ".join(item.strip().split()[1:]))
        for item in _split_select(g["cols"] + "," + (g["tags"] or ""))
        if item.strip()
    )
    return name


_ALTER_RE = re.compile(
    r"^\s*ALTER\s+(?:TABLE|STABLE|VTABLE)\s+(?P<table>[A-Za-z_][\w.]*)\s+"
    r"(?P<rest>.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

#: alter_table_clause alternatives (sql.y:1097-1117)
_ALTER_CLAUSES = [
    ("add_col", re.compile(
        r"^ADD\s+COLUMN\s+(\w+)\s+(\w+(?:\s*\(\s*\d+\s*\))?)", re.IGNORECASE)),
    ("drop_col", re.compile(r"^DROP\s+COLUMN\s+(\w+)\s*$", re.IGNORECASE)),
    ("modify_col", re.compile(
        r"^MODIFY\s+COLUMN\s+(\w+)\s+(\w+(?:\s*\(\s*\d+\s*\))?)\s*$",
        re.IGNORECASE)),
    ("rename_col", re.compile(
        r"^RENAME\s+COLUMN\s+(\w+)\s+(\w+)\s*$", re.IGNORECASE)),
    ("add_tag", re.compile(
        r"^ADD\s+TAG\s+(\w+)\s+(\w+(?:\s*\(\s*\d+\s*\))?)\s*$", re.IGNORECASE)),
    ("drop_tag", re.compile(r"^DROP\s+TAG\s+(\w+)\s*$", re.IGNORECASE)),
    ("modify_tag", re.compile(
        r"^MODIFY\s+TAG\s+(\w+)\s+(\w+(?:\s*\(\s*\d+\s*\))?)\s*$",
        re.IGNORECASE)),
    ("rename_tag", re.compile(
        r"^RENAME\s+TAG\s+(\w+)\s+(\w+)\s*$", re.IGNORECASE)),
    ("set_tag", re.compile(
        r"^SET\s+TAG\s+(\w+)\s*=\s*(.+?)\s*$", re.IGNORECASE | re.DOTALL)),
]


def _spark_type(t: str) -> str:
    base = re.sub(r"\s*\(.*\)", "", t).strip().upper()
    return _TYPE_MAP.get(base, t.lower())


def translate_alter_table(spark: SparkSession, db: Database, sql: str) -> str:
    """ALTER TABLE / ALTER STABLE (sql.y:1091-1117): schema evolution.

    ADD/DROP/MODIFY/RENAME COLUMN and the TAG family are metadata-only —
    recorded in the table's schema overlay (catalog.SuperTable) and
    applied at scan time, exactly like the reference's mnode schema
    version bump (no data rewrite at any scale). ``SET TAG t = v``
    touches data (tags are columns in this engine's model) and rewrites
    only the target child table's dataset.
    """
    import os
    import shutil
    import tempfile

    m = _ALTER_RE.match(sql)
    if not m:
        raise ValueError(f"unrecognized ALTER statement: {sql!r}")
    name = m.group("table").split(".")[-1]
    rest = m.group("rest").strip()
    t = db.table(name)
    ov = t.load_overlay()

    def _decl_set(col, typ_text):
        # keep DESCRIBE's declared-type rendering in step with ALTERs
        dt = [list(p) for p in (t.declared_types or ())]
        if typ_text is None:
            dt = [p for p in dt if p[0] != col]
        else:
            for p in dt:
                if p[0] == col:
                    p[1] = typ_text
                    break
            else:
                dt.append([col, typ_text])
        t.declared_types = tuple(tuple(p) for p in dt)

    for kind, cre in _ALTER_CLAUSES:
        cm = cre.match(rest)
        if not cm:
            continue
        if kind in ("add_col", "add_tag"):
            col, typ = cm.group(1), _spark_type(cm.group(2))
            if col in ov["drop"]:
                # re-add after drop: fresh column generation — store
                # under a versioned physical name, old data stays masked
                v = 2
                while f"{col}__v{v}" in ov["phys"].values():
                    v += 1
                ov["phys"][col] = f"{col}__v{v}"
            if all(c != col for c, _ in ov["add"]):
                ov["add"].append([col, typ])
            _decl_set(col, cm.group(2))
            if kind == "add_tag" and col not in t.tag_cols:
                t.tag_cols = (*t.tag_cols, col)
        elif kind in ("drop_col", "drop_tag"):
            col = cm.group(1)
            if any(c == col for c, _ in ov["add"]):
                ov["add"] = [a for a in ov["add"] if a[0] != col]
                phys = ov["phys"].pop(col, None)
                if phys:
                    ov["drop"].append(phys)
            elif col not in ov["drop"]:
                ov["drop"].append(col)
            _decl_set(col, None)
            if kind == "drop_tag":
                t.tag_cols = tuple(c for c in t.tag_cols if c != col)
        elif kind in ("modify_col", "modify_tag"):
            ov["retype"][cm.group(1)] = _spark_type(cm.group(2))
            _decl_set(cm.group(1), cm.group(2))
        elif kind in ("rename_col", "rename_tag"):
            old, new = cm.group(1), cm.group(2)
            t.declared_types = tuple(
                (new if c == old else c, ty)
                for c, ty in (t.declared_types or ())
            )
            ov["add"] = [[new if c == old else c, ty] for c, ty in ov["add"]]
            if old not in [a[0] for a in ov["add"]]:
                ov["rename"][old] = new
            if kind == "rename_tag":
                t.tag_cols = tuple(
                    new if c == old else c for c in t.tag_cols
                )
        else:  # set_tag: rewrite the child table's (column-stored) tag
            col, lit = cm.group(1), cm.group(2)
            if not os.path.exists(t.path):
                # child rows live in a super table's dataset (INSERT …
                # USING): update only this child's partition
                for st_tbl in list(db.tables.values()):
                    if st_tbl.name == name or not os.path.exists(st_tbl.path):
                        continue
                    cand = st_tbl.read(spark)
                    if (
                        "tbname" in cand.columns
                        and col in cand.columns
                        and cand.where(F.col("tbname") == name).limit(1).count()
                    ):
                        t = st_tbl
                        break
                else:
                    raise ValueError(f"unknown child table {name!r}")
                base_df = t.read(spark)
                df = base_df.withColumn(
                    col,
                    F.when(
                        F.col("tbname") == name,
                        F.expr(lit).cast(dict(base_df.dtypes).get(col)),
                    ).otherwise(F.col(col)),
                )
            else:
                df = t.read(spark).withColumn(
                    col, F.expr(lit).cast(dict(t.read(spark).dtypes).get(col))
                )
            tmp = tempfile.mkdtemp(prefix="tds_settag_")
            df.write.mode("overwrite").parquet(f"{tmp}/data")
            back = spark.read.parquet(f"{tmp}/data")
            back.count()  # materialize before replacing the source
            if os.path.isdir(t.path):
                shutil.rmtree(t.path)
            else:
                os.remove(t.path)
            shutil.move(f"{tmp}/data", t.path)
            shutil.rmtree(tmp, ignore_errors=True)
            return name
        t.save_overlay(ov)
        return name
    raise ValueError(f"unsupported ALTER clause: {rest!r}")


_DELETE_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+(?P<table>[A-Za-z_][\w.]*)"
    r"(?:\s+WHERE\s+(?P<where>.*?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


#: reference type-name rendering (ttypes.c tDataTypes[].name): DESCRIBE
#: shows these, with the storage byte width as `length`
_REF_TYPE_NAMES = {
    "binary": ("VARCHAR", None), "varchar": ("VARCHAR", None),
    "nchar": ("NCHAR", None), "string": ("VARCHAR", None),
    "bool": ("BOOL", 1), "boolean": ("BOOL", 1),
    "timestamp": ("TIMESTAMP", 8),
    "tinyint": ("TINYINT", 1), "smallint": ("SMALLINT", 2),
    "int": ("INT", 4), "integer": ("INT", 4), "bigint": ("BIGINT", 8),
    "float": ("FLOAT", 4), "double": ("DOUBLE", 8),
    "json": ("JSON", 4095), "varbinary": ("VARBINARY", None),
    "geometry": ("GEOMETRY", None), "decimal": ("DECIMAL", 8),
}


def _ref_type_name(decl, stored: str, unsigned: bool) -> "tuple[str, int]":
    """(reference type name, length) for one DESCRIBE row.

    ``decl``: the CREATE TABLE type text when known ('nchar(32)',
    'int unsigned', 'timestamp primary key'); ``stored``: the Spark
    simpleString fallback (unsigned columns are stored one tier wider —
    narrow back when the declared text is missing but the registry says
    unsigned)."""
    src = (decl or stored).strip().lower()
    m = re.match(r"([a-z]+)\s*(?:\(\s*(\d+)(?:\s*,\s*\d+)?\s*\))?", src)
    base = m.group(1) if m else src
    ln = int(m.group(2)) if m and m.group(2) else None
    uns = unsigned or bool(re.search(r"(?i)\bunsigned\b", src))
    if decl is None and uns:
        # widened storage → declared width (see _UNSIGNED_WIDEN)
        base = {"smallint": "tinyint", "int": "smallint",
                "bigint": "int", "decimal": "bigint"}.get(base, base)
    name, width = _REF_TYPE_NAMES.get(base, (base.upper(), None))
    if uns and name in ("TINYINT", "SMALLINT", "INT", "BIGINT"):
        name += " UNSIGNED"
    return name, ln if ln is not None else (width or 0)


def _db_tables(db: Database) -> "list[str]":
    import glob
    import os

    names = [
        os.path.basename(p)[: -len(".parquet")]
        for p in glob.glob(f"{db.root}/*.parquet")
    ]
    return sorted(set(names) | set(db.tables))


def execute(
    spark: SparkSession,
    db: Database,
    sql: str,
    ts_col: str = "ts",
    tsma_catalog=None,
):
    """Single SQL entry point mirroring the reference's statement set:
    SELECT → DataFrame plan (``translate``, TSMA-rewritten when a
    catalog is given), INSERT → append + row count, DELETE →
    partition-rewrite + deleted count, CREATE STABLE/TABLE → typed
    dataset, CREATE STREAM → StreamDef, SHOW TABLES/STABLES / DESCRIBE /
    EXPLAIN → catalog and plan DataFrames."""
    global _DB_PRECISION
    _DB_PRECISION = getattr(db, "precision", "ms") or "ms"
    prev_ansi = spark.conf.get("spark.sql.ansi.enabled", "true")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        return _execute_inner(spark, db, sql, ts_col, tsma_catalog)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev_ansi)


def _execute_inner(
    spark: SparkSession,
    db: Database,
    sql: str,
    ts_col: str = "ts",
    tsma_catalog=None,
):
    sql = _outside_quotes(sql, lambda t: t.replace("`", ""))
    s = sql.lstrip().upper()
    if s.startswith("EXPLAIN"):
        inner = sql.lstrip()[len("EXPLAIN"):].lstrip()
        df = translate(spark, db, inner, ts_col, tsma_catalog=tsma_catalog)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        return spark.createDataFrame(
            [(line,) for line in plan.splitlines()], "plan string"
        )
    if s.startswith("INSERT"):
        return translate_insert(spark, db, sql)
    if s.startswith("DELETE"):
        from tdengine_spark.operators.delete import delete_where

        m = _DELETE_RE.match(sql)
        if not m:
            raise ValueError(f"unrecognized DELETE statement: {sql!r}")
        cond = (
            F.expr(_rewrite_ops(m.group("where")))
            if m.group("where")
            else F.lit(True)
        )
        return delete_where(spark, f"{db.root}/{m.group('table')}.parquet", cond)
    if s.startswith("CREATE STREAM"):
        from tdengine_spark.streaming.create_stream import (
            parse_create_stream,
            register_stream,
        )

        return register_stream(parse_create_stream(sql))
    if s.startswith("DROP STREAM"):
        from tdengine_spark.streaming.create_stream import drop_stream

        name = sql.split()[-1].rstrip(";")
        return drop_stream(name)
    if s.startswith("CREATE VTABLE"):
        return translate_create_vtable(spark, db, sql)
    if s.startswith("CREATE STABLE") or s.startswith("CREATE TABLE"):
        # VIRTUAL 1 table option (virtual super table, sql.y
        # table_options VIRTUAL): the stable itself holds no rows —
        # child vtables contribute their origin reads via the view
        # built in translate_create_vtable
        vs = re.sub(r"(?i)\s+virtual\s+1\s*;?\s*$", "", sql)
        return translate_create_table(spark, db, vs)
    sm_fdow = re.match(
        r"(?i)^\s*set\s+first_day_of_week\s+(\d+)\s*;?\s*$", sql
    )
    if sm_fdow:
        tw.FIRST_DAY_OF_WEEK = int(sm_fdow.group(1))
        return 1
    sm_tz = re.match(
        r"(?i)^\s*set\s+timezone\s+'([^']+)'\s*;?\s*$", sql
    )
    if sm_tz:
        set_session_timezone(spark, sm_tz.group(1))
        return 1
    if s.startswith(("DROP TABLE", "DROP STABLE")):
        import shutil as _sh

        names = re.sub(
            r"(?is)^drop\s+s?table\s+(?:if\s+exists\s+)?", "", sql
        ).rstrip(";")
        for nm in names.split(","):
            nm = nm.strip().split(".")[-1]
            if not nm:
                continue
            reg = db.tables.get(nm)
            if reg is not None and reg.parent:
                # child table: its rows live in the parent dataset
                from tdengine_spark.operators.delete import delete_where

                ppath = f"{db.root}/{reg.parent}.parquet"
                import os as _os

                if _os.path.exists(ppath):
                    delete_where(spark, ppath, F.col("tbname") == nm)
                db.tables.pop(nm, None)
                continue
            _sh.rmtree(f"{db.root}/{nm}.parquet", ignore_errors=True)
            db.tables.pop(nm, None)
            # vtables live as logical views — drop those registrations
            db.views.pop(nm, None)
            _VTABLE_SELECT.pop((db.root, nm), None)
            _VTABLE_CHILDREN.pop((db.root, nm), None)
            # children of a dropped super table go with it
            for cn in [
                c for c, t in db.tables.items() if t.parent == nm
            ]:
                db.tables.pop(cn, None)
        return len(names.split(","))
    if s.startswith(("ALTER TABLE", "ALTER STABLE", "ALTER VTABLE")):
        return translate_alter_table(spark, db, sql)
    vm = re.match(
        r"(?is)^\s*CREATE\s+(?:OR\s+REPLACE\s+)?VIEW\s+"
        r"(?:IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s+AS\s+(select\b.*)$",
        sql.rstrip(";"),
    )
    if vm:
        # logical view: stored as its SELECT text, substituted as a
        # derived table at translate time (parTranslater.c
        # translateView)
        db.views[vm.group(1).split(".")[-1]] = vm.group(2).strip()
        return vm.group(1)
    dv = re.match(
        r"(?is)^\s*DROP\s+VIEW\s+(?:IF\s+EXISTS\s+)?([\w.]+)\s*;?\s*$",
        sql,
    )
    if dv:
        db.views.pop(dv.group(1).split(".")[-1], None)
        return dv.group(1)
    shvm = re.match(
        r"(?i)^\s*SHOW\s+VIEWS(?:\s+LIKE\s+'([^']*)')?\s*;?\s*$", sql
    )
    if shvm:
        from pyspark.sql import types as T

        out = spark.createDataFrame(
            [(n, db.views[n]) for n in db.views],
            T.StructType([
                T.StructField("view_name", T.StringType()),
                T.StructField("query_sql", T.StringType()),
            ]),
        )
        if shvm.group(1) is not None:
            out = out.where(F.col("view_name").like(shvm.group(1)))
        return out
    sm = re.match(
        r"^\s*SHOW\s+(?:([A-Za-z_]\w*)\.)?"
        r"(TABLES|STABLES|DATABASES|USERS|VGROUPS|STREAMS|"
        r"CLUSTER|DNODES|VARIABLES)"
        r"(?:\s+LIKE\s+'([^']*)')?\s*;?\s*$",
        sql,
        re.IGNORECASE,
    )
    if sm:
        from tdengine_spark.catalog import information_schema

        view = {
            "TABLES": "ins_tables",
            "STABLES": "ins_stables",
            "DATABASES": "ins_databases",
            "USERS": "ins_users",
            "VGROUPS": "ins_vgroups",
            "STREAMS": "ins_streams",
            "CLUSTER": "ins_cluster",
            "DNODES": "ins_dnodes",
            "VARIABLES": "ins_configs",
        }[sm.group(2).upper()]
        if view in ("ins_tables", "ins_stables", "ins_databases", "ins_vgroups"):
            for sdb in _session_dbs(db).values():
                for name in _db_tables(sdb):
                    sdb.table(name)
        out = information_schema(spark, _session_dbs(db), view)
        # the reference scopes SHOW TABLES/STABLES/VGROUPS to the
        # current (or `SHOW db.TABLES`-qualified) database, never all
        # session siblings (mndShowRetrieve* resolves one db)
        if view in ("ins_tables", "ins_stables", "ins_vgroups"):
            scope_db = sm.group(1) or getattr(db, "name", "db") or "db"
            if "db_name" in out.columns:
                out = out.where(F.col("db_name") == scope_db)
        if sm.group(3) is not None:
            namecol = {
                "ins_tables": "table_name",
                "ins_stables": "stable_name",
                "ins_databases": "name",
                "ins_streams": "stream_name",
                "ins_users": "name",
            }.get(view)
            if namecol and namecol in out.columns:
                out = out.where(
                    F.col(namecol).like(sm.group(3))
                )
        return out
    dm = re.match(r"^\s*DESC(?:RIBE)?\s+([A-Za-z_][\w.]*)\s*;?\s*$", sql, re.IGNORECASE)
    if dm:
        from tdengine_spark.catalog import information_schema

        parts = dm.group(1).split(".")
        tname = parts[-1]
        # DESCRIBE db.tbl resolves against the QUALIFIED db, not the
        # session's current one
        tdb = db
        if len(parts) > 1:
            qual = parts[-2]
            sess = _session_dbs(db)
            if qual in sess:
                tdb = sess[qual]
        t = tdb.table(tname)
        # a child table shares the parent's schema + declared types
        meta = t
        if t.parent and t.parent in tdb.tables:
            meta = tdb.table(t.parent)
        declared = dict(meta.declared_types or ())
        schema = [
            f for f in meta.read(spark).schema
            if f.name not in ("_version", meta.tbname_col)
        ]
        tagset = set(meta.tag_cols or ())
        rows = []
        for pos, f in enumerate(schema, start=1):
            tname_, tlen = _ref_type_name(
                declared.get(f.name), f.dataType.simpleString(),
                f.name in set(meta.unsigned_cols or ()),
            )
            rows.append((
                f.name, tname_, tlen,
                "TAG" if f.name in tagset else "", pos,
            ))
        # reference DESCRIBE row order: data columns first, tags last;
        # exactly the reference's 4 columns (field, type, length, note)
        # — its tests index note as row[-1]
        rows.sort(key=lambda r: (r[3] == "TAG", r[4]))
        rows = [r[:4] for r in rows]
        return spark.createDataFrame(
            rows, "field string, type string, length int, note string",
        )
    return translate(spark, db, sql, ts_col, tsma_catalog=tsma_catalog)


#: row-indexed ("indefinite" output) functions, sql.y / builtins.c —
#: per-row outputs over a ts-ordered per-key window, not aggregates
_INDEF_FNS = ("diff", "csum", "mavg", "derivative", "statecount",
              "stateduration", "lag", "lead", "fill_forward")

_INDEF_ITEM_RE = re.compile(
    r"^(\w+)\s*\(\s*(.*?)\s*\)(?:\s+(?:as\s+)?([A-Za-z_]\w*))?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _indef_call_sql(call: str, keys: list[str], ts_col: str):
    """Window-SQL text equivalent of one indef call, for use INSIDE a
    larger scalar expression. Returns ``(expr_sql, emit_sql)`` —
    (None, None) when the function has no SQL-text form here
    (statecount/stateduration/derivative keep the bare-call path).
    Semantics mirror functions/indef.py exactly."""
    m = _INDEF_ITEM_RE.match(call.strip())
    if not m:
        return None, None
    fn = m.group(1).lower()
    args = [a.strip() for a in _split_select(m.group(2))]
    part = f"partition by {', '.join(keys)} " if keys else ""
    over = f"over ({part}order by {ts_col})"
    overg = (
        f"over ({part}order by {ts_col}"
        " rows between unbounded preceding and current row)"
    )
    if fn == "diff":
        # skip-chain: delta vs the previous NON-NULL value (NULL rows
        # don't break the chain — builtinsimpl.c diffFunction)
        prev = (
            f"last({args[0]}, true) over ({part}order by {ts_col}"
            " rows between unbounded preceding and 1 preceding)"
        )
        base = f"({args[0]} - {prev})"
        opt = args[1] if len(args) > 1 else "0"
        if opt in ("2", "3"):
            emit = f"({args[0]} is not null and {prev} is not null)"
            if opt == "3":
                emit = f"({emit} and {base} >= 0)"
            return base, emit
        emit = f"(lag(0) {over} is not null)"
        if opt == "1":
            return f"(case when {base} >= 0 then {base} end)", emit
        return base, emit
    if fn in ("lag", "lead"):
        n = args[1] if len(args) > 1 else "1"
        dsql = f", {args[2]}" if len(args) > 2 else ""
        return f"({fn}({args[0]}, {n}{dsql}) {over})", None
    if fn == "csum":
        return f"(sum({args[0]}) {overg})", f"({args[0]} is not null)"
    if fn == "mavg" and len(args) > 1 and args[1].isdigit():
        k = int(args[1])
        overk = (
            f"over ({part}order by {ts_col}"
            f" rows between {k - 1} preceding and current row)"
        )
        expr = (
            f"(case when count(1) {overk} >= {k}"
            f" then avg({args[0]}) {overk} end)"
        )
        return expr, f"({expr} is not null and {args[0]} is not null)"
    return None, None


def _build_indef_items(items: list[str], keys: list[str], ts_col: str,
                       dtypes: "dict[str, str] | None" = None,
                       pk_col: "str | None" = None):
    """(columns, emit-condition) when ≥1 select item calls an indef
    function (diff, csum, mavg, derivative, statecount, stateduration —
    reference ``SELECT diff(v) FROM t PARTITION BY tag`` shape), else
    None. Plain items pass through as expressions.

    The emit condition reproduces the reference's row-dropping rules
    (projectoperator.c indef output): diff drops the first row per
    group; csum drops NULL-input rows; mavg drops NULL inputs and the
    first k-1; derivative drops undefined outputs; statecount/
    stateduration emit every row."""
    from pyspark.sql.window import Window as _W

    from tdengine_spark.functions import indef

    def unq(s: str) -> str:
        s = s.strip()
        return s[1:-1] if len(s) >= 2 and s[0] == "'" and s[-1] == "'" else s

    w = _W.partitionBy(*keys).orderBy(ts_col)

    def _sub_ord_or(default_ts):
        """Row order for DEGRADED_TIMELINE_ROW_ORDER funcs: the FROM-
        subquery's explicit ORDER BY (presentation order) when one is
        active, else the timeline column — with the composite pk as
        tie-break (test_pk_baseline.ans: csum over duplicate-ts rows
        runs in (ts, pk) order)."""
        if _ACTIVE_SUB_ORDER:
            return [
                F.col(cn).desc() if dsc else F.col(cn)
                for (cn, dsc) in _ACTIVE_SUB_ORDER
            ]
        if pk_col:
            return [F.col(default_ts), F.col(pk_col)]
        return default_ts

    any_indef = False
    cols = []
    emit = None
    #: NULL-input rows are SKIPPED by the reference's mavg/derivative
    #: kernels (they don't advance the moving window or the delta
    #: chain) — callers filter base on this BEFORE the windows. diff
    #: does NOT prefilter: its skip-chain keeps NULL rows (option 0/1
    #: emits them as NULL output).
    prefilter = None
    #: composite-pk duplicate-ts rows: the delta/offset-chain funcs
    #: (diff/derivative/lag/lead/fill_forward) keep only the FIRST pk
    #: row per ts (test_pk_baseline.ans: diff over t_dup emits 2 rows);
    #: csum/mavg/statecount keep every row in (ts, pk) order.
    need_pk_dedup = False
    diff_emits: list = []

    def add_emit(c):
        nonlocal emit
        emit = c if emit is None else (emit & c)

    def add_pref(c):
        nonlocal prefilter
        prefilter = c if prefilter is None else (prefilter & c)

    for it in items:
        m = _INDEF_ITEM_RE.match(it.strip())
        fn = m.group(1).lower() if m else None
        if fn not in _INDEF_FNS:
            # indef call nested inside a scalar expression
            # (``abs(diff(x, 0))``): substitute the call with its
            # window-SQL equivalent — Spark allows window functions
            # under scalar wrappers in one projection
            sub_it, icalls = _extract_indef_calls([it])
            sqls = [
                _indef_call_sql(call, keys, ts_col) for _, call in icalls
            ]
            if icalls and all(s[0] is not None for s in sqls):
                any_indef = True
                txt = sub_it[0]
                for (name, _call), (sql_expr, emit_sql) in zip(
                    icalls, sqls
                ):
                    txt = txt.replace(name, sql_expr)
                    if emit_sql:
                        add_emit(F.expr(emit_sql))
                cols.append(F.expr(txt))
                continue
            cols.append(F.expr(it))
            continue
        any_indef = True
        args = [a.strip() for a in _split_select(m.group(2))]
        alias = m.group(3) or fn
        if fn == "diff":
            a0 = args[0]
            if dtypes and dtypes.get(a0) == "boolean":
                # reference diff() accepts bool (0/1 deltas,
                # builtins.c translateDiff: TSDB_DATA_TYPE_BOOL valid)
                a0 = f"cast({a0} as int)"
            elif dtypes and dtypes.get(a0, "").startswith("timestamp"):
                # diff(timestamp) = epoch-tick delta in the db precision
                # as BIGINT (builtinsimpl.c diffFunction TIMESTAMP case)
                a0 = f"(unix_micros({a0}){_EPOCH_FACTOR[_DB_PRECISION]})"
            elif dtypes and dtypes.get(a0) in ("tinyint", "smallint", "int"):
                # sub-bigint int diffs widen to BIGINT (reference output
                # type: INT_MAX - INT_MIN prints 4294967295, not a wrap)
                a0 = f"cast({a0} as bigint)"
            opt = int(unq(args[1])) if len(args) > 1 else 0
            # a FROM-subquery's ORDER BY drives the delta chain
            # (orderbyOtherTS: diff over `(select * … order by ts desc)`
            # runs in that presentation order); a composite PRIMARY KEY
            # tie-breaks the ts-merge (withPkTest: stb5 (ts, col1) pk)
            ord_spec = [F.col(ts_col), F.col(pk_col)] if pk_col else ts_col
            if _ACTIVE_SUB_ORDER:
                ord_spec = [
                    F.col(cn).desc() if dsc else F.col(cn)
                    for (cn, dsc) in _ACTIVE_SUB_ORDER
                ]
            elif pk_col:
                need_pk_dedup = True
            c, d_emit = indef.diff_parts(a0, ord_spec, keys, opt)
            # multi-diff rows are the UNION of each diff's emitted rows
            # (reference ignoreTest: diff(col1,3), diff(col2,0) emits
            # 5 rows) — OR'd below, then AND'd with non-diff emits
            diff_emits.append(d_emit)
        elif fn == "csum":
            # a FROM-subquery's ORDER BY drives the running order
            # (DEGRADED_TIMELINE_ROW_ORDER classification — csum is a
            # row-order func, builtins.c:4347)
            c = indef.csum(args[0], _sub_ord_or(ts_col), keys)
            add_emit(F.expr(args[0]).isNotNull())
        elif fn == "mavg":
            add_pref(F.expr(args[0]).isNotNull())
            c = indef.mavg(
                args[0], int(args[1]), _sub_ord_or(ts_col), keys
            )
            add_emit(c.isNotNull() & F.expr(args[0]).isNotNull())
        elif fn == "derivative":
            add_pref(F.expr(args[0]).isNotNull())
            # bare-integer time_interval = ticks in the db precision (ms)
            unit = unq(args[1])
            if re.fullmatch(r"\d+", unit):
                unit += "a"
            if pk_col and not _ACTIVE_SUB_ORDER:
                need_pk_dedup = True
            c = indef.derivative(
                args[0], unit, ts_col, keys,
                ignore_negative=len(args) > 2 and unq(args[2]) == "1",
                order_by=(
                    [F.col(cn).desc() if dsc else F.col(cn)
                     for (cn, dsc) in _ACTIVE_SUB_ORDER]
                    if _ACTIVE_SUB_ORDER else None
                ),
            )
            add_emit(c.isNotNull())
        elif fn == "statecount":
            c = indef.statecount(
                args[0], unq(args[1]), float(args[2]),
                _sub_ord_or(ts_col), keys,
            )
        elif fn == "fill_forward":
            # fill_forward(x) (v3.4.1 builtins.c:8187): per-row forward
            # fill — x when non-null, else the last non-null x in
            # timeline order; EVERY row emits. A FROM-subquery ORDER BY
            # drives the fill direction (DEGRADED_TIMELINE_ROW_ORDER).
            _ff_ord = [F.col(ts_col)]
            if _ACTIVE_SUB_ORDER:
                _ff_ord = [
                    F.col(cn).desc() if dsc else F.col(cn)
                    for (cn, dsc) in _ACTIVE_SUB_ORDER
                ]
            if pk_col and not _ACTIVE_SUB_ORDER:
                # composite-pk duplicate-ts rows: fill_forward keeps
                # the LAST pk row (test_pk_baseline.ans t_fill_dup:
                # row 0 is NULL, the pk=2 cell)
                need_pk_dedup = "last"
            _ff_w = _W.partitionBy(*keys).orderBy(*_ff_ord).rowsBetween(
                _W.unboundedPreceding, 0
            )
            c = F.last(F.expr(args[0]), ignorenulls=True).over(_ff_w)
        elif fn in ("lag", "lead"):
            # lag/lead(col[, offset[, default]]) (v3.4.0 selection
            # family): per-row offset lookup in ts order, EVERY row
            # emits; the default fills only out-of-bounds offsets
            off = args[1].strip() if len(args) > 1 else "1"
            dsql = f", {args[2]}" if len(args) > 2 else ""
            if (len(args) > 2
                    and dtypes
                    and dtypes.get(args[0], "").startswith("timestamp")
                    and re.fullmatch(r"[-+]?\d+", args[2].strip())):
                # an integer default against a TIMESTAMP column is an
                # epoch literal in the db precision
                dsql = f", {_epoch_lit_sql(args[2].strip())}"
            part = f"partition by {', '.join(keys)} " if keys else ""
            # a FROM-subquery's ORDER BY drives the offset direction
            # (same presentation-order rule as diff)
            if pk_col and not _ACTIVE_SUB_ORDER:
                need_pk_dedup = True
            osql = f"order by {ts_col}"
            if _ACTIVE_SUB_ORDER:
                osql = "order by " + ", ".join(
                    f"{cn} desc" if dsc else cn
                    for (cn, dsc) in _ACTIVE_SUB_ORDER
                )
            c = F.expr(
                f"{fn}({args[0]}, {off}{dsql}) over ({part}{osql})"
            )
        else:  # stateduration
            # default unit = one tick of the db precision (builtins.c
            # translateStateDuration: "default is db precision")
            dflt = {"ms": "1a", "us": "1u", "ns": "1b"}.get(_DB_PRECISION, "1a")
            c = indef.stateduration(
                args[0], unq(args[1]), float(args[2]),
                unq(args[3]) if len(args) > 3 else dflt, ts_col, keys,
            )
        cols.append(c.alias(alias))
    if diff_emits:
        du = diff_emits[0]
        for de in diff_emits[1:]:
            du = du | de
        add_emit(du)
    if any_indef and need_pk_dedup:
        # callable prefilter: first-pk-per-ts dedup needs a window
        # (row_number), which a plain .where() can't host — callers
        # apply callables as df transforms
        _bool_pref = prefilter

        def _pk_dedup(df, _b=_bool_pref):
            if _b is not None:
                df = df.where(_b)
            pk_ord = (
                F.col(pk_col).desc() if need_pk_dedup == "last"
                else F.col(pk_col)
            )
            wde = _W.partitionBy(*keys, ts_col).orderBy(pk_ord)
            return (
                df.withColumn("_pkrn", F.row_number().over(wde))
                .where(F.col("_pkrn") == 1)
                .drop("_pkrn")
            )

        prefilter = _pk_dedup
    return (cols, emit, prefilter) if any_indef else None


def _sel_anchor(items, ts_col):
    """Selection-function anchor for companion columns: plain columns
    may accompany ONE min/max/first/last/last_row item (first/last are
    already rewritten to min_by/max_by) and take their values from the
    selected row (builtins.c FUNC_MGT_SELECT_FUNC row semantics).
    Returns (pick_fn, key_sql) or None."""
    for it in items:
        body = re.sub(r"(?is)\s+as\s+(?:[A-Za-z_]\w*|`[^`]*`)\s*$", "", it).strip()
        m2 = re.match(r"(?i)^(min|max)\s*\(\s*([A-Za-z_]\w*)\s*\)$", body)
        if m2:
            fn, col = m2.group(1).lower(), m2.group(2)
            # rank field: non-null anchor rows always win, but an
            # all-NULL group still yields a companion row (reference
            # returns the row even when min/max itself is NULL)
            if fn == "min":
                return (
                    "min_by",
                    f"struct(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END,"
                    f" {col}, unix_micros({ts_col}))",
                )
            return (
                "max_by",
                f"struct(CASE WHEN {col} IS NULL THEN 0 ELSE 1 END,"
                f" {col}, -unix_micros({ts_col}))",
            )
        m3 = re.match(r"(?i)^(min_by|max_by)\s*\(", body)
        if m3 and body.endswith(")"):
            args = _split_select(body[m3.end():-1])
            if len(args) == 2:
                return (m3.group(1).lower(), args[1])
    return None


#: multi-row selection functions: each call EXPANDS to k rows per group
#: (builtins.c FUNC_MGT_ROWS_FUNC family) — companion items take their
#: values from the selected rows
_ROWSEL_ITEM_RE = re.compile(
    r"^(top|bottom|sample|tail|unique)\s*\(\s*(.*?)\s*\)"
    r"(?:\s+(?:as\s+)?([A-Za-z_]\w*))?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _match_rowsel(items):
    """(index, match) when exactly one select item is a multi-row
    selection call (top/bottom/sample/tail/unique), else None."""
    found = None
    for i, it in enumerate(items):
        m = _ROWSEL_ITEM_RE.match(it.strip())
        if m:
            if found is not None:
                return None
            found = (i, m)
    return found


def _translate_rowsel(base, items, found, keys, ts_col, pk_col=None):
    """SELECT [companions,] top(c,k) [, companions] … PARTITION BY keys:
    route through functions/selection.py row-expanding operators; the
    companion items read from the selected rows."""
    from tdengine_spark.functions import selection as S

    idx, m = found
    fn = m.group(1).lower()
    args = [a.strip() for a in _split_select(m.group(2))]
    alias = m.group(3)
    col0 = args[0]
    if args and not re.fullmatch(r"[A-Za-z_]\w*", args[0]) and not \
            re.fullmatch(r"[-+]?\d+(?:\.\d+)?", args[0]):
        # expression arg (`unique(t1+c1)`, `top(abs(c1), 3)`): the
        # kernels key on a COLUMN — materialize the expression first
        base = base.withColumn("_rs_expr", F.expr(args[0]))
        args = ["_rs_expr"] + args[1:]
    if fn in ("top", "bottom"):
        col = args[0]
        df = (S.top if fn == "top" else S.bottom)(
            base, col, int(args[1]), ts_col, keys
        )
    elif fn == "sample":
        col = args[0]
        if re.fullmatch(r"[-+]?\d+(?:\.\d+)?", col):
            # constant arg (`sample(123, 1)`): every row carries the
            # constant; project it under a stable name for the select
            base = base.withColumn("_sample_const", F.lit(float(col))
                                   if "." in col else F.lit(int(col)))
            col = "_sample_const"
        nn = F.expr(col).isNotNull()
        df = S.sample(base.where(nn), int(args[1]), keys)
        # a non-empty group with ZERO non-null values emits ONE NULL
        # row (builtinsimpl.c sampleFinalize: numSampled == 0 →
        # colDataSetNULL; companions come from the group's saved tuple)
        from pyspark.sql.window import Window as _W

        gw = _W.partitionBy(*keys) if keys else _W.partitionBy(F.lit(1))
        ordc = F.col(ts_col) if ts_col in base.columns else F.lit(1)
        allnull = (
            base.withColumn("_has", F.max(nn.cast("int")).over(gw))
            .where(F.col("_has") == 0)
            .withColumn("_rn", F.row_number().over(gw.orderBy(ordc)))
            .where(F.col("_rn") == 1)
            .drop("_has", "_rn")
        )
        df = df.unionByName(allnull)
    elif fn == "tail":
        col = args[0]
        df = S.tail(
            base, int(args[1]),
            int(args[2]) if len(args) > 2 else 0, ts_col, keys,
            pk_col=pk_col,
        )
    else:  # unique
        col = args[0]
        df = S.unique(base, col, ts_col, keys)
    sel = []
    for i, it in enumerate(items):
        if i == idx:
            nm = alias or f"{fn}_{col0}"[:64]
            sel.append(F.col(col).alias(nm))
            continue
        am = _ITEM_ALIAS_RE.match(it.strip())
        e = F.expr(am.group("expr"))
        sel.append(e.alias(am.group("alias")) if am.group("alias") else e)
    return df.select(*sel)


_ROWSEL_FNS = ("top", "bottom", "sample", "tail", "unique")


def _match_rowsel_multi(items):
    """(new_items, calls) when the select contains ≥2 multi-row
    selection calls, or a call nested inside a scalar expression
    (``sample(c1,100)+2``, ``abs(sample(c1,100))``) — the shapes the
    single-call companion path can't take. Every call is substituted
    with a placeholder column ``_rs{j}``; non-call items must be scalar
    expressions (no bare column companions here). None when no call."""
    calls: list = []
    new_items: list = []
    for it in items:
        txt = it
        for fn in _ROWSEL_FNS:
            def grab(a, fn=fn):
                calls.append((fn, a))
                return f"_rs{len(calls) - 1}"

            txt = _rewrite_call(txt, fn, grab)
        new_items.append(txt)
    if not calls:
        return None
    return new_items, calls


def _translate_rowsel_multi(base, matched, keys, ts_col, pk_col=None):
    """N multi-row selection calls zip positionally per group: each
    call expands to its own k rows; row i of each joins into output row
    i (reference rows-func lockstep — test_fun_ts_sample.py:763
    ``select top(c1,2), sample(c1,2)`` returns 2 rows). Scalar wrappers
    apply to the placeholder columns after the zip."""
    from pyspark.sql.window import Window as _W

    from tdengine_spark.functions import selection as S

    new_items, calls = matched
    joined = None
    for j, (fn, args) in enumerate(calls):
        col = args[0]
        if fn in ("top", "bottom"):
            df = (S.top if fn == "top" else S.bottom)(
                base, col, int(args[1]), ts_col, keys
            )
        elif fn == "sample":
            df = S.sample(
                base.where(F.expr(col).isNotNull()), int(args[1]), keys
            )
        elif fn == "tail":
            df = S.tail(
                base, int(args[1]),
                int(args[2]) if len(args) > 2 else 0, ts_col, keys,
                pk_col=pk_col,
            )
        else:  # unique
            df = S.unique(base, col, ts_col, keys)
        nm = f"_rs{j}"
        d = df.select(*keys, F.expr(col).alias(nm),
                      F.col(ts_col).alias("_rts"))
        parts = [F.col(k) for k in keys] if keys else [F.lit(1)]
        # rank each call's rows by ITS OWN presentation order (the
        # reference zips in emission order): top prints values
        # ascending / bottom descending (topBotFinalize heap layout),
        # tail sorts ts ascending (tailFinalize builtinsimpl.c:7235),
        # unique emits first occurrences in ts order; sample is random
        # — any deterministic rank reproduces "a" lockstep
        if fn == "bottom":
            emit = [F.col(nm).desc(), F.col("_rts").asc()]
        elif fn in ("tail", "unique"):
            emit = [F.col("_rts").asc()]
        else:  # top, sample
            emit = [F.col(nm).asc(), F.col("_rts").asc()]
        d = d.withColumn(
            "_ri",
            F.row_number().over(_W.partitionBy(*parts).orderBy(*emit)),
        ).drop("_rts")
        joined = d if joined is None else joined.join(
            d, keys + ["_ri"], "full"
        )
    sel = []
    for i, it in enumerate(new_items):
        am = _ITEM_ALIAS_RE.match(it.strip())
        e = F.expr(am.group("expr")) if am else F.expr(it)
        alias = am.group("alias") if am else None
        sel.append(e.alias(alias) if alias else e)
    # reference lockstep output is ordered (group, emission row)
    return joined.orderBy(*keys, "_ri").select(*sel)


def _collect_groupfn_calls(items):
    """Balanced-paren collection of twa()/irate() calls in the select
    items — the arg may be any scalar expression, including ones an
    earlier rewrite wrapped in casts (`twa(cast(c1 as double)+…)`)."""
    calls = set()
    for it in items:
        for fn in ("twa", "irate"):
            def grab(a, fn=fn):
                calls.add((fn, ", ".join(a)))
                return f"{fn}({', '.join(a)})"  # leave text unchanged

            _rewrite_call(it, fn, grab)
    return sorted(calls)


def _add_modecnt_cols(base, items, gkeys):
    """cols(mode(x), …) selectors rewrite to max_by over a per-group
    value-count column ``__modecnt_x__`` (see cols_fn in _rewrite_aggs).
    Append that window pre-pass column for every distinct x referenced —
    partitioned by the group keys (empty for a global aggregate) plus x.
    Shared by the grouped, global-aggregate, and join projection paths."""
    for _mc in {m for it in items
                for m in re.findall(r"__modecnt_(\w+)__", it)}:
        if _mc in base.columns and f"__modecnt_{_mc}__" not in base.columns:
            from pyspark.sql.window import Window as _W

            base = base.withColumn(
                f"__modecnt_{_mc}__",
                F.when(
                    F.col(_mc).isNotNull(),
                    F.count(F.lit(1)).over(_W.partitionBy(
                        *[F.expr(k) for k in gkeys], F.col(_mc)
                    )),
                ),
            )
    return base


def _prepare_groupfns(base, items, keys, ts_col, bucket=None,
                      bucket_end=None, pk_col=None):
    """Rewrite twa()/irate() calls into plain aggregate expressions over
    helper columns appended to ``base`` (builtins.c twaFunction:4008 /
    irateFunction:3645). The helpers need one lag pre-pass partitioned
    by (keys, window-bucket) in ts order; the rewritten item is then an
    ordinary aggregate, freely combinable with avg/count/… in the same
    groupBy. Returns (base, items) unchanged when no call is present."""
    calls = _collect_groupfn_calls(items)
    if not calls:
        return base, items
    from pyspark.sql.window import Window as _W

    parts = [F.expr(k) for k in keys] if keys else []
    if bucket is not None:
        parts = parts + [bucket]
    w = (_W.partitionBy(*parts) if parts else _W.partitionBy(F.lit(1))
         ).orderBy(ts_col)
    wprev = w.rowsBetween(_W.unboundedPreceding, -1)
    t = F.unix_micros(F.col(ts_col)).cast("double")
    if pk_col is not None and pk_col in base.columns:
        # composite-pk duplicate-ts rows: twa/irate integrate over the
        # FIRST pk row per ts (test_pk_baseline.ans: twa over t_dup =
        # 20, the (10,20,30) chain) — later-pk rows are masked to NULL
        # samples, which the helper chains already skip; other
        # aggregates in the same select still see every row
        _wpk = (
            _W.partitionBy(*(parts + [F.col(ts_col)]))
            if parts else _W.partitionBy(F.col(ts_col))
        ).orderBy(pk_col)
        base = base.withColumn(
            "_pkfirst", F.row_number().over(_wpk) == 1
        )
    newcols, mapping = [], {}
    for i, (fn, col) in enumerate(calls):
        v = F.expr(col).cast("double")
        if pk_col is not None and "_pkfirst" in base.columns:
            v = F.when(F.col("_pkfirst"), v)
        tn = F.when(v.isNotNull(), t)
        prev_t = F.last(tn, ignorenulls=True).over(wprev)
        prev_v = F.last(F.when(v.isNotNull(), v), ignorenulls=True).over(wprev)
        if fn == "twa" and bucket is not None and bucket_end is not None:
            # windowed twa (twaFunction + interval): integrate over the
            # WINDOW span, interpolating the series at window boundaries
            # from the neighboring samples — the lag/lead pass crosses
            # buckets (keys-only partition), the area is clipped to the
            # bucket
            wk = (_W.partitionBy(*[F.expr(k) for k in keys])
                  if keys else _W.partitionBy(F.lit(1))).orderBy(ts_col)
            wk_prev = wk.rowsBetween(_W.unboundedPreceding, -1)
            # next-sample tracker as a reverse-ordered growing frame
            # (strictly-later rows): O(n) per key vs the O(n²)
            # re-aggregated 1→unboundedFollowing shrinking frame
            wk_next = (_W.partitionBy(*[F.expr(k) for k in keys])
                       if keys else _W.partitionBy(F.lit(1))).orderBy(
                F.col(ts_col).desc()
            ).rowsBetween(_W.unboundedPreceding, -1)
            p_t = F.last(tn, ignorenulls=True).over(wk_prev)
            p_v = F.last(F.when(v.isNotNull(), v), ignorenulls=True).over(wk_prev)
            n_t = F.last(tn, ignorenulls=True).over(wk_next)
            n_v = F.last(F.when(v.isNotNull(), v), ignorenulls=True).over(wk_next)
            ws = F.unix_micros(bucket).cast("double")
            # reference windows are [skey, ekey] INCLUSIVE with
            # ekey = skey + interval - 1 tick (getTimeWindow): the
            # end-boundary interpolation targets ekey, not the
            # exclusive end (twaFinalize divides by ekey - skey)
            _tick = {"ms": 1000.0, "us": 1.0, "ns": 0.001}[_DB_PRECISION]
            we = F.unix_micros(bucket_end).cast("double") - F.lit(_tick)
            s = F.greatest(p_t, ws)
            vs = p_v + (v - p_v) * (s - p_t) / (t - p_t)
            area_in = F.when(
                v.isNotNull() & p_t.isNotNull() & (t > p_t),
                (vs + v) / 2.0 * (t - s),
            ).otherwise(0.0)
            tail = v.isNotNull() & n_t.isNotNull() & (n_t >= we)
            ve = v + (n_v - v) * (we - t) / (n_t - t)
            area_tail = F.when(tail & (n_t > t), (v + ve) / 2.0 * (we - t)
                               ).otherwise(0.0)
            start_pt = F.when(
                v.isNotNull(), F.when(p_t.isNotNull(), s).otherwise(t))
            end_pt = F.when(
                v.isNotNull(), F.when(tail, we).otherwise(t))
            newcols += [
                v.alias(f"_twa_v{i}"),
                (area_in + area_tail).alias(f"_twa_a{i}"),
                start_pt.alias(f"_twa_s{i}"),
                end_pt.alias(f"_twa_e{i}"),
                tn.alias(f"_twa_t{i}"),
            ]
            mapping[(fn, col)] = (
                f"(CASE WHEN count(_twa_v{i}) = 0 THEN NULL "
                f"WHEN max(_twa_e{i}) > min(_twa_s{i}) "
                f"THEN sum(_twa_a{i}) / (max(_twa_e{i}) - min(_twa_s{i})) "
                f"ELSE min_by(_twa_v{i}, _twa_t{i}) END)"
            )
        elif fn == "twa":
            area = F.when(
                v.isNotNull() & prev_t.isNotNull(),
                (v + prev_v) / 2.0 * (t - prev_t),
            ).otherwise(0.0)
            newcols += [
                tn.alias(f"_twa_t{i}"), v.alias(f"_twa_v{i}"),
                area.alias(f"_twa_a{i}"),
            ]
            mapping[(fn, col)] = (
                f"(CASE WHEN count(_twa_v{i}) = 0 THEN NULL "
                f"WHEN max(_twa_t{i}) > min(_twa_t{i}) "
                f"THEN sum(_twa_a{i}) / (max(_twa_t{i}) - min(_twa_t{i})) "
                f"ELSE min_by(_twa_v{i}, _twa_t{i}) END)"
            )
        else:  # irate: rate from the last two non-null samples
            s = F.when(
                v.isNotNull(),
                F.struct(
                    t.alias("t"), v.alias("v"),
                    prev_t.alias("pt"), prev_v.alias("pv"),
                ),
            )
            newcols.append(s.alias(f"_ir{i}"))
            sN = f"max_by(_ir{i}, _ir{i}.t)"
            mapping[(fn, col)] = (
                f"(CASE WHEN count(_ir{i}) = 0 THEN NULL "
                f"WHEN {sN}.pt IS NULL THEN 0.0D "
                f"ELSE (CASE WHEN {sN}.v >= {sN}.pv "
                f"THEN {sN}.v - {sN}.pv ELSE {sN}.v END) "
                f"/ (({sN}.t - {sN}.pt) / 1e6) END)"
            )
    base = base.select("*", *newcols)

    def rep(it):
        for fn in ("twa", "irate"):
            it = _rewrite_call(
                it, fn, lambda a, fn=fn: mapping[(fn, ", ".join(a))]
            )
        return it

    return base, [rep(it) for it in items]


def _view_exists(spark: SparkSession, name: str) -> bool:
    try:
        return spark.catalog.tableExists(name)
    except Exception:
        return False


def _split_select(select: str) -> list[str]:
    """Depth-0 comma items, stripped, empty ones dropped."""
    return [t for p in _split_depth0(select) if (t := p.strip())]


_AGG_RE = re.compile(
    r"\b(count|sum|avg|min|max|stddev|stddev_pop|stddev_samp|var_pop|var_samp|"
    r"percentile|percentile_approx|approx_count_distinct|max_by|min_by|corr|"
    r"mode|collect_list|collect_set|twa|irate)\s*\(",
    re.IGNORECASE,
)


def _has_agg(item: str) -> bool:
    return bool(_AGG_RE.search(item))


_AGG_CALL_RE = re.compile(
    r"\b(count|sum|avg|min|max|stddev|stddev_pop|stddev_samp|var_pop|"
    r"var_samp|percentile|percentile_approx|approx_count_distinct|max_by|"
    r"min_by|corr|mode|collect_list|collect_set|twa|irate|first|last|"
    r"last_row|spread|elapsed)\s*\(",
    re.IGNORECASE,
)

_PSEUDO_REF_RE = re.compile(
    r"\b(_wstart|_wend|_wduration|_qstart|_qend|_irowts)\b", re.IGNORECASE
)


def _extract_agg_calls(
    body: str, registry: "dict[str, str]"
) -> "tuple[str, list[tuple[str, str]]]":
    """Replace every aggregate-function call in ``body`` with a
    placeholder identifier; returns (rewritten body, [(placeholder,
    call_text), …] for the NEW placeholders). Used to split MIXED
    expressions like ``timediff(_wend, last(ts))``: the aggregate parts
    compute in the groupBy under the placeholders, the full expression
    evaluates post-aggregation where the window pseudo-columns exist
    (the reference plans these as a projection over the window
    operator). ``registry`` maps call text → placeholder across items so
    repeated calls aggregate once."""
    new_pairs: list[tuple[str, str]] = []
    res = []
    i = 0
    for m, _ in _scan(body, _AGG_CALL_RE):
        if m.start() < i:  # nested in the call just taken
            continue
        j = _close_paren(body, m.end() - 1)
        if j < 0:
            j = len(body)
        call = body[m.start():j]
        key = re.sub(r"\s+", "", call).lower()
        name = registry.get(key)
        if name is None:
            name = f"__agg{len(registry)}"
            registry[key] = name
            new_pairs.append((name, call))
        res.append(body[i:m.start()])
        res.append(name)
        i = j
    res.append(body[i:])
    return "".join(res), new_pairs


def _is_plain_col(item: str, keys: list[str]) -> bool:
    return item.strip() in keys
