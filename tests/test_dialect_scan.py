"""The dialect's one depth-0 scanner (``_scan``) and every helper that
splits or spans text through it. Pure Python: no Spark session.

The lexical rule under test: ``'…'`` and ``"…"`` literals and backtick
identifiers are opaque (an unterminated one runs to the end of the text)
and ``(``/``)`` count depth."""

import re

import pytest

from tdengine_spark import dialect as D

# one opaque span of each kind, each holding every character a scan
# could mistake for structure
SQ, DQ, BT = "'a, (b) AND c OR d)'", '"a, (b) AND c OR d)"', "`a, (b) AND c OR d)`"


@pytest.mark.parametrize("text, pat, want", [
    # hits outside quotes, each with the depth at the hit
    ("a, f(b, g(c)), d", ",", [(",", 0), (",", 1), (",", 0)]),
    (f"x, {SQ}, {DQ}, {BT}", ",", [(",", 0)] * 3),
    ("a, 'b, c", ",", [(",", 0)]),  # unterminated: runs to the end
    ("a), b", ",", [(",", -1)]),  # a stray ) takes depth below 0
    # parens inside a hit count after it
    ("f(x), g(y), z", r"\w+\(", [("f(", 0), ("g(", 0)]),
    # with no pattern: each paren, at the depth outside it
    ("(a(')')b)", None, [("(", 0), ("(", 1), (")", 1), (")", 0)]),
])
def test_scan(text, pat, want):
    assert [(m.group(), d) for m, d in D._scan(text, pat)] == want


def test_scan_from_start_and_compiled_flags():
    pat = re.compile(r"\bor\b", re.IGNORECASE)
    assert [m.start() for m, _ in D._scan("or x OR y", pat, 1)] == [5]


@pytest.mark.parametrize("text, lo, want", [
    ("f(a(b)c) d", 1, 8),
    ("f(a, ')', \")\", `)`) d", 1, 19),
    ("(a", 0, -1),
    ("(a ')", 0, -1),  # the ) is inside an unterminated quote
])
def test_close_paren(text, lo, want):
    assert D._close_paren(text, lo) == want


@pytest.mark.parametrize("text, want", [
    ("a, f(b, c), 'd, e'", ["a", " f(b, c)", " 'd, e'"]),
    (f"{DQ},{BT}", [DQ, BT]),
    ("a,,b,", ["a", "", "b", ""]),
])
def test_split_depth0(text, want):
    assert D._split_depth0(text) == want


@pytest.mark.parametrize("text, want", [
    ("ts, avg(v), count(*)", ["ts", "avg(v)", "count(*)"]),
    ("f(g(a, b), c), d", ["f(g(a, b), c)", "d"]),
    (f"{SQ}, {DQ}, {BT}", [SQ, DQ, BT]),
    ("'2024-01-01 00:01:00', \"c,d\", 2", ["'2024-01-01 00:01:00'",
                                          '"c,d"', "2"]),
    ("\"it's\", 3", ['"it\'s"', "3"]),
    ("a, 'b, c", ["a", "'b, c"]),
    (" a ,, b ,", ["a", "b"]),  # empty items drop
    ("f(a, b", ["f(a, b"]),  # unbalanced: one item
])
def test_split_select(text, want):
    assert D._split_select(text) == want


@pytest.mark.parametrize("text, want", [
    ("(1, 'a,b')(2, \"c,d\"), (3, \"it's\")",
     [[1, "a,b"], [2, "c,d"], [3, "it's"]]),
    ("(1, ')')", [[1, ")"]]),
    ("(1, '(')(2, ')')", [[1, "("], [2, ")"]]),
    ("(1, 2", []),  # unclosed group: nothing
    ("1) (2)", []),  # a stray ) leaves the rest below depth 0
])
def test_split_value_groups(text, want):
    assert D._split_value_groups(text) == want


@pytest.mark.parametrize("text, want", [
    ("d0 VALUES (1, 2) d1 VALUES (3, 4)(5, 6)",
     ["d0 VALUES (1, 2)", "d1 VALUES (3, 4)(5, 6)"]),
    ("d0 USING st TAGS (1, \"x) y\") VALUES (1) "
     "d1 USING st (t) TAGS ('a') (ts, v) VALUES (2)\td2 VALUES(3)",
     ["d0 USING st TAGS (1, \"x) y\") VALUES (1)",
      "d1 USING st (t) TAGS ('a') (ts, v) VALUES (2)", "d2 VALUES(3)"]),
    ("d0 VALUES (1, ') d1 VALUES (2)')", ["d0 VALUES (1, ') d1 VALUES (2)')"]),
    ("db.d0 VALUES (1)db.d1 VALUES (2)", ["db.d0 VALUES (1)", "db.d1 VALUES (2)"]),
    ("d0 VALUES (1, (2) d1 VALUES (3)", ["d0 VALUES (1, (2) d1 VALUES (3)"]),
])
def test_split_depth0_segments(text, want):
    assert D._split_depth0_segments(text) == want


@pytest.mark.parametrize("text, want", [
    ("a = 1 AND b = 2", ["a = 1", "b = 2"]),
    ("a = 1 and (b = 2 and c = 3)", ["a = 1", "(b = 2 and c = 3)"]),
    ("x between 1 and 3 and y = 2", ["x between 1 and 3", "y = 2"]),
    ("(x between 1 and 3) and (y between 4 and 5 and z = 1)",
     ["(x between 1 and 3)", "(y between 4 and 5 and z = 1)"]),
    (f"c = {SQ} and d = {DQ} and e = {BT}",
     [f"c = {SQ}", f"d = {DQ}", f"e = {BT}"]),
    ("a = 'x and y", ["a = 'x and y"]),
    ("a and (b and c", ["a", "(b and c"]),
    ("a\nAND\tb", ["a", "b"]),
])
def test_split_top_and(text, want):
    assert D._split_top_and(text) == want


@pytest.mark.parametrize("text, want", [
    ("a or b", ["a", "b"]),  # one space each side goes with the OR
    ("a  or  b", ["a ", " b"]),
    ("a\nor b\tOR\tc", ["a\n", "b\t", "\tc"]),
    ("(a)or(b)", ["(a)", "(b)"]),
    ("(a or b) or c", ["(a or b)", "c"]),
    (f"x = {SQ} or y = {DQ} or {BT}", [f"x = {SQ}", f"y = {DQ}", BT]),
    ("color = 'r or g'", ["color = 'r or g'"]),
    ("orders = 1 or floor(x) = 2", ["orders = 1", "floor(x) = 2"]),
    ("a or (b", ["a", "(b"]),
])
def test_split_top_or(text, want):
    assert D._split_top_or(text) == want


@pytest.mark.parametrize("text, want", [
    ("select a from t union all select b from u",
     (["select a from t", "select b from u"], [True], {})),
    ("(select a from t) union (select b from u) union all select c from v "
     "order by a slimit 2 limit 5",
     (["select a from t", "select b from u", "select c from v"],
      [False, True], {"order": "a", "slimit": "2", "limit": "5"})),
    ("select a from (select x from t union all select y from u) w "
     "where c = 'union all'", None),
    ('select "union all" from t', None),
    ("select a from t union all select b from u order by (a) limit 1;",
     (["select a from t", "select b from u"], [True],
      {"order": "(a)", "limit": "1"})),
])
def test_split_top_union(text, want):
    assert D._split_top_union(text) == want


@pytest.mark.parametrize("text, want", [
    ("select a from t order by a limit 2",
     ("select a from t", {"order": "a", "limit": "2"})),
    ("select a from (select b from u order by b) w slimit 3",
     ("select a from (select b from u order by b) w", {"slimit": "3"})),
    ("select a from t where c = 'limit 1'", (
        "select a from t where c = 'limit 1'", {})),
    ("select a from t limit x", ("select a from t limit x", {})),
])
def test_split_trailing_clauses(text, want):
    assert D._split_trailing_clauses(text) == want


@pytest.mark.parametrize("text, want", [
    ("(select 1)", "select 1"),
    ("((select 1));", "select 1"),
    ("(a) union (b)", "(a) union (b)"),
    ("(a ')')", "a ')'"),
    ("(abc", "ab"),  # unbalanced: first and last character go
])
def test_strip_outer_parens(text, want):
    assert D._strip_outer_parens(text) == want


@pytest.mark.parametrize("kw", [
    "WHERE", "GROUP BY a", "ORDER BY a", "LIMIT 1", "SLIMIT 1", "HAVING 1",
    "UNION ALL select 1", "INTERVAL(1s)", "SESSION(ts, 1s)",
    "STATE_WINDOW(a)", "EVENT_WINDOW start with a", "COUNT_WINDOW(2)",
    "PARTITION BY a", "FILL(null)", "RANGE('a', 'b')", "EVERY(1s)",
    "ANOMALY_WINDOW(a)", "EXTERNAL_WINDOW((select 1) w)", "ON x", "INNER",
    "LEFT", "RIGHT", "FULL", "JOIN", "ASOF", "WINDOW",
])
def test_extract_from_subquery_alias_before_each_keyword(kw):
    sql = f"select * from (select f(a), b from t) {kw}"
    inner, lo, hi, alias = D._extract_from_subquery(sql)
    assert inner == "select f(a), b from t"
    assert alias is None and sql[lo:hi] == "(select f(a), b from t)"
    sql = f"select * from (select f(a) from t) as w {kw}"
    inner, lo, hi, alias = D._extract_from_subquery(sql)
    assert alias == "w" and sql[lo:hi] == "(select f(a) from t) as w"


def test_extract_from_subquery_quotes_and_unbalanced():
    sql = "select * from (select ')', \"(\" from t) w where x"
    assert D._extract_from_subquery(sql) == (
        "select ')', \"(\" from t", 14, 40, "w"
    )
    assert D._extract_from_subquery("select * from (select a from t") is None
    assert D._extract_from_subquery("select * from t") is None


@pytest.mark.parametrize("where, want", [
    ("tbname = 'c2'", ["c2"]),
    ("tbname in ('a,b', 'c') and v > 1", ["a,b", "c"]),
    ("v > 1 and tbname in ('a', 'b')", ["a", "b"]),
    ("tbname = 'a' or tbname = 'b'", None),  # depth-0 OR
    ("tbname = 'a'\nor v > 1", None),
    ("tbname = 'a' and (v > 1 or v < 0)", ["a"]),
    ("tbname = 'a' and c = 'x or y'", ["a"]),
    ("tbname in ('a', b)", None),
])
def test_pinned_tbnames(where, want):
    assert D._pinned_tbnames(where) == want


@pytest.mark.parametrize("text, want", [
    ("v > 1 interval(1s)", True),
    ("v > 1\ngroup by a", True),
    ("v > 1 and fill(null)", True),
    ("v in (select a from t interval(1s)) and x = 1", False),
    ("c = 'a group by b'", False),
    ('c = "a group by b"', False),
    ("c = `group by`", False),
    ("my_interval(1) > 0", False),
    ("c = 'unterminated interval(1s)", False),
    ("(v > 1 interval(1s)", False),
])
def test_has_clause_tail(text, want):
    assert D._has_clause_tail(text) is want


@pytest.mark.parametrize("sql, want", [
    ("select a.ts, count(*) from t1 a, t2 b where a.ts = b.ts "
     "and x = 'interval(' interval(1s)",
     ("a.ts, count(*)", "t1 a, t2 b where a.ts = b.ts and x = 'interval('",
      "interval(1s)", "a.ts")),
    ("select count(*) from t1 a join (select ts from t interval(1s)) b "
     "on a.ts = b.ts", None),
    ("select count(*) from t1 a, t2 b\nsession(a.ts, 1s)",
     ("count(*)", "t1 a, t2 b", "session(a.ts, 1s)", None)),
    ("select count(*) from t1 intervals", None),
])
def test_split_join_window_tail(sql, want):
    assert D._split_join_window_tail(sql) == want


@pytest.mark.parametrize("expr, want", [
    ("timetruncate(ts, 1a) / 1000",
     "(unix_micros(timetruncate(ts, 1a)) div 1000) / 1000"),
    ("timetruncate(timetruncate(ts, 1s), 1m) * 2",
     "(unix_micros(timetruncate(timetruncate(ts, 1s), 1m)) div 1000) * 2"),
    ("timetruncate(ts, 1s) + 1", "timetruncate(ts, 1s) + 1"),
    ("'timetruncate(ts, 1s) / 2'", "'timetruncate(ts, 1s) / 2'"),
    ("timetruncate(ts, 1s / 2", "timetruncate(ts, 1s / 2"),
])
def test_wrap_ts_mul_div(monkeypatch, expr, want):
    monkeypatch.setattr(D, "_DB_PRECISION", "ms")
    assert D._wrap_ts_mul_div(expr) == want


@pytest.mark.parametrize("s, want", [
    ("spread(round(v, 2)) + Spread (x)", "R[round(v, 2)] + R[x]"),
    ("spread(spread(v))", "R[spread(v)]"),
    ("'spread(v)', \"spread(v)\", `spread(v)`",
     "'spread(v)', \"spread(v)\", `spread(v)`"),
    ("spread(',)', v)", "R[',)'|v]"),
    ("myspread(v)", "myspread(v)"),
    ("spread(a) + spread(b", "R[a] + spread(b"),  # unbalanced tail stays
])
def test_rewrite_call(s, want):
    assert D._rewrite_call(s, "spread", lambda a: f"R[{'|'.join(a)}]") == want


@pytest.mark.parametrize("text, want", [
    ("(select (a) from t) as x where", ("(select (a) from t)", "x", " where")),
    ("(select ')' from t) x", ("(select ')' from t)", "x", "")),
    ("t1 a join t2", ("t1", "a", " join t2")),
    ("t1 on x", ("t1", None, " on x")),
    ("(select a from t", ("(select a from t", None, "")),  # unbalanced
])
def test_take_operand(text, want):
    assert D._take_operand(text) == want


@pytest.mark.parametrize("hv, want", [
    ("SUM( x ) > 3 and abs(avg(y)) < 2", "`c0` > 3 and abs(`c1`) < 2"),
    ("sum(x) > 'sum(x)'", "`c0` > 'sum(x)'"),
    ("`sum(x)` > 1", "`sum(x)` > 1"),
    ("mysum(x) > 1", "mysum(x) > 1"),
    ("sum(x", "sum(x"),
])
def test_subst_agg_refs(hv, want):
    assert D._subst_agg_refs(hv, [("sum(x)", "c0"), ("avg(y)", "c1")]) == want


def test_extract_indef_calls():
    items, calls = D._extract_indef_calls([
        "abs(diff(x, 0))", "lag(v) over (order by ts)", "csum(diff(v))",
        "'diff(v)'", "mavg(v, 2",
    ])
    assert items == [
        "abs(_indef_0)", "lag(v) over (order by ts)", "_indef_1",
        "'diff(v)'", "_indef_2",
    ]
    assert calls == [
        ("_indef_0", "diff(x, 0)"), ("_indef_1", "csum(diff(v))"),
        ("_indef_2", "mavg(v, 2"),
    ]


def test_extract_agg_calls():
    reg: dict = {}
    body, new = D._extract_agg_calls(
        "timediff(_wend, last(ts)) + count(*) - COUNT( * ) || 'sum(v)'", reg
    )
    assert body == "timediff(_wend, __agg0) + __agg1 - __agg1 || 'sum(v)'"
    assert new == [("__agg0", "last(ts)"), ("__agg1", "count(*)")]
    body, new = D._extract_agg_calls("sum(max(v)) + count(*) + avg(v", reg)
    assert body == "__agg2 + __agg1 + __agg3"
    assert new == [("__agg2", "sum(max(v))"), ("__agg3", "avg(v")]


@pytest.mark.parametrize("where, want", [
    ("ts >= '2024-01-01 00:00:00' and ts < '2024-01-02 00:00:00'",
     (1704067200000000, 1704153600000000)),
    # an OR after a newline, a tab or between parens is still an OR
    ("ts >= '2024-01-03 00:00:00' and ts < '2024-01-03 12:00:00'\nor "
     "ts >= '2024-01-01 00:00:00' and ts < '2024-01-01 12:00:00'",
     (1704067200000000, 1704283200000000)),
    ("(ts >= '2024-01-03 00:00:00' and ts < '2024-01-03 12:00:00')or("
     "ts >= '2024-01-01 00:00:00' and ts < '2024-01-01 12:00:00')",
     (1704067200000000, 1704283200000000)),
    ("ts between '2024-01-01 00:00:00' and '2024-01-02 00:00:00' "
     "and ts < '2024-01-01 12:00:00'", (None, 1704110400000000)),
    ("c = 'x and ts < 5'", None),
])
def test_ts_bounds(monkeypatch, where, want):
    monkeypatch.setattr(D, "_session_tzinfo", lambda: None)
    assert D._ts_bounds(where, "ts") == want


def test_join_cond_parse():
    assert D._join_cond_parse(
        "a.ts >= b.ts AND a.k = b.k\nand a.j = b.j", "a", "b", "ts"
    ) == (["k", "j"], ">=")
    with pytest.raises(ValueError, match="unsupported join conjunct"):
        D._join_cond_parse("(a.k = b.k and a.ts = b.ts)", "a", "b", "ts")
