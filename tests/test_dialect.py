"""TDengine-SQL dialect translator: the queries a reference user would
paste in, checked against DataFrame equivalents on real testdata."""

from pyspark.sql import functions as F

from tdengine_spark.catalog import Database
from tdengine_spark.dialect import translate

SF = "/root/testdata/sf0.001"


def _db():
    return Database(root=SF)


def test_interval_partition_by(spark):
    out = translate(
        spark,
        _db(),
        "SELECT _wstart, event_type, count(*) as cnt, "
        "round(avg(value), 4) as avg_v "
        "FROM events PARTITION BY event_type INTERVAL(1h)",
    )
    expect = (
        Database(root=SF).read(spark, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("w"), "event_type")
        .count()
    )
    assert out.count() == expect.count()
    assert set(out.columns) >= {"_wstart", "event_type", "cnt", "avg_v"}


def test_interval_fill_prev_sql(spark):
    out = translate(
        spark,
        _db(),
        "SELECT _wstart, event_type, round(avg(value),4) as v FROM events "
        "PARTITION BY event_type INTERVAL(1h) FILL(prev)",
    )
    # filled spine: contiguous buckets per type
    per_type = out.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        ((F.unix_micros(F.max("_wstart")) - F.unix_micros(F.min("_wstart")))
         / 3600_000_000 + 1).alias("span"),
    )
    assert per_type.where(F.col("n") != F.col("span")).count() == 0


def test_session_window_sql(spark):
    out = translate(
        spark,
        _db(),
        "SELECT count(*) as n FROM events PARTITION BY user_id SESSION(ts, 30m)",
    )
    from tdengine_spark.operators.eventwindow import (
        assign_session_windows,
        window_agg,
    )

    expect = window_agg(
        assign_session_windows(
            Database(root=SF).read(spark, "events"), "ts", "30m", ["user_id"]
        ),
        "ts",
        [F.count(F.lit(1)).alias("n")],
        ["user_id"],
    )
    assert out.count() == expect.count()


def test_where_json_and_match(spark):
    out = translate(
        spark,
        _db(),
        "SELECT event_id, value FROM events "
        "WHERE props->'k' = '12' AND event_type MATCH '^(purch|click)'",
    )
    rows = out.collect()
    assert len(rows) > 0
    base = Database(root=SF).read(spark, "events")
    expect = base.where(
        (F.get_json_object("props", "$.k") == "12")
        & F.col("event_type").rlike("^(purch|click)")
    ).count()
    assert len(rows) == expect


def test_group_by_tag_with_dialect_aggs(spark):
    out = translate(
        spark,
        _db(),
        "SELECT round(spread(value), 4) as sp, count(*) as n, "
        "round(elapsed(ts), 4) as el FROM events GROUP BY event_type",
    )
    rows = {r.asDict().get("event_type", i): r for i, r in enumerate(out.collect())}
    assert len(rows) == 5
    for r in rows.values():
        assert r.sp > 0 and r.el > 0 and r.n > 0


def test_last_first_rewrites(spark):
    out = translate(
        spark,
        _db(),
        "SELECT user_id, last(value) as lv, first(value) as fv, "
        "last_row(event_id) as le "
        "FROM events GROUP BY user_id",
    )
    base = Database(root=SF).read(spark, "events")
    expect = base.groupBy("user_id").agg(
        F.max_by("value", "ts").alias("lv"),
        F.min_by("value", "ts").alias("fv"),
        F.max_by("event_id", "ts").alias("le"),
    )
    j = out.join(expect.withColumnRenamed("lv", "lv2").withColumnRenamed(
        "fv", "fv2").withColumnRenamed("le", "le2"), "user_id")
    assert j.where(
        (F.col("lv") != F.col("lv2")) | (F.col("fv") != F.col("fv2"))
        | (F.col("le") != F.col("le2"))
    ).count() == 0


def test_order_slimit_limit(spark):
    out = translate(
        spark,
        _db(),
        "SELECT user_id, count(*) as n FROM events PARTITION BY user_id "
        "SESSION(ts, 1h) SLIMIT 3 LIMIT 10",
    )
    rows = out.collect()
    # LIMIT under PARTITION BY is per-partition (reference semantics)
    assert len(rows) <= 30
    from collections import Counter

    assert max(Counter(r.user_id for r in rows).values()) <= 10
    assert out.select("user_id").distinct().count() <= 3


def test_plain_sql_passthrough(spark):
    Database(root=SF).read(spark, "events").createOrReplaceTempView("ev_v")
    out = translate(
        spark, _db(), "SELECT event_type, count(*) AS n FROM ev_v GROUP BY 1 -- std"
    )
    assert out.count() == 5


# --- dispatch paths that previously raised NameError (round-3 fix) ------


def test_asof_join_sql(spark):
    out = translate(
        spark,
        _db(),
        "SELECT l.ts, l.value, r.ts as r_ts, r.value as r_value "
        "FROM events l ASOF JOIN events r "
        "ON l.ts > r.ts AND l.user_id = r.user_id JLIMIT 1",
    )
    from tdengine_spark.operators.asofjoin import asof_join

    base = Database(root=SF).read(spark, "events")
    expect = asof_join(
        base, base, ["user_id"], ts_col="ts", direction="backward", strict=True
    ).select("ts", "value", "r_ts", "r_value")
    assert out.count() == expect.count()
    assert out.exceptAll(expect).count() == 0


def test_asof_join_sql_forward_jlimit(spark):
    out = translate(
        spark,
        _db(),
        "SELECT l.ts, r.ts as r_ts FROM events l ASOF JOIN events r "
        "ON l.ts <= r.ts AND l.user_id = r.user_id JLIMIT 2",
    )
    n_left = Database(root=SF).read(spark, "events").count()
    # every left row appears; matched rows fan out to <= 2
    assert n_left <= out.count() <= 2 * n_left
    assert set(out.columns) == {"ts", "r_ts"}


def test_window_join_sql(spark):
    out = translate(
        spark,
        _db(),
        "SELECT l.ts, l.value, r.ts as rts, r.value as rv "
        "FROM events l WINDOW JOIN events r ON l.user_id = r.user_id "
        "WINDOW_OFFSET(-5m, 5m)",
    )
    from tdengine_spark.operators.asofjoin import window_join

    base = Database(root=SF).read(spark, "events")
    expect = window_join(base, base, ["user_id"], "-5m", "5m", ts_col="ts")
    assert out.count() == expect.count()


def test_interp_sql(spark):
    # select list projects exactly what's asked (reference: bare
    # `select interp(c1)` yields a single column) — ask for the key and
    # instant so the value map below can be keyed
    out = translate(
        spark,
        _db(),
        "SELECT event_type, _irowts, interp(value) as v FROM events "
        "PARTITION BY event_type "
        "RANGE('2024-01-01', '2024-01-02') EVERY(6h) FILL(linear)",
    )
    from tdengine_spark.operators.interp import interp

    base = Database(root=SF).read(spark, "events")
    expect = interp(
        base, "ts", "value", "2024-01-01", "2024-01-02", "6h",
        mode="linear", partition_by=["event_type"], out_col="v",
    )
    # ≤ 5 types × 5 instants: LINEAR drops instants outside each type's
    # [first, last] sample (reference edge semantics, 12-Interp goldens)
    n = out.count()
    assert n == expect.count() and 0 < n <= 5 * 5
    got = {(r.event_type, str(r._irowts)): r.v for r in out.collect()}
    want = {(r.event_type, str(r._irowts)): r.v for r in expect.collect()}
    assert got == want


def test_standard_join_view_registration(spark):
    # drops to Catalyst after registering parquet tables as views
    for v in ("orders", "customer"):
        spark.catalog.dropTempView(v) if v in [
            t.name for t in spark.catalog.listTables()
        ] else None
    out = translate(
        spark,
        _db(),
        "SELECT c.c_name, count(*) AS n FROM orders o "
        "JOIN customer c ON o.o_custkey = c.c_custkey GROUP BY c.c_name",
    )
    assert out.count() > 0


# ---------------------------------------------------------------------------
# round 4: composition — WHERE on joins, GROUP BY residue, subqueries,
# RIGHT ASOF, interp default FILL(none)  (reference 09-DataQuerying shapes)
# ---------------------------------------------------------------------------


def test_asof_join_with_where(spark):
    out = translate(
        spark,
        _db(),
        "SELECT l.ts, l.value, r.ts as r_ts FROM events l ASOF JOIN events r "
        "ON l.ts > r.ts AND l.user_id = r.user_id WHERE l.value > 100",
    )
    assert out.where(F.col("value") <= 100).count() == 0
    assert out.count() > 0


def test_window_join_with_where(spark):
    out = translate(
        spark,
        _db(),
        "SELECT l.ts, r.ts as r_ts, r.value as r_value "
        "FROM events l WINDOW JOIN events r "
        "ON l.user_id = r.user_id WHERE r.value > 100 "
        "WINDOW_OFFSET(-5m, 5m)",
    )
    assert out.where(F.col("r_value") <= 100).count() == 0


def test_right_asof_join_dialect(spark):
    out = translate(
        spark,
        _db(),
        "SELECT r.event_id, r.ts, l.ts AS matched_ts "
        "FROM events l RIGHT ASOF JOIN events r "
        "ON l.user_id = r.user_id AND l.ts > r.ts",
    ).collect()
    # drives from r: one row per right-side event
    n = Database(root=SF).read(spark, "events").count()
    assert len(out) == n
    # matched ts is strictly after the driving ts whenever matched
    assert all(r.matched_ts is None or r.matched_ts > r.ts for r in out)


def test_partition_by_window_group_by_residue(spark):
    out = translate(
        spark,
        _db(),
        "SELECT _wstart, event_type, user_id, count(*) as cnt FROM events "
        "PARTITION BY event_type INTERVAL(1d) GROUP BY user_id",
    )
    # both keys present in the window grouping
    assert {"event_type", "user_id", "_wstart", "cnt"} <= set(out.columns)
    expect = (
        Database(root=SF).read(spark, "events")
        .groupBy(F.date_trunc("day", "ts"), "event_type", "user_id")
        .count()
    )
    assert out.count() == expect.count()


def test_from_subquery_with_window_clause(spark):
    out = translate(
        spark,
        _db(),
        "SELECT _wstart, count(*) as cnt, round(sum(value), 4) as sv "
        "FROM (SELECT * FROM events WHERE event_type = 'purchase') p "
        "PARTITION BY user_id INTERVAL(1d)",
    )
    expect = (
        Database(root=SF).read(spark, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts"), "user_id")
        .count()
    )
    assert out.count() == expect.count()


def test_interp_default_fill_none(spark):
    # no FILL clause → reference FILL_MODE_NONE: only exact-ts instants
    out = translate(
        spark,
        _db(),
        "SELECT interp(value) FROM events PARTITION BY event_type "
        "RANGE('2024-01-01', '2024-01-31') EVERY(1h)",
    )
    rows = out.collect()
    # random-μs event timestamps almost surely never land exactly on the
    # hour → none (or vanishingly few) exact hits, and nothing is filled
    assert all(not r._isfilled for r in rows)


def test_order_by_desc_on_asof(spark):
    out = translate(
        spark,
        _db(),
        "SELECT l.ts, l.value, r.ts as r_ts FROM events l ASOF JOIN events r "
        "ON l.ts > r.ts AND l.user_id = r.user_id ORDER BY ts DESC LIMIT 10",
    ).collect()
    ts_list = [r.ts for r in out]
    assert ts_list == sorted(ts_list, reverse=True)


def test_insert_dialect_roundtrip(spark, tmp_path):
    from tdengine_spark.dialect import execute

    db = Database(root=str(tmp_path))
    n = execute(
        spark, db,
        "INSERT INTO readings (ts, value, quality) VALUES "
        "('2024-01-01 00:00:00', 1.5, 10)('2024-01-01 00:01:00', 2.5, NULL), "
        "('2024-01-01 00:02:00', 3.5, 30)",
    )
    assert n == 3
    out = db.read(spark, "readings").orderBy("ts").collect()
    assert [r.value for r in out] == [1.5, 2.5, 3.5]
    assert out[1].quality is None
    # append to the now-existing table uses its schema
    execute(
        spark, db,
        "INSERT INTO readings (ts, value, quality) VALUES "
        "('2024-01-01 00:03:00', 4.5, 40)",
    )
    assert db.read(spark, "readings").count() == 4


def test_insert_using_stable_tags(spark, tmp_path):
    from tdengine_spark.dialect import execute

    db = Database(root=str(tmp_path))
    execute(
        spark, db,
        "INSERT INTO d1001 USING meters (location, group_id) "
        "TAGS ('sf', 2) (ts, current) VALUES "
        "('2024-01-01 00:00:00', 10.5)('2024-01-01 00:00:10', 11.0)",
    )
    execute(
        spark, db,
        "INSERT INTO d1002 USING meters (location, group_id) "
        "TAGS ('la', 3) (ts, current) VALUES ('2024-01-01 00:00:00', 9.0)",
    )
    out = db.read(spark, "meters")
    assert out.count() == 3
    got = {r.tbname: (r.location, r.group_id) for r in out.collect()}
    assert got == {"d1001": ("sf", 2), "d1002": ("la", 3)}


def test_execute_dispatch(spark, tmp_path):
    from tdengine_spark.dialect import execute
    from tdengine_spark.streaming.create_stream import StreamDef

    d = execute(
        spark, Database(root=SF),
        "CREATE STREAM s INTERVAL(1h) FROM events INTO o",
    )
    assert isinstance(d, StreamDef)
    df = execute(
        spark, Database(root=SF),
        "SELECT count(*) as n FROM events",
    )
    assert df.first().n > 0


def test_state_window_true_for(spark):
    out = translate(
        spark,
        _db(),
        "SELECT _wstart, _wend, count(*) as n FROM events "
        "PARTITION BY user_id "
        "STATE_WINDOW(event_type) TRUE_FOR(1h)",
    )
    base = translate(
        spark,
        _db(),
        "SELECT _wstart, _wend, count(*) as n FROM events "
        "PARTITION BY user_id STATE_WINDOW(event_type)",
    )
    # TRUE_FOR keeps only windows lasting ≥ 1h → strictly fewer rows
    n_tf, n_all = out.count(), base.count()
    assert 0 < n_tf < n_all
    dur = out.select(
        (F.unix_micros("_wend") - F.unix_micros("_wstart")).alias("d")
    )
    assert dur.where(F.col("d") < 3_600_000_000).count() == 0


def test_delete_show_describe(spark, tmp_path):
    from tdengine_spark.dialect import execute

    db = Database(root=str(tmp_path))
    execute(
        spark, db,
        "INSERT INTO sensors (ts, v) VALUES "
        "('2024-01-01 00:00:00', 1.0)('2024-01-02 00:00:00', 2.0)"
        "('2024-01-03 00:00:00', 3.0)",
    )
    n = execute(spark, db, "DELETE FROM sensors WHERE v > 1.5")
    assert n == 2
    assert db.read(spark, "sensors").count() == 1
    tables = execute(spark, db, "SHOW TABLES").collect()
    assert [t.table_name for t in tables] == ["sensors"]
    desc = execute(spark, db, "DESCRIBE sensors").collect()
    assert [(d.field, d.type) for d in desc] == [
        ("ts", "TIMESTAMP"), ("v", "DOUBLE")
    ]


def test_create_stable_then_insert_select(spark, tmp_path):
    """The full reference workflow: CREATE STABLE → INSERT USING → query."""
    from tdengine_spark.dialect import execute

    db = Database(root=str(tmp_path))
    name = execute(
        spark, db,
        "CREATE STABLE meters (ts TIMESTAMP, current FLOAT, voltage INT) "
        "TAGS (location VARCHAR(64), group_id INT)",
    )
    assert name == "meters"
    assert db.table("meters").tag_cols == ("location", "group_id")
    execute(
        spark, db,
        "INSERT INTO d1 USING meters (location, group_id) TAGS ('sf', 2) "
        "(ts, current, voltage) VALUES ('2024-01-01 00:00:00', 10.5, 220)"
        "('2024-01-01 01:00:00', 11.5, 221)",
    )
    out = execute(
        spark, db,
        "SELECT _wstart, count(*) as n FROM meters "
        "PARTITION BY location INTERVAL(1h)",
    ).collect()
    assert len(out) == 2 and all(r.n == 1 for r in out)
    desc = {r.field: r.type for r in execute(spark, db, "DESCRIBE meters").collect()}
    # DESCRIBE renders reference-shaped TYPE NAMES (taos shell caps:
    # "TIMESTAMP", "INT", "VARCHAR")
    assert desc["ts"] == "TIMESTAMP" and desc["voltage"] == "INT"
    assert desc["location"] == "VARCHAR"


def _meters(spark, tmp_path, children=2):
    """A dialect-managed ``meters`` super table with pre-declared
    children d0…d{children-1}."""
    from tdengine_spark.dialect import execute

    db = Database(root=str(tmp_path))
    execute(
        spark, db,
        "CREATE STABLE meters (ts TIMESTAMP, current FLOAT, voltage INT) "
        "TAGS (groupid INT, location VARCHAR(24))",
    )
    for i in range(children):
        execute(spark, db, f"CREATE TABLE d{i} USING meters TAGS ({i}, 'loc{i}')")
    return db


def test_multi_table_insert_all_or_nothing(spark, tmp_path):
    """A bad literal in any segment fails the whole statement: nothing
    is written and no USING child is auto-created (the reference parses
    the statement into its submit requests before sending any)."""
    import pytest as _pt

    from tdengine_spark.dialect import execute

    db = _meters(spark, tmp_path)
    with _pt.raises(ValueError, match="out of range"):
        execute(
            spark, db,
            "INSERT INTO d0 VALUES ('2024-01-01 00:00:00', 1.5, 220) "
            "d1 VALUES ('2024-01-01 00:00:00', 2.5, 3000000000)",
        )
    with _pt.raises(ValueError, match="out of range"):
        execute(
            spark, db,
            "INSERT INTO d9 USING meters TAGS (9, 'loc9') "
            "VALUES ('2024-01-01 00:00:00', 1.5, 220) "
            "d1 VALUES ('2024-01-01 00:00:00', 2.5, 3000000000)",
        )
    assert execute(spark, db, "SELECT count(*) AS n FROM meters").first().n == 0
    assert "d9" not in db.tables


def test_multi_table_insert_semantics(spark, tmp_path):
    """One statement mixing pre-declared children, a USING auto-created
    child and the same child twice: rows route by child with its tags,
    and the later segment wins a duplicate ts (keep-last)."""
    from tdengine_spark.dialect import execute

    db = _meters(spark, tmp_path)
    n = execute(
        spark, db,
        "INSERT INTO d0 VALUES ('2024-01-01 00:00:00', 1.0, 220)"
        "('2024-01-01 00:00:10', 1.1, 221) "
        "d1 VALUES ('2024-01-01 00:00:00', 2.0, 222) "
        "d2 USING meters TAGS (7, 'la') VALUES ('2024-01-01 00:00:00', 3.0, 223)"
        "('2024-01-01 00:00:10', 3.1, 224)('2024-01-01 00:00:20', 3.2, 225) "
        "d0 VALUES ('2024-01-01 00:00:10', 9.5, 229)",
    )
    assert n == 7
    got = {
        r.tbname: (r.n, r.groupid, r.location)
        for r in execute(
            spark, db,
            "SELECT tbname, count(*) AS n, first(groupid) AS groupid, "
            "first(location) AS location FROM meters PARTITION BY tbname",
        ).collect()
    }
    assert got == {"d0": (2, 0, "loc0"), "d1": (1, 1, "loc1"), "d2": (3, 7, "la")}
    assert db.tables["d2"].parent == "meters"
    d0 = execute(spark, db, "SELECT ts, current, voltage FROM d0 ORDER BY ts").collect()
    assert [(round(r.current, 2), r.voltage) for r in d0] == [(1.0, 220), (9.5, 229)]


def test_multi_table_insert_one_write_per_target(spark, tmp_path):
    """A 3-child INSERT adds as many parquet files to ``meters`` as a
    1-child INSERT: one write per target dataset, not one per child."""
    import glob

    from tdengine_spark.dialect import execute

    db = _meters(spark, tmp_path, children=3)
    # enough rows per child that every write task gets some
    k = 2 * spark.sparkContext.defaultParallelism

    def files():
        return len(glob.glob(f"{tmp_path}/meters.parquet/*.parquet"))

    def seg(child, minute):
        vals = "".join(
            f"('2024-01-01 00:{minute:02d}:00.{i:03d}', 1.5, 220)" for i in range(k)
        )
        return f"d{child} VALUES {vals}"

    f0 = files()
    execute(spark, db, "INSERT INTO " + seg(0, 0))
    f1 = files()
    execute(spark, db, "INSERT INTO " + " ".join(seg(c, 1) for c in range(3)))
    f3 = files()
    assert f1 - f0 == f3 - f1
    assert execute(spark, db, "SELECT count(*) AS n FROM meters").first().n == 4 * k


def test_right_window_join_dialect(spark):
    """RIGHT WINDOW JOIN ≡ swapped LEFT with negated offsets."""
    rgt = translate(
        spark,
        _db(),
        "SELECT r.event_id, r.ts, l.ts AS l_ts "
        "FROM events l RIGHT WINDOW JOIN events r "
        "ON l.user_id = r.user_id WINDOW_OFFSET(-5m, 10m)",
    )
    # reference semantics: drives from r; matched l.ts in [r.ts-10m, r.ts+5m]
    eq = translate(
        spark,
        _db(),
        "SELECT l.event_id, l.ts, r.ts AS l_ts "
        "FROM events l WINDOW JOIN events r "
        "ON l.user_id = r.user_id WINDOW_OFFSET(-10m, 5m)",
    )
    assert rgt.count() == eq.count()


def test_dialect_tsma_rewrite(spark, tmp_path):
    """INTERVAL dialect queries transparently read a compatible TSMA."""
    from tdengine_spark.plans.tsma import TsmaCatalog, create_tsma

    ev = Database(root=SF).read(spark, "events")
    spec = create_tsma(
        spark, ev, f"{tmp_path}/tsma_1h", "1h",
        keys=["event_type"], metrics=["value"],
    )
    cat = TsmaCatalog()
    cat.register(spec)
    sql = ("SELECT _wstart, event_type, avg(value) as avg_v, "
           "count(value) as n "
           "FROM events PARTITION BY event_type INTERVAL(6h)")
    rewritten = translate(spark, _db(), sql, tsma_catalog=cat)
    raw = translate(spark, _db(), sql)
    # same answer, but the rewritten plan scans the TSMA, not events
    files = rewritten.inputFiles()
    assert all("tsma_1h" in f for f in files), files
    a = {(str(r._wstart), r.event_type): (round(r.avg_v, 6), r.n)
         for r in rewritten.collect()}
    b = {(str(r._wstart), r.event_type): (round(r.avg_v, 6), r.n)
         for r in raw.collect()}
    assert a == b
    # FILL blocks the rewrite (pre-agg can't serve filled spines)
    filled = translate(
        spark, _db(),
        "SELECT _wstart, avg(value) as v FROM events "
        "PARTITION BY event_type INTERVAL(6h) FILL(prev)",
        tsma_catalog=cat,
    )
    assert not any("tsma_1h" in f for f in filled.inputFiles())


def test_explain_statement(spark):
    from tdengine_spark.dialect import execute

    out = execute(
        spark, _db(),
        "EXPLAIN SELECT _wstart, count(*) as n FROM events "
        "PARTITION BY event_type INTERVAL(1h)",
    ).collect()
    text = "\n".join(r.plan for r in out)
    assert "HashAggregate" in text or "Physical Plan" in text


def test_indef_functions_in_select(spark):
    """Reference ``SELECT diff(v)/csum/mavg … PARTITION BY tag`` shapes."""
    from tdengine_spark.functions import indef

    out = translate(
        spark,
        _db(),
        "SELECT user_id, ts, diff(value) AS d, csum(value) AS c, "
        "mavg(value, 3) AS m FROM events PARTITION BY user_id",
    )
    ev = Database(root=SF).read(spark, "events")
    from pyspark.sql.window import Window as W

    w = W.partitionBy("user_id").orderBy("ts")
    # dialect emission follows the reference's row-dropping rules:
    # diff drops the first row per key; csum drops NULL inputs; mavg
    # drops rows until k values are seen — the combined statement keeps
    # the intersection
    expect = ev.select(
        "user_id", "ts", "value",
        indef.diff("value", "ts", ["user_id"]).alias("d"),
        indef.csum("value", "ts", ["user_id"]).alias("c"),
        indef.mavg("value", 3, "ts", ["user_id"]).alias("m"),
        F.lag(F.lit(0)).over(w).isNotNull().alias("_notfirst"),
    ).where(
        F.col("_notfirst") & F.col("value").isNotNull() & F.col("m").isNotNull()
    )
    a = {(r.user_id, r.ts): (r.d, r.c, r.m) for r in out.collect()}
    b = {(r.user_id, r.ts): (r.d, r.c, r.m) for r in expect.collect()}
    assert a == b and len(a) > 0

    sc = translate(
        spark,
        _db(),
        "SELECT user_id, ts, statecount(value, 'gt', 100) AS sc "
        "FROM events WHERE event_type = 'error' PARTITION BY user_id",
    )
    rows = sc.collect()
    assert len(rows) > 0
    assert any(r.sc and r.sc > 0 for r in rows)
    assert any(r.sc == -1 for r in rows)


def test_anomaly_window_dialect(spark):
    out = translate(
        spark,
        _db(),
        "SELECT _wstart, _wend, event_type, count(*) as n, "
        "round(avg(value), 4) as avg_v FROM events "
        "PARTITION BY event_type ANOMALY_WINDOW(value, 'algo=mad')",
    )
    rows = out.collect()
    assert len(rows) > 0
    assert {"event_type", "_wstart", "_wend", "n", "avg_v"} <= set(out.columns)
    # default algo variant parses too
    dflt = translate(
        spark,
        _db(),
        "SELECT count(*) as n FROM events "
        "PARTITION BY event_type ANOMALY_WINDOW(value)",
    )
    assert dflt.count() > 0


def test_time_function_rewrites(spark):
    out = translate(
        spark,
        _db(),
        "SELECT ts, timetruncate(ts, '1h') AS th, "
        "timediff(ts, timetruncate(ts, '1d'), '1h') AS hours_into_day, "
        "to_iso8601(ts) AS iso, to_unixtimestamp('2024-01-01 00:00:00') AS ep "
        "FROM events LIMIT 5",
    ).collect()
    for r in out:
        assert r.th.minute == 0 and r.th.second == 0
        assert 0 <= r.hours_into_day <= 23
        assert r.iso.endswith("+0000") and "T" in r.iso
        assert r.ep == 1704067200000
    # NOW keyword usable in WHERE (all testdata ts are in the past)
    n = translate(
        spark, _db(), "SELECT count(*) AS n FROM events WHERE ts < now"
    ).first().n
    total = translate(spark, _db(), "SELECT count(*) AS n FROM events").first().n
    assert n == total
    # 'now' inside a string literal is untouched
    lit = translate(
        spark, _db(), "SELECT 'now' AS w FROM events LIMIT 1"
    ).first().w
    assert lit == "now"


def test_show_command_family(spark):
    from tdengine_spark.dialect import execute

    dbs = execute(spark, _db(), "SHOW DATABASES").collect()
    assert len(dbs) == 1 and dbs[0].ntables >= 10
    users = execute(spark, _db(), "SHOW USERS").collect()
    assert len(users) == 1 and users[0].super == 1
    # one row per vgroup of the CURRENT db; ids must agree with the
    # vgroup_id column ins_tables assigns (the reference's distribute
    # checks join the two)
    vg = execute(spark, _db(), "SHOW VGROUPS").collect()
    assert 1 <= len(vg) <= 2
    vg_ids = {r.vgroup_id for r in vg}
    tbl_vgs = {
        r.vgroup_id
        for r in translate(
            spark, _db(),
            "select vgroup_id from information_schema.ins_tables",
        ).collect()
    }
    assert tbl_vgs <= vg_ids
    cluster = execute(spark, _db(), "SHOW CLUSTER").collect()
    assert cluster[0].version.startswith("4.")
    assert execute(spark, _db(), "SHOW DNODES").count() >= 1
    cfg = {r.name for r in execute(spark, _db(), "SHOW VARIABLES").collect()}
    assert "spark.sql.session.timeZone" in cfg


def test_stream_registry_and_ins_streams(spark):
    from tdengine_spark.dialect import execute

    defn = execute(
        spark,
        _db(),
        "CREATE STREAM isst INTERVAL(1h) FROM events INTO agg_isst "
        "AS SELECT count(*) FROM events",
    )
    assert defn.name == "isst"
    try:
        rows = execute(spark, _db(), "SHOW STREAMS").collect()
        assert any(r.stream_name == "isst" for r in rows)
        got = translate(
            spark,
            _db(),
            "select target_table from information_schema.ins_streams "
            "where stream_name = 'isst'",
        ).collect()
        assert got[0].target_table == "agg_isst"
    finally:
        assert execute(spark, _db(), "DROP STREAM isst") is True


def test_information_schema_in_query(spark):
    out = translate(
        spark,
        _db(),
        "select table_name from information_schema.ins_tables "
        "where db_name = 'db' order by table_name",
    ).collect()
    names = [r.table_name for r in out]
    assert "events" in names and "lineitem" in names


def test_ansi_scoped_to_dialect(spark):
    """ANSI mode is session-default ON (native API errors on malformed
    casts) but each dialect statement runs with the reference's
    NULL-on-error semantics — scoped, not global."""
    import pytest as _pt

    from pyspark.errors import PySparkException

    out = translate(
        spark, _db(),
        "select cast('not a number' as int) as bad, 1/0 as div0 "
        "from events limit 1",
    ).collect()
    assert out[0].bad is None  # dialect: C-style NULL on error

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    with _pt.raises(PySparkException):
        spark.range(1).selectExpr("cast('oops' as int) as x").collect()


_METERS_INTERP = (
    "SELECT _irowts, location, interp(current) AS c FROM meters "
    "PARTITION BY location "
    "RANGE('2024-01-01 00:00:00', '2024-01-01 00:02:00') EVERY(1m) FILL(LINEAR)"
)


def _meters_child(spark, db, child, tags, values):
    from tdengine_spark.dialect import execute

    execute(
        spark, db,
        f"INSERT INTO {child} USING meters TAGS {tags} "
        f"VALUES ('2024-01-01 00:00:00', {values[0]}, 220)"
        f"('2024-01-01 00:02:00', {values[1]}, 221)",
    )


def _meters_location(spark, tmp_path):
    from tdengine_spark.dialect import execute

    db = Database(root=str(tmp_path))
    execute(
        spark, db,
        "CREATE STABLE meters (ts TIMESTAMP, current FLOAT, voltage INT) "
        "TAGS (group_id INT, location BINARY(16))",
    )
    _meters_child(spark, db, "d1", "(1, 'sf')", (1.0, 3.0))
    return db


def test_interp_after_insert_sees_new_child(spark, tmp_path):
    """An interp run after an INSERT into a new child resamples that
    child too: the groups follow from the table's rows, not from a
    key list remembered from an earlier query."""
    from tdengine_spark.dialect import execute

    db = _meters_location(spark, tmp_path)
    assert execute(spark, db, _METERS_INTERP).count() == 3
    _meters_child(spark, db, "d2", "(2, 'la')", (10.0, 30.0))
    got = sorted(
        (r.location, r._irowts.minute, round(r.c, 4))
        for r in execute(spark, db, _METERS_INTERP).collect()
    )
    assert got == [
        ("la", 0, 10.0), ("la", 1, 20.0), ("la", 2, 30.0),
        ("sf", 0, 1.0), ("sf", 1, 2.0), ("sf", 2, 3.0),
    ]


def test_interp_plan_build_starts_no_extra_job(spark, tmp_path):
    """Building an interp statement's DataFrame starts no more Spark
    jobs than building a plain read of the same table: nothing is
    collected while the plan is only being built."""
    db = _meters_location(spark, tmp_path)
    sc = spark.sparkContext

    def jobs_to_build(sql, group):
        sc.setJobGroup(group, group)
        try:
            translate(spark, db, sql)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    interp_jobs = jobs_to_build(_METERS_INTERP, "build_interp")
    read_jobs = jobs_to_build("SELECT * FROM meters", "build_read")
    assert interp_jobs <= read_jobs, (interp_jobs, read_jobs)


def test_insert_double_quoted_literals(spark, tmp_path):
    """A "…" literal is opaque to the VALUES and TAGS splits: a comma
    inside it does not cut the row, a ' inside it does not open a
    string."""
    from tdengine_spark.dialect import execute

    db = Database(root=str(tmp_path))
    execute(
        spark, db,
        "INSERT INTO r (ts, name, v) VALUES "
        "('2024-01-01 00:01:00', \"c,d\", 2)"
        "('2024-01-01 00:02:00', \"it's\", 3)",
    )
    out = db.read(spark, "r").orderBy("ts").collect()
    assert [(r.name, r.v) for r in out] == [("c,d", 2), ("it's", 3)]
    execute(
        spark, db,
        "INSERT INTO d1 USING st (loc, note) TAGS (\"c,d\", \"it's\") "
        "(ts, v) VALUES ('2024-01-01 00:00:00', 1)",
    )
    got = db.read(spark, "st").collect()
    assert [(r.tbname, r.loc, r.note, r.v) for r in got] == [
        ("d1", "c,d", "it's", 1)
    ]


def test_fill_range_over_or_with_any_whitespace(spark, tmp_path):
    """The FILL range of an OR of ts ranges is the same whatever the
    whitespace or parens around the OR."""
    from tdengine_spark.dialect import execute

    db = Database(root=str(tmp_path))
    execute(
        spark, db,
        "INSERT INTO m (ts, v) VALUES ('2024-01-01 01:00:00', 1.0)"
        "('2024-01-03 05:00:00', 2.0)",
    )
    lo1 = "ts >= '2024-01-03 00:00:00' and ts < '2024-01-03 12:00:00'"
    lo2 = "ts >= '2024-01-01 00:00:00' and ts < '2024-01-01 12:00:00'"

    def rows(where):
        return sorted(translate(
            spark, db,
            f"SELECT _wstart, avg(v) FROM m WHERE {where} "
            "INTERVAL(1h) FILL(NULL)",
        ).collect())

    want = rows(f"{lo1} or {lo2}")
    assert len(want) == 60
    for sep in ("\nor ", "\tor\t", " OR\n"):
        assert rows(f"{lo1}{sep}{lo2}") == want, repr(sep)
    assert rows(f"({lo1}) or ({lo2})") == want
    assert rows(f"({lo1})or({lo2})") == want


def test_join_subquery_lift_keeps_quoted_paren(spark, tmp_path):
    """`JOIN (select …)` lifts the whole balanced subquery into a view;
    a ) inside one of its literals does not end it."""
    from tdengine_spark.dialect import execute

    db = Database(root=str(tmp_path))
    execute(
        spark, db,
        "INSERT INTO m (ts, v, s) VALUES ('2024-01-01 00:00:00', 1.0, 'a)')"
        "('2024-01-01 00:01:00', 2.0, 'b')",
    )
    out = translate(
        spark, db,
        "select a.v, b.s from m a join (select ts, s from m "
        "where s <> 'x)') b on a.ts = b.ts",
    )
    assert sorted(map(tuple, out.collect())) == [(1.0, "a)"), (2.0, "b")]
