"""Regression tests for the round-1 review findings (ADVICE.md):

1. delete_where must keep rows whose predicate evaluates to NULL, and
   the partition path must let the predicate reference the partition
   column.
2. interval_trigger/session_trigger output must not contain duplicate
   column names (breaks file sinks with COLUMN_ALREADY_EXISTS).
3. schemaless line-protocol parsing must not truncate string values
   ending in 'i'.
4. interp must not pair a sample's timestamp with an older sample's
   value when the sample's value is NULL.
5. dialect agg rewrites must handle nested calls and string literals.
6. get_spark must not override the master a launcher was given.
"""

import os
import shutil
import subprocess

import pandas as pd
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F


def test_delete_where_keeps_null_predicate_rows(spark, tmp_path):
    from tdengine_spark.operators.delete import delete_where

    path = str(tmp_path / "tbl")
    spark.createDataFrame(
        [Row(id=1, v=10.0), Row(id=2, v=None), Row(id=3, v=200.0)]
    ).write.parquet(path)
    n = delete_where(spark, path, F.col("v") > 100)
    assert n == 1
    left = {r.id for r in spark.read.parquet(path).collect()}
    # id=2 has v NULL → predicate NULL → must be KEPT
    assert left == {1, 2}


def test_delete_where_partitioned_predicate_on_partition_col(spark, tmp_path):
    from tdengine_spark.operators.delete import delete_where

    path = str(tmp_path / "ptbl")
    spark.createDataFrame(
        [Row(day="a", v=1.0), Row(day="a", v=2.0), Row(day="b", v=3.0)]
    ).write.partitionBy("day").parquet(path)
    # predicate references the partition column itself
    n = delete_where(
        spark, path, (F.col("day") == "a") & (F.col("v") > 1.5), "day"
    )
    assert n == 1
    rows = {(r.day, r.v) for r in spark.read.parquet(path).collect()}
    assert rows == {("a", 1.0), ("b", 3.0)}


def test_stream_trigger_outputs_have_unique_columns(spark):
    from tdengine_spark.streaming.stream import interval_trigger, session_trigger

    src = spark.readStream.format("rate").load().selectExpr(
        "timestamp as ts", "cast(value % 3 as string) as k", "cast(value as double) as v"
    )
    out1 = interval_trigger(src, "ts", "1m", partition_by=["k"],
                            aggs=[F.sum("v").alias("sum_v")])
    out2 = session_trigger(src, "ts", "30s", partition_by=["k"])
    for out in (out1, out2):
        assert len(out.columns) == len(set(out.columns)), out.columns
        assert "k" in out.columns


def test_schemaless_value_ending_in_i(spark):
    from tdengine_spark.sources.schemaless import parse_influx_lines

    lines = spark.createDataFrame(
        [
            Row(value='cpu,host=raspi,region=helsinki usage=0.5,cores=4i,name="pi" 1700000000000000000'),
        ]
    )
    out = parse_influx_lines(lines).collect()[0]
    assert out.tags["host"] == "raspi"
    assert out.tags["region"] == "helsinki"
    assert out.fields["cores"] == "4"  # int suffix stripped
    assert out.fields["name"] == "pi"  # quotes stripped, 'i' kept
    assert out.fields["usage"] == "0.5"


def test_interp_null_valued_sample(spark):
    from tdengine_spark.operators.interp import interp

    df = spark.createDataFrame(
        [
            Row(ts="2024-01-01 00:00:00", v=10.0),
            Row(ts="2024-01-01 02:00:00", v=None),  # NULL sample at 02:00
            Row(ts="2024-01-01 04:00:00", v=50.0),
        ]
    ).select(F.col("ts").cast("timestamp").alias("ts"), "v")
    out = {
        r._irowts.strftime("%H"): (r.v, r._isfilled)
        for r in interp(
            df, "ts", "v", "2024-01-01 00:00:00", "2024-01-01 04:00:00", "2h",
            mode="linear",
        ).collect()
    }
    # exact-ts NULL sample must NOT return the stale 00:00 value as exact:
    # 02:00 interpolates between the non-null neighbours 00:00 and 04:00
    assert out["02"] == (30.0, True)
    assert out["00"] == (10.0, False)
    assert out["04"] == (50.0, False)


def test_dialect_rewrite_nested_and_literals():
    from tdengine_spark.dialect import _rewrite_aggs

    s = _rewrite_aggs("spread(round(v, 2)) as sp", "ts")
    assert s == "(max(round(v, 2)) - min(round(v, 2))) as sp"
    # calls inside string literals are untouched
    s2 = _rewrite_aggs("'spread(x)' as lit, spread(v) as sp", "ts")
    assert s2 == "'spread(x)' as lit, (max(v) - min(v)) as sp"
    s3 = _rewrite_aggs("apercentile(v, 95) as p", "ts")
    assert s3 == "percentile_approx(v, 0.95) as p"


# --- round-8 ADVICE fixes ---------------------------------------------------


def test_selection_stmt_rejects_clause_tails():
    """_SELECTION_STMT_RE's lazy WHERE must not swallow GROUP BY /
    PARTITION BY / window-clause tails (r7 ADVICE high)."""
    from tdengine_spark.dialect import _match_selection_stmt

    grouped = [
        "select max(value), event_type from events where value > 0 "
        "group by event_type",
        "select first(value), tbname from events where ts > 0 "
        "partition by tbname interval(1d)",
        "select last(value), user_id from events where v > 0 "
        "session(ts, 30m)",
        "select max(v), k from t where v > 0 having count(*) > 1",
    ]
    for sql in grouped:
        assert _match_selection_stmt(sql) is None, sql
    # plain selection statements still match
    assert _match_selection_stmt(
        "select max(value), event_type from events where value > 0"
    ) is not None
    # clause keywords inside string literals do not disqualify
    assert _match_selection_stmt(
        "select max(value), event_type from events "
        "where note = 'group by x'"
    ) is not None


def test_dequalify_tables_scoped(tmp_path):
    """_dequalify_tables must not rewrite inside string literals nor
    alias-qualified column refs colliding with table names (r7 ADVICE
    medium)."""
    import os

    from tdengine_spark.catalog import Database
    from tdengine_spark.dialect import _dequalify_tables

    for t in ("events", "part", "orders"):
        os.makedirs(tmp_path / f"{t}.parquet")
    db = Database(str(tmp_path))
    assert (
        _dequalify_tables("select v from db1.events where s = 'db1.events'", db)
        == "select v from events where s = 'db1.events'"
    )
    sql = "select o.part from orders o join part on o.p = part.p"
    assert _dequalify_tables(sql, db) == sql


def test_duration_promotion_not_on_counts():
    """`counts + 5` is plain integer arithmetic, not ts-interval
    promotion (r7 ADVICE low)."""
    from tdengine_spark.dialect import _rewrite_ops

    assert "make_dt_interval" not in _rewrite_ops("counts + 5")
    assert "make_dt_interval" not in _rewrite_ops("accounts - 1")
    assert "make_dt_interval" in _rewrite_ops("ts + 1")
    assert "make_dt_interval" in _rewrite_ops("a.ts + 1")
    assert "make_dt_interval" in _rewrite_ops("click_ts + 500")


def test_interp_reversed_range_is_empty(spark):
    """RANGE(t1,t2) with t1 > t2 is empty even when the source has a
    group with samples (r7 ADVICE low)."""
    from tdengine_spark.operators.interp import interp

    df = spark.createDataFrame(
        [Row(k="a", ts="2024-01-01 01:00:00", v=1.0)]
    ).select("k", F.col("ts").cast("timestamp").alias("ts"), "v")
    out = interp(
        df, "ts", "v", "2024-01-02 00:00:00", "2024-01-01 00:00:00", "1h",
        mode="prev", partition_by=["k"],
    )
    assert out.count() == 0


def test_subst_agg_refs_normalized():
    """HAVING aggregate substitution matches modulo whitespace/case
    (r7 ADVICE low)."""
    from tdengine_spark.dialect import _subst_agg_refs

    items = [("sum(x)", "s"), ("count(*)", "c")]
    assert _subst_agg_refs("SUM( x ) > 3 AND count(*) < 9", items) == (
        "`s` > 3 AND `c` < 9"
    )
    assert _subst_agg_refs("avg(y) > 1", items) == "avg(y) > 1"


# --- round-11 ADVICE fixes ----------------------------------------------


def test_glued_quote_fixup_not_inside_literals(spark, tmp_path):
    """The glued-clause-keyword space re-insertion must only fire at
    quotes that CLOSE a literal — `'order'` / `'and more'` literals
    must round-trip unchanged (r11 ADVICE high)."""
    import os

    from tdengine_spark.catalog import Database
    from tdengine_spark.dialect import translate

    spark.createDataFrame(
        [Row(ts="2024-01-01 00:00:00", c="order", v=1.0),
         Row(ts="2024-01-01 00:00:01", c="other", v=2.0)]
    ).select(
        F.col("ts").cast("timestamp").alias("ts"), "c", "v"
    ).write.parquet(str(tmp_path / "t1.parquet"))
    db = Database(str(tmp_path))
    # literal 'order' as a comparison value
    rows = translate(
        spark, db, "select v from t1 where c = 'order'"
    ).collect()
    assert [r.v for r in rows] == [1.0]
    # literal starting with a clause keyword, projected
    rows = translate(spark, db, "select 'and more' as lit from t1").collect()
    assert all(r.lit == "and more" for r in rows)
    # glued CLOSING quote still gets the space re-inserted
    rows = translate(
        spark, db,
        "select count(*) as n from t1 where c = 'order'and v > 0"
    ).collect()
    assert rows[0].n == 1


def test_split_top_and_keeps_between_whole():
    """BETWEEN x AND y must stay one conjunct (r11 ADVICE medium)."""
    from tdengine_spark.dialect import _split_top_and

    assert _split_top_and("t1 between 1 and 3") == ["t1 between 1 and 3"]
    assert _split_top_and("a > 0 and t1 between 1 and 3 and b < 9") == [
        "a > 0", "t1 between 1 and 3", "b < 9"
    ]
    assert _split_top_and(
        "ts between '2024-01-01' and '2024-01-02' and v = 1"
    ) == ["ts between '2024-01-01' and '2024-01-02'", "v = 1"]
    # plain split still works
    assert _split_top_and("a = 1 and b = 2") == ["a = 1", "b = 2"]


def test_histogram_binds_validated():
    """binDesc validation mirrors builtins.c:786-955 (r11 verdict #1:
    count:10000000 must reject BEFORE building a plan, no JVM OOM)."""
    import pytest as _pytest

    from tdengine_spark.dialect import _histogram_edges

    # the reference's own OOM-probe: linear_bin count 10M
    with _pytest.raises(ValueError, match=r"\[1, 1000\]"):
        _histogram_edges(
            "linear_bin",
            '{"start": 1, "width": 1, "count": 10000000, "infinity": false}',
        )
    with _pytest.raises(ValueError, match="width"):
        _histogram_edges(
            "linear_bin",
            '{"start": 1, "width": 0, "count": 10, "infinity": false}',
        )
    with _pytest.raises(ValueError, match="factor"):
        _histogram_edges(
            "log_bin",
            '{"start": 1, "factor": 1, "count": 4, "infinity": true}',
        )
    with _pytest.raises(ValueError, match="start"):
        _histogram_edges(
            "log_bin",
            '{"start": 0, "factor": 4, "count": 4, "infinity": true}',
        )
    with _pytest.raises(ValueError):  # non-increasing user_input
        _histogram_edges("user_input", "[3, 0, 10]")
    with _pytest.raises(ValueError):  # 5th key
        _histogram_edges(
            "linear_bin",
            '{"start":1,"width":1,"count":2,"infinity":false,"other":1}',
        )
    # valid descriptors produce edges
    assert _histogram_edges("user_input", "[0, 3, 6, 9]") == [0, 3, 6, 9]
    e = _histogram_edges(
        "linear_bin", '{"start": 0, "width": 5, "count": 2, "infinity": true}'
    )
    assert e == [float("-inf"), 0, 5, 10, float("inf")]
    # fractional count truncates like cJSON valueint (cur_sqls count:1.5)
    e = _histogram_edges(
        "linear_bin",
        '{"start": 1, "width": 1, "count": 1.5, "infinity": false}',
    )
    assert e == [1, 2]


def test_tinyint_full_c_range_accepted():
    """ttypes.h:310 IS_VALID_TINYINT accepts INT8_MIN — bounds must be
    the full C range (r11 verdict #3)."""
    from tdengine_spark.dialect import _SIGNED_BOUNDS, _UNSIGNED_BOUNDS

    assert _SIGNED_BOUNDS["tinyint"] == (-128, 127)
    assert _SIGNED_BOUNDS["smallint"] == (-32768, 32767)
    assert _SIGNED_BOUNDS["int"] == (-2147483648, 2147483647)
    assert _SIGNED_BOUNDS["bigint"] == (-(2 ** 63), 2 ** 63 - 1)
    assert _UNSIGNED_BOUNDS["smallint"] == (0, 255)
    assert _UNSIGNED_BOUNDS["int"] == (0, 65535)


def test_show_tables_scoped_to_db(spark, tmp_path):
    """SHOW TABLES lists only the current db's tables; SHOW db.TABLES
    honors the qualifier (r11 ADVICE medium)."""
    import os

    from tdengine_spark.catalog import Database
    from tdengine_spark.dialect import execute

    d1 = tmp_path / "dba"
    d2 = tmp_path / "dbb"
    os.makedirs(d1 / "t_one.parquet")
    os.makedirs(d2 / "t_two.parquet")
    dba = Database(str(d1))
    dbb = Database(str(d2))
    dba.name, dbb.name = "dba", "dbb"
    dba.siblings = {"dbb": dbb}
    shown = {r.table_name for r in
             execute(spark, dba, "show tables").collect()}
    assert "t_one" in shown and "t_two" not in shown
    shown2 = {r.table_name for r in
              execute(spark, dba, "show dbb.tables").collect()}
    assert "t_two" in shown2 and "t_one" not in shown2


# ---------------------------------------------------------------------------
# round-12 ADVICE items
# ---------------------------------------------------------------------------


def test_pk_merge_only_for_merged_reads(spark, tmp_path):
    """Cross-child composite-pk (ts, pk) merge applies ONLY to merged-
    stream reads (the reference dedupes in TableMergeScan); per-child
    scans (partition by tbname) keep each child's own rows
    (r12 ADVICE medium — catalog pk_merge flag)."""
    from tdengine_spark.catalog import Database
    from tdengine_spark.dialect import execute

    db = Database(root=str(tmp_path))
    execute(
        spark, db,
        "create stable spk (ts timestamp, k int primary key, v double)"
        " tags (g int)",
    )
    execute(
        spark, db,
        "insert into c1 using spk tags(1) values"
        "('2024-01-01 00:00:00', 7, 1.0)",
    )
    execute(
        spark, db,
        "insert into c2 using spk tags(2) values"
        "('2024-01-01 00:00:00', 7, 2.0)",
    )
    merged = execute(spark, db, "select count(*) as n from spk")
    assert merged.first().n == 1  # one row per (ts, pk) across children
    per_child = execute(
        spark, db, "select count(*) as n from spk partition by tbname"
    )
    assert sorted(r.n for r in per_child.collect()) == [1, 1]


def test_cols_mode_global_aggregate_path(spark, tmp_path):
    """cols(mode(x), p) in the GLOBAL aggregate path (no GROUP BY) must
    add the __modecnt window pre-pass too (r12 ADVICE medium)."""
    from tdengine_spark.catalog import Database
    from tdengine_spark.dialect import execute

    db = Database(root=str(tmp_path))
    execute(spark, db, "create table cmg (ts timestamp, c0 int, c1 int)")
    execute(
        spark, db,
        "insert into cmg values('2024-01-01 00:00:00', 5, 10)"
        "('2024-01-01 00:00:01', 5, 20)('2024-01-01 00:00:02', 3, 30)",
    )
    out = execute(spark, db, "select cols(mode(c0), c1) from cmg")
    # mode(c0) = 5; ties on the newest ts → the c0=5 row at :01 → c1=20
    assert out.first()[0] == 20
    # the _project_join path (asof/window joins) needs the pre-pass too
    outj = execute(
        spark, db,
        "select cols(mode(a.c0), a.c1) from cmg a asof join cmg b"
        " on a.ts >= b.ts",
    )
    assert outj.first()[0] == 20


def test_rewrite_aggs_no_alias_collapse_without_cols():
    """The double-alias collapse regex must not run when no cols() call
    was rewritten — `from v as a join v2` text stays intact
    (r12 ADVICE low)."""
    from tdengine_spark.dialect import _rewrite_aggs

    s = "* from v as a join v2 as b on a.x = b.x"
    assert _rewrite_aggs(s, "ts") == s


def test_rowsel_multi_lockstep_emission_order(spark, tmp_path):
    """Multi rowsel calls zip in each function's PRESENTATION order:
    top ascending values, bottom descending (topBotFinalize heap
    layout) — not both ascending (r12 ADVICE low)."""
    from tdengine_spark.catalog import Database
    from tdengine_spark.dialect import execute

    db = Database(root=str(tmp_path))
    execute(spark, db, "create table rsl (ts timestamp, c1 int)")
    execute(
        spark, db,
        "insert into rsl values('2024-01-01 00:00:00', 1)"
        "('2024-01-01 00:00:01', 2)('2024-01-01 00:00:02', 3)"
        "('2024-01-01 00:00:03', 4)",
    )
    out = execute(spark, db, "select top(c1,2), bottom(c1,2) from rsl")
    rows = [tuple(r) for r in out.collect()]
    # top(2) presents [3, 4]; bottom(2) presents [2, 1] → lockstep rows
    assert rows == [(3, 2), (4, 1)]


def test_pair_cosine_int_matches_duckdb(spark):
    """pair_cosine_int and its SQL twin (_cos_int_sql) are bit-identical
    on the same vectors — integer dot/norms, one shared rounding
    (r12 ADVICE low: the float path could desync near boundaries)."""
    import duckdb
    import numpy as np

    from tdengine_spark.pipeline.similarity import pair_cosine_int
    from tdengine_spark.queries_pipeline import _cos_int_sql

    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((20, 8)).tolist()
    df = spark.createDataFrame(
        [(i, vecs[i], vecs[(i + 1) % 20]) for i in range(20)],
        "i int, a array<double>, b array<double>",
    )
    got = {
        r.i: r.c
        for r in df.select(
            "i", pair_cosine_int(F.col("a"), F.col("b")).alias("c")
        ).collect()
    }
    con = duckdb.connect()
    for i in range(20):
        qa = [int(np.floor(x * 4096)) for x in vecs[i]]
        qb = [int(np.floor(x * 4096)) for x in vecs[(i + 1) % 20]]
        expr = _cos_int_sql(f"{qa}::BIGINT[]", f"{qb}::BIGINT[]")
        want = con.execute(f"SELECT {expr}").fetchone()[0]
        assert got[i] == want, i


def test_pk_merge_respects_pinned_tbname(spark, tmp_path):
    """WHERE tbname='c2' pins the scan to one child: the reference prunes
    non-matching children BEFORE TableMergeScan, so a duplicate (ts, pk)
    owned by a pruned sibling (earlier in tbname order) must not win the
    cross-child composite-pk merge (r13 ADVICE medium)."""
    from tdengine_spark.catalog import Database
    from tdengine_spark.dialect import execute

    db = Database(root=str(tmp_path))
    execute(
        spark, db,
        "create stable spk2 (ts timestamp, k int primary key, v double)"
        " tags (g int)",
    )
    execute(
        spark, db,
        "insert into c1 using spk2 tags(1) values"
        "('2024-01-01 00:00:00', 7, 1.0)",
    )
    execute(
        spark, db,
        "insert into c2 using spk2 tags(2) values"
        "('2024-01-01 00:00:00', 7, 2.0)",
    )
    got = execute(spark, db, "select v from spk2 where tbname='c2'")
    assert [r.v for r in got.collect()] == [2.0]
    got = execute(
        spark, db, "select v from spk2 where tbname in ('c2')"
    )
    assert [r.v for r in got.collect()] == [2.0]
    # unpinned merged read keeps the earliest-created child's row
    got = execute(spark, db, "select v from spk2")
    assert [r.v for r in got.collect()] == [1.0]
    # both children pinned: merge applies within the pinned set
    got = execute(
        spark, db,
        "select v from spk2 where tbname in ('c1', 'c2')",
    )
    assert [r.v for r in got.collect()] == [1.0]


def test_pinned_tbnames_parser():
    from tdengine_spark.dialect import _pinned_tbnames

    assert _pinned_tbnames("tbname='c2'") == ["c2"]
    assert _pinned_tbnames("TBNAME = 'c2' and v > 3") == ["c2"]
    assert _pinned_tbnames("'c2' = tbname") == ["c2"]
    assert _pinned_tbnames("tbname in ('a', 'b')") == ["a", "b"]
    # a depth-0 OR makes conjunct extraction unsound — no pin
    assert _pinned_tbnames("tbname='c2' or v > 3") is None
    assert _pinned_tbnames("v between 1 and 2") is None
    # tbname compared to a column (not a literal) — no pin
    assert _pinned_tbnames("tbname = other_col") is None
    # ORDER-like words must not trip the OR detector
    assert _pinned_tbnames("tbname='c2' and org > 1") == ["c2"]


def test_selection_order_by_case_and_expression(spark, tmp_path):
    """ORDER BY items in the selection path (unique/mode/first) must
    match output columns case-insensitively (`ORDER BY TS` with column
    `ts`) and keep expression items over output columns
    (`cast(ts as bigint)`) — r13 ADVICE low."""
    from tdengine_spark.catalog import Database
    from tdengine_spark.dialect import execute

    db = Database(root=str(tmp_path))
    execute(spark, db, "create table ntord (ts timestamp, v int)")
    for tsv, vv in [
        ("2024-01-01 00:00:01", 2),
        ("2024-01-01 00:00:02", 1),
        ("2024-01-01 00:00:03", 2),
    ]:
        execute(
            spark, db,
            f"insert into ntord values ('{tsv}', {vv})",
        )
    got = execute(
        spark, db, "select unique(v) as u, ts from ntord order by TS desc"
    )
    assert [r.u for r in got.collect()] == [1, 2]
    got = execute(
        spark, db,
        "select unique(v) as u, ts from ntord"
        " order by cast(ts as bigint) desc",
    )
    assert [r.u for r in got.collect()] == [1, 2]


def test_ins_stables_columns_excludes_tags(spark, tmp_path):
    """ins_stables `columns` counts data columns only (ts + columns),
    excluding tags/tbname/_version — same rule as ins_tables
    (r13 ADVICE low)."""
    from tdengine_spark.catalog import Database
    from tdengine_spark.dialect import execute

    db = Database(root=str(tmp_path))
    execute(
        spark, db,
        "create stable stcols (ts timestamp, a int, b double)"
        " tags (g int, h int)",
    )
    execute(
        spark, db,
        "insert into cc using stcols tags(1, 2) values"
        "('2024-01-01 00:00:00', 1, 2.0)",
    )
    got = execute(
        spark, db,
        "select columns, tags from information_schema.ins_stables"
        " where stable_name='stcols'",
    ).first()
    assert (got.columns, got.tags) == (3, 2)


def test_approx_aggregates_bound_reflects_rsd(spark):
    """The HLL accuracy gate uses rsd=0.01 and a 3×rsd bound — the
    sketch's documented contract, deterministic at any sf
    (r13 ADVICE low)."""
    import __spark_entry__ as entry

    df = entry.queries()["approx_aggregates"](
        spark, "/root/testdata/sf0.001"
    )
    rows = df.collect()
    assert rows
    assert all(r.hll_within_bound for r in rows)
    assert all(r.p90_within_5pct for r in rows)


def test_interp_epoch_us_strict_iso_gate():
    """String bounds outside strict ISO (yyyy-MM-dd[ HH:mm[:ss[.f]]])
    return None from _epoch_us, routing interp to the union kernel —
    pandas and Spark can silently disagree on looser forms ('24-01-05'
    is year 2024 to pandas, year 0024 to Spark's cast) and a plan-time
    mismatch would misalign the bucket origin (r14 ADVICE low)."""
    from tdengine_spark.operators.interp import _epoch_us

    assert _epoch_us("2024-01-05") == 1704412800000000
    assert _epoch_us("2024-01-05 06:30") == 1704436200000000
    assert _epoch_us("2024-01-05T06:30:15.250") is not None
    # looser-but-parseable forms must NOT take the bucketed path
    assert _epoch_us("24-01-05") is None
    assert _epoch_us("Jan 5 2024") is None
    assert _epoch_us("2024/01/05") is None
    assert _epoch_us("20240105") is None
    assert _epoch_us(5) is None  # numerics already routed to union


def test_get_spark_keeps_submitted_master(tmp_path):
    """``spark-submit --master local[2]`` wins over get_spark's
    local[$SPARK_GRAFT_CPUS] default, and the settings get_spark makes
    only for the local sessions it starts (worker daemon, checkpoint
    manager) stay unset."""
    script = tmp_path / "probe.py"
    script.write_text(
        "from tdengine_spark.session import get_spark\n"
        "spark = get_spark('submit-probe')\n"
        "print('MASTER=' + spark.sparkContext.master)\n"
        "print('DAEMON=' + str(spark.sparkContext.getConf()"
        ".get('spark.python.daemon.module')))\n"
        "print('CKPT=' + str(spark.conf.get("
        "'spark.sql.streaming.checkpointFileManagerClass', None)))\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "SPARK_MASTER"}
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (repo, os.environ.get("PYTHONPATH")) if p
    )
    out = subprocess.run(
        [shutil.which("spark-submit"), "--master", "local[2]", str(script)],
        env=env, capture_output=True, text=True, timeout=300,
    )
    lines = out.stdout.splitlines()
    assert "MASTER=local[2]" in lines, out.stderr[-2000:]
    assert "DAEMON=None" in lines and "CKPT=None" in lines, out.stdout
