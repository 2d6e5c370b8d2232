"""Second wave of gate queries: SLIMIT, group_concat, leastsquares,
calendar intervals, virtual tables, scalar time functions, remaining
fill modes, sliding count windows, OVER-clause rank family, log
histograms, approx aggregates. Registered via tdengine_spark.queries.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tdengine_spark.functions import aggregate as agg_fn
from tdengine_spark.operators import fill as fill_op
from tdengine_spark.operators import timewindow as tw
from tdengine_spark.operators.eventwindow import (
    assign_count_windows,
    assign_state_windows,
    window_agg,
)
from tdengine_spark.queries import HOUR_US, TS, Database, bucket_sql, q, t


def _r4e(c):
    return F.round(c + F.lit(1e-7), 4) + F.lit(0.0)


@q(
    "slimit_first_groups",
    f"""
    WITH g AS (
      SELECT user_id, {bucket_sql(HOUR_US * 24)} AS _wstart,
             COUNT(*) AS n, (ROUND(AVG(value) + 0.0000001, 4) + 0) AS avg_v
      FROM events GROUP BY 1, 2
    )
    SELECT user_id, _wstart, n, avg_v FROM g
    WHERE user_id IN (SELECT DISTINCT user_id FROM events ORDER BY user_id LIMIT 5)
    """,
)
def q_slimit(spark, sf_dir):
    """SLIMIT 5: limit the number of *groups* (reference partition-aware
    limit, sql.y:3111) — distinct keys → limit → broadcast semi-join, so
    no global un-partitioned window ever sees the fact table."""
    from tdengine_spark.operators.slimit import slimit

    ev = t(spark, sf_dir, "events")
    day = tw.interval_window(
        ev, "ts", "1d", partition_by=["user_id"],
        aggs=[F.count(F.lit(1)).alias("n"), _r4e(F.avg("value")).alias("avg_v")],
    ).drop("_wend")
    return slimit(day, ["user_id"], 5).select("user_id", "_wstart", "n", "avg_v")


@q(
    "group_concat_users",
    """
    SELECT event_type,
           array_to_string(list_sort(list(DISTINCT CAST(user_id AS VARCHAR))), ',')
             AS users_csv
    FROM (SELECT event_type, user_id FROM events WHERE user_id < 30)
    GROUP BY event_type
    """,
)
def q_group_concat(spark, sf_dir):
    """group_concat (builtins.c:7559): deterministic via sorted distinct."""
    ev = t(spark, sf_dir, "events").where(F.col("user_id") < 30)
    return ev.groupBy("event_type").agg(
        F.concat_ws(
            ",", F.array_sort(F.collect_set(F.col("user_id").cast("string")))
        ).alias("users_csv")
    )


@q(
    "leastsquares_lineitem",
    """
    SELECT l_returnflag,
           (ROUND(regr_slope(l_extendedprice, l_quantity) + 0.0000001, 4) + 0)
               AS slope,
           (ROUND(regr_intercept(l_extendedprice, l_quantity) + 0.0000001, 4) + 0)
               AS intercept
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_leastsquares(spark, sf_dir):
    """leastsquares (builtins.c:3110) → regr_slope/regr_intercept."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        _r4e(F.regr_slope("l_extendedprice", "l_quantity")).alias("slope"),
        _r4e(F.regr_intercept("l_extendedprice", "l_quantity")).alias("intercept"),
    )


@q(
    "calendar_interval_monthly",
    """
    SELECT date_trunc('month', o_orderdate) AS _wstart, o_orderstatus,
           COUNT(*) AS n_orders,
           (ROUND(SUM(o_totalprice) + 0.0000001, 4) + 0) AS sum_price
    FROM orders GROUP BY 1, 2
    """,
)
def q_calendar_month(spark, sf_dir):
    """INTERVAL(1n): calendar-month buckets (non-fixed width — the
    reference's calendar-unit interval path)."""
    o = t(spark, sf_dir, "orders")
    return tw.interval_window(
        o, "o_orderdate", "1n", partition_by=["o_orderstatus"],
        aggs=[
            F.count(F.lit(1)).alias("n_orders"),
            _r4e(F.sum("o_totalprice")).alias("sum_price"),
        ],
    ).drop("_wend")


@q(
    "virtual_table_align",
    f"""
    WITH p AS (
      SELECT {bucket_sql(60_000_000)} AS ts, user_id,
             (ROUND(AVG(value) + 0.0000001, 4) + 0) AS purchase_v
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    ), c AS (
      SELECT {bucket_sql(60_000_000)} AS ts, user_id,
             (ROUND(AVG(value) + 0.0000001, 4) + 0) AS click_v
      FROM events WHERE event_type = 'click' GROUP BY 1, 2
    )
    SELECT COALESCE(p.ts, c.ts) AS ts, COALESCE(p.user_id, c.user_id) AS user_id,
           p.purchase_v, c.click_v
    FROM p FULL OUTER JOIN c ON p.ts = c.ts AND p.user_id = c.user_id
    """,
)
def q_virtual_table(spark, sf_dir):
    """Virtual table (virtualtablescanoperator.c): columns drawn from
    different source tables aligned on ts.

    Both member series here come from the SAME fact table, so the
    full-outer-join alignment fuses into ONE conditional aggregation
    (r15, guide §2.4): avg(when(type=X, value)) ignores the other
    type's rows, a (ts, user) group exists iff either side has a row,
    and a side with no rows aggregates to NULL — exactly the FULL OUTER
    join's output, with one fact scan instead of two and no
    SortMergeJoin (FULL OUTER cannot broadcast). Genuinely cross-table
    virtual tables still use the join form the docstring describes."""
    ev = t(spark, sf_dir, "events")

    def side(etype):
        return F.avg(F.when(F.col("event_type") == etype, F.col("value")))

    return (
        ev.where(F.col("event_type").isin("purchase", "click"))
        .groupBy(tw.window_start("ts", "1m").alias("ts"), "user_id")
        .agg(
            _r4e(side("purchase")).alias("purchase_v"),
            _r4e(side("click")).alias("click_v"),
        )
        .select("ts", "user_id", "purchase_v", "click_v")
    )


@q(
    "scalar_time_functions",
    f"""
    SELECT event_id,
           make_timestamp(CAST(floor(epoch_us({TS}) / 900000000)
               * 900000000 AS BIGINT)) AS tt15m,
           CAST(isodow({TS}) - 1 AS INT) AS wd,
           CAST(epoch_us({TS}) // 1000 AS BIGINT) AS epoch_ms,
           CAST(week({TS}) AS INT) AS wk
    FROM events WHERE user_id = 7
    """,
)
def q_scalar_time(spark, sf_dir):
    """timetruncate/weekday/to_unixtimestamp/weekofyear (§2.9 date/time)."""
    from tdengine_spark.functions.scalar import timetruncate

    ev = t(spark, sf_dir, "events").where(F.col("user_id") == 7)
    return ev.select(
        "event_id",
        timetruncate("ts", "15m").alias("tt15m"),
        F.weekday("ts").alias("wd"),
        F.expr("unix_micros(ts) div 1000").alias("epoch_ms"),
        F.weekofyear("ts").alias("wk"),
    )


@q(
    "interval_fill_value_near",
    f"""
    WITH a AS (
      SELECT {bucket_sql(HOUR_US)} AS _wstart, event_type,
             (ROUND(AVG(value) + 0.0000001, 4) + 0) AS v
      FROM events GROUP BY 1, 2
    ), spine AS (
      SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS _wstart
      FROM (SELECT event_type, min(_wstart) lo, max(_wstart) hi FROM a GROUP BY 1)
    ), j AS (
      SELECT s.event_type, s._wstart, a.v,
             last_value(a.v IGNORE NULLS) OVER w AS pv,
             last_value(CASE WHEN a.v IS NOT NULL THEN epoch_us(s._wstart) END
                        IGNORE NULLS) OVER w AS pt,
             first_value(a.v IGNORE NULLS) OVER wn AS nv,
             first_value(CASE WHEN a.v IS NOT NULL THEN epoch_us(s._wstart) END
                         IGNORE NULLS) OVER wn AS nt
      FROM spine s LEFT JOIN a ON s.event_type = a.event_type AND s._wstart = a._wstart
      WINDOW w AS (PARTITION BY s.event_type ORDER BY s._wstart
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wn AS (PARTITION BY s.event_type ORDER BY s._wstart
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, _wstart,
           COALESCE(v, -1.0) AS v_value,
           CASE WHEN v IS NOT NULL THEN v
                WHEN nt IS NULL THEN pv
                WHEN pt IS NULL THEN nv
                WHEN epoch_us(_wstart) - pt <= nt - epoch_us(_wstart) THEN pv
                ELSE nv END AS v_near
    FROM j
    """,
)
def q_fill_value_near(spark, sf_dir):
    """FILL(VALUE, -1) and FILL(NEAR) on the same interval agg."""
    ev = t(spark, sf_dir, "events")
    a = tw.interval_window(
        ev, "ts", "1h", partition_by=["event_type"],
        aggs=[_r4e(F.avg("value")).alias("v")],
        ordered=False,
    ).drop("_wend")
    fv = fill_op.fill(
        a, "value", "1h", ["event_type"], ["v"], fill_values={"v": -1.0},
        ordered=False,
    ).withColumnRenamed("v", "v_value")
    fn = fill_op.fill(
        a, "near", "1h", ["event_type"], ["v"], ordered=False
    ).withColumnRenamed("v", "v_near")
    return fv.join(fn, ["event_type", "_wstart"]).select(
        "event_type", "_wstart", "v_value", "v_near"
    )


@q(
    "count_windows_sliding",
    f"""
    WITH numbered AS (
      SELECT user_id, {TS} AS ts, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts) - 1 AS rn
      FROM events WHERE user_id < 20
    ), exploded AS (
      SELECT user_id, ts, value,
             unnest(generate_series(
               greatest(CAST(ceil((rn - 30 + 1) / 15.0) AS BIGINT), 0),
               CAST(floor(rn / 15.0) AS BIGINT))) + 1 AS _wid
      FROM numbered
    )
    SELECT user_id, _wid, min(ts) AS _wstart, max(ts) AS _wend,
           COUNT(*) AS n_rows,
           (ROUND(SUM(value) + 0.0000001, 4) + 0) AS sum_v
    FROM exploded GROUP BY user_id, _wid
    """,
)
def q_count_sliding(spark, sf_dir):
    """COUNT_WINDOW(30, 15): sliding row-count windows."""
    ev = t(spark, sf_dir, "events").where(F.col("user_id") < 20)
    assigned = assign_count_windows(ev, "ts", 30, 15, ["user_id"])
    out = window_agg(
        assigned, "ts", [_r4e(F.sum("value")).alias("sum_v")], ["user_id"],
        ordered=False,
    )
    return out.select(
        "user_id", "_wid", "_wstart", "_wend",
        F.col("_wrows").alias("n_rows"), "sum_v",
    )


@q(
    "rank_family",
    f"""
    SELECT user_id, {TS} AS ts,
           rank() OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           (ROUND(percent_rank() OVER w + 0.0000001, 4) + 0) AS prnk,
           (ROUND(cume_dist() OVER w + 0.0000001, 4) + 0) AS cd,
           ntile(4) OVER w AS quartile,
           first_value(value) OVER w2 AS fv,
           nth_value(value, 2) OVER w2 AS nv2
    FROM events WHERE event_type = 'signup'
    WINDOW w AS (PARTITION BY user_id ORDER BY value),
           w2 AS (PARTITION BY user_id ORDER BY ts
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def q_rank_family(spark, sf_dir):
    """OVER-clause rank/distribution family (builtins.c:8078-8162)."""
    ev = t(spark, sf_dir, "events").where(F.col("event_type") == "signup")
    w = Window.partitionBy("user_id").orderBy("value")
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return ev.select(
        "user_id",
        "ts",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        _r4e(F.percent_rank().over(w)).alias("prnk"),
        _r4e(F.cume_dist().over(w)).alias("cd"),
        F.ntile(4).over(w).alias("quartile"),
        F.first("value").over(w2).alias("fv"),
        F.nth_value("value", 2).over(w2).alias("nv2"),
    )


@q(
    "histogram_log_totalprice",
    """
    SELECT bin_idx,
           (ROUND(1000.0 * POW(4.0, bin_idx) + 0.0000001, 4) + 0) AS bin_lower,
           (ROUND(1000.0 * POW(4.0, bin_idx + 1) + 0.0000001, 4) + 0) AS bin_upper,
           COUNT(*) AS bin_count
    FROM (
      SELECT CAST(floor(ln(o_totalprice / 1000.0) / ln(4.0)) AS INT) AS bin_idx
      FROM orders WHERE o_totalprice >= 1000.0 AND o_totalprice < 1000.0 * POW(4.0, 6)
    ) GROUP BY bin_idx
    """,
)
def q_histogram_log(spark, sf_dir):
    """histogram(col,'log_bin',...) — exponential buckets."""
    o = t(spark, sf_dir, "orders")
    out = agg_fn.histogram_log(o, "o_totalprice", 4.0, 1000.0, 6)
    return out.select(
        F.floor(F.log(4.0, F.col("bin_lower") / 1000.0) + F.lit(0.5) * 1e-9)
        .cast("int")
        .alias("bin_idx"),
        _r4e(F.col("bin_lower")).alias("bin_lower"),
        _r4e(F.col("bin_upper")).alias("bin_upper"),
        "bin_count",
    )


@q(
    "approx_aggregates",
    """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS hll_within_bound,
           TRUE AS p90_within_5pct
    FROM events GROUP BY event_type
    """,
)
def q_approx(spark, sf_dir):
    """hyperloglog + apercentile. Sketch VALUES are engine-specific by
    design (HLL++/t-digest vs DuckDB's sketches), so the value oracle
    pins the ACCURACY CONTRACT instead: the Spark side computes the
    approximation AND the exact answer and emits bound flags; DuckDB
    recomputes the exact answer and expects the flags TRUE. A sketch
    regression beyond its documented error bound hash-mismatches.
    The bound is 3× the configured rsd (0.01 → 3%): HLL++'s rsd is a
    standard deviation, not a hard cap, so the contract reflects the
    sketch's documented accuracy at any sf/cardinality."""
    ev = t(spark, sf_dir, "events")
    from pyspark.sql.functions import expr as _e

    _rsd = 0.01
    return ev.groupBy("event_type").agg(
        F.count_distinct(F.col("user_id")).alias("exact_users"),
        (
            F.abs(
                agg_fn.hyperloglog("user_id", rsd=_rsd).cast("double")
                - F.count_distinct(F.col("user_id")).cast("double")
            )
            <= 3 * _rsd * F.count_distinct(F.col("user_id")).cast("double")
        ).alias("hll_within_bound"),
        (
            F.abs(
                agg_fn.apercentile("value", 90)
                - _e("percentile(value, 0.9)")
            )
            <= 0.05 * F.abs(_e("percentile(value, 0.9)")) + F.lit(1e-9)
        ).alias("p90_within_5pct"),
    )


@q(
    "sample_per_group",
    f"""
    SELECT event_type, ts, value FROM (
      SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, value,
             row_number() OVER (
               PARTITION BY event_type
               ORDER BY md5(CAST(event_id AS VARCHAR)), event_id
             ) AS rn
      FROM events
    ) WHERE rn <= 10
    """,
)
def q_sample(spark, sf_dir):
    """sample(k): k uniformly pseudo-random rows per group. The GATE
    variant ranks by md5(event_id) — a deterministic uniform draw both
    engines compute identically, making the sample VALUE-oracled (any
    k-subset is a valid reference sample; the dialect kernel keeps
    reservoir rand(seed) semantics for per-row replays)."""
    from pyspark.sql.window import Window as _W

    ev = t(spark, sf_dir, "events").select(
        "event_type", "ts", "value", "event_id"
    )
    w = _W.partitionBy("event_type").orderBy(
        F.md5(F.col("event_id").cast("string")), F.col("event_id")
    )
    return (
        ev.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= 10)
        .select("event_type", "ts", "value")
    )


@q(
    "state_windows_threshold",
    f"""
    WITH flagged AS (
      SELECT user_id, {TS} AS ts, value,
             CASE WHEN value > 100 THEN 1 ELSE 0 END AS st,
             CASE WHEN lag(CASE WHEN value > 100 THEN 1 ELSE 0 END) OVER w IS NULL
                       OR lag(CASE WHEN value > 100 THEN 1 ELSE 0 END) OVER w
                          <> CASE WHEN value > 100 THEN 1 ELSE 0 END
                  THEN 1 ELSE 0 END AS chg
      FROM events WHERE event_type = 'view'
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), runs AS (
      SELECT user_id, ts, value, st,
             CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY ts
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS _wid
      FROM flagged
    )
    SELECT user_id, _wid, CAST(st AS BIGINT) AS state,
           min(ts) AS _wstart, max(ts) AS _wend, COUNT(*) AS n_rows
    FROM runs GROUP BY user_id, _wid, st
    """,
)
def q_state_threshold(spark, sf_dir):
    """STATE_WINDOW(expr) on a computed predicate (not a raw column)."""
    ev = t(spark, sf_dir, "events").where(F.col("event_type") == "view")
    # value is non-NULL in this dataset (oracle SQL assumes the same),
    # so the predicate state is non-NULL → two-pass kernel
    assigned = assign_state_windows(
        ev, "ts", (F.col("value") > 100).cast("long"), ["user_id"],
        state_nullable=False,
    )
    out = window_agg(
        assigned, "ts", [F.count(F.lit(1)).alias("n_rows2")], ["user_id"],
        keep_state=True, ordered=False,
    )
    return out.select(
        "user_id", "_wid", F.col("_state").alias("state"),
        "_wstart", "_wend", F.col("_wrows").alias("n_rows"),
    )


@q(
    "asof_join_jlimit3",
    f"""
    WITH l AS (
      SELECT event_id, user_id, {TS} AS ts, value AS purchase_value
      FROM events WHERE event_type = 'purchase'
    ), r AS (
      SELECT user_id, {TS} AS ts, value, event_id
      FROM events WHERE event_type = 'click'
    ), j AS (
      SELECT l.event_id, l.user_id, l.ts, l.purchase_value,
             r.ts AS r_ts, r.value AS r_value, r.event_id AS r_event_id,
             CASE WHEN r.ts IS NULL THEN NULL ELSE CAST(
               row_number() OVER (PARTITION BY l.event_id
                                  ORDER BY r.ts DESC, r.value DESC,
                                           r.event_id DESC) AS INT) END AS _jrank
      FROM l LEFT JOIN r ON l.user_id = r.user_id AND r.ts <= l.ts
    )
    SELECT event_id, user_id, ts,
           (ROUND(purchase_value + 0.0000001, 4) + 0) AS purchase_value,
           r_ts, (ROUND(r_value + 0.0000001, 4) + 0) AS r_value,
           r_event_id, _jrank
    FROM j WHERE _jrank <= 3 OR _jrank IS NULL
    """,
)
def q_asof_jlimit3(spark, sf_dir):
    """ASOF LEFT JOIN ... JLIMIT 3 (sql.y:2797-2798): the 3 most recent
    clicks before each purchase per user. The oracle emulates JLIMIT with
    a ranked theta join; the Spark side stays equi-join + window."""
    from tdengine_spark.operators.asofjoin import asof_join as _asof

    ev = t(spark, sf_dir, "events")
    left = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.col("value").alias("purchase_value")
    )
    right = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "value", "event_id"
    )
    out = _asof(left, right, ["user_id"], "ts", jlimit=3)
    return out.select(
        "event_id", "user_id", "ts",
        _r4e(F.col("purchase_value")).alias("purchase_value"),
        "r_ts", _r4e(F.col("r_value")).alias("r_value"),
        "r_event_id", "_jrank",
    )


# ---------------------------------------------------------------------------
# analytics ops (forecast / imputation / anomaly / dtw / tlcc)
# ---------------------------------------------------------------------------

from tdengine_spark.functions.analytics import (  # noqa: E402
    anomaly_zscore,
    dtw_distance,
    forecast_linear,
    impute_missing,
    tlcc,
)


@q(
    "forecast_linear_trend",
    f"""
    WITH fit AS (
      SELECT event_type,
             regr_slope(value, CAST(epoch_us({TS}) AS DOUBLE)) AS m,
             regr_intercept(value, CAST(epoch_us({TS}) AS DOUBLE)) AS b,
             max(epoch_us({TS})) AS t1
      FROM events GROUP BY event_type
    )
    SELECT event_type,
           make_timestamp(CAST(t1 + s * 3600000000 AS BIGINT)) AS ts,
           (ROUND(m * (t1 + s * 3600000000) + b + 0.0000001, 4) + 0)
               AS forecast_value,
           TRUE AS is_forecast
    FROM fit, unnest(generate_series(1, 24)) AS u(s)
    """,
)
def q_forecast(spark, sf_dir):
    """forecast(): 24 hourly instants of per-tag OLS trend (builtins.c:6735
    TDgpt analog, closed-form)."""
    ev = t(spark, sf_dir, "events")
    out = forecast_linear(ev, "ts", "value", 24, "1h", ["event_type"])
    return out.select(
        "event_type", "ts",
        _r4e(F.col("forecast_value")).alias("forecast_value"), "is_forecast",
    )


@q(
    "impute_masked_values",
    f"""
    WITH masked AS (
      SELECT user_id, {TS} AS ts,
             CASE WHEN value < 20 THEN NULL ELSE value END AS v
      FROM events WHERE event_type = 'view'
    ), j AS (
      SELECT user_id, ts, v,
             last_value(v IGNORE NULLS) OVER w AS pv,
             last_value(CASE WHEN v IS NOT NULL THEN epoch_us(ts) END
                        IGNORE NULLS) OVER w AS pt,
             first_value(v IGNORE NULLS) OVER wn AS nv,
             first_value(CASE WHEN v IS NOT NULL THEN epoch_us(ts) END
                         IGNORE NULLS) OVER wn AS nt
      FROM masked
      WINDOW w AS (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wn AS (PARTITION BY user_id ORDER BY ts
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, ts,
           (ROUND(COALESCE(v,
                CASE WHEN pt IS NULL THEN nv
                     WHEN nt IS NULL THEN pv
                     ELSE pv + (nv - pv) *
                          (CAST(epoch_us(ts) - pt AS DOUBLE)
                           / CAST(nt - pt AS DOUBLE)) END)
                 + 0.0000001, 4) + 0) AS v_imputed
    FROM j
    """,
)
def q_impute(spark, sf_dir):
    """imputation(): linear fill of masked samples (imputationoperator.c
    analog)."""
    ev = t(spark, sf_dir, "events").where(F.col("event_type") == "view")
    masked = ev.select(
        "user_id", "ts",
        F.when(F.col("value") < 20, None).otherwise(F.col("value")).alias("v"),
    )
    out = impute_missing(masked, "ts", "v", ["user_id"], method="linear")
    return out.select(
        "user_id", "ts", _r4e(F.col("v_imputed")).alias("v_imputed")
    )


@q(
    "anomaly_detection_zscore",
    f"""
    WITH s AS (
      SELECT user_id, {TS} AS ts, value,
             avg(value) OVER (PARTITION BY user_id) AS mu,
             stddev_pop(value) OVER (PARTITION BY user_id) AS sd
      FROM events
    )
    SELECT user_id, ts,
           (ROUND(CASE WHEN sd > 0 THEN (value - mu) / sd ELSE 0.0 END
                  + 0.0000001, 2) + 0) AS zscore,
           CASE WHEN sd > 0 THEN abs((value - mu) / sd) > 2.5 ELSE FALSE END
               AS is_anomaly
    FROM s
    """,
)
def q_anomaly(spark, sf_dir):
    """anomalycheck(): ksigma z-score flagging (anomalywindowoperator.c
    default algorithm)."""
    ev = t(spark, sf_dir, "events")
    out = anomaly_zscore(ev, "ts", "value", ["user_id"], k=2.5)
    # z-scores divide by stddev, amplifying each engine's summation-order
    # noise to ~1e-7 — 2-decimal rounding keeps the compare stable
    return out.select(
        "user_id", "ts",
        (F.round(F.col("zscore") + F.lit(1e-7), 2) + F.lit(0.0)).alias("zscore"),
        "is_anomaly",
    )


@q("dtw_tlcc_series")  # rows-only: iterative DP, no SQL equivalent
def q_dtw(spark, sf_dir):
    """dtw + tlcc between per-type hourly series (builtins.c:7602-7646)."""
    ev = t(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("h"), "event_type"
        )
        .agg(F.avg("value").alias("v"))
    )
    d = dtw_distance(hourly, "h", "v", "event_type", [("click", "view"), ("click", "error")], window=50)
    c = tlcc(hourly, "h", "v", "event_type", "click", "view", 5).withColumnRenamed("corr", "tlcc_corr")
    return d.crossJoin(c)


@q(
    "string_crypto_functions",
    """
    SELECT doc_id,
           md5(text) AS md5_hex,
           sha256(text) AS sha256_hex,
           to_base64(ENCODE(substr(text, 1, 12))) AS b64,
           length(text) AS len_chars,
           upper(substr(text, 1, 8)) AS up8,
           replace(substr(text, 1, 20), ' ', '_') AS underscored,
           CAST(strpos(text, 'table') AS INT) AS pos_table,
           reverse(substr(text, 1, 10)) AS rev10,
           repeat(substr(text, 1, 2), 3) AS rep3,
           lpad(CAST(doc_id AS VARCHAR), 6, '0') AS padded
    FROM documents
    """,
)
def q_string_crypto(spark, sf_dir):
    """String + crypto scalar family (§2.9): md5/sha2/base64/replace/
    position/repeat/lpad — all built-in, byte-identical to DuckDB."""
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5("text").alias("md5_hex"),
        F.sha2("text", 256).alias("sha256_hex"),
        F.base64(F.substring("text", 1, 12).cast("binary")).alias("b64"),
        F.length("text").alias("len_chars"),
        F.upper(F.substring("text", 1, 8)).alias("up8"),
        F.replace(F.substring("text", 1, 20), F.lit(" "), F.lit("_")).alias(
            "underscored"
        ),
        F.instr("text", "table").alias("pos_table"),
        F.reverse(F.substring("text", 1, 10)).alias("rev10"),
        F.repeat(F.substring("text", 1, 2), 3).alias("rep3"),
        F.lpad(F.col("doc_id").cast("string"), 6, "0").alias("padded"),
    )


# ---------------------------------------------------------------------------
# TSMA transparent rewrite, exercised through the gate
# ---------------------------------------------------------------------------

_TSMA_CATS: dict = {}


@q(
    "tsma_rewritten_6h",
    f"""
    SELECT {bucket_sql(6 * HOUR_US)} AS _wstart, event_type,
           (ROUND(AVG(value) + 0.0000001, 4) + 0) AS avg_value,
           (ROUND(SUM(value) + 0.0000001, 4) + 0) AS sum_value,
           COUNT(value) AS count_value,
           min(value) AS min_value, max(value) AS max_value
    FROM events GROUP BY 1, 2
    """,
)
def q_tsma(spark, sf_dir):
    """INTERVAL(6h) agg transparently rewritten onto a 1h TSMA — the
    oracle aggregates raw rows; the Spark side reads ONLY the pre-agg
    table (reference planOptimizer.c Tsma rule)."""
    import tempfile

    from tdengine_spark.plans.tsma import TsmaCatalog, create_tsma

    if sf_dir not in _TSMA_CATS:
        tsma_dir = tempfile.mkdtemp(prefix="tds_tsma_gate_")
        spec = create_tsma(
            spark, t(spark, sf_dir, "events"), f"{tsma_dir}/events_1h", "1h",
            keys=["event_type"], metrics=["value"],
        )
        cat = TsmaCatalog()
        cat.register(spec)
        _TSMA_CATS[sf_dir] = cat
    cat = _TSMA_CATS[sf_dir]
    out = cat.interval_agg(
        spark, t(spark, sf_dir, "events"), "6h", ["event_type"],
        {"value": ["avg", "sum", "count", "min", "max"]},
    )
    return out.select(
        "_wstart", "event_type",
        _r4e(F.col("avg_value")).alias("avg_value"),
        _r4e(F.col("sum_value")).alias("sum_value"),
        "count_value", "min_value", "max_value",
    )


@q(
    "stateduration_high_value",
    f"""
    WITH s AS (
      SELECT user_id, {TS} AS ts,
             CASE WHEN value > 100 THEN 1 ELSE 0 END AS cond
      FROM events WHERE event_type = 'purchase'
    ), flags AS (
      SELECT user_id, ts, cond,
             CASE WHEN lag(cond) OVER w IS NULL OR lag(cond) OVER w <> cond
                  THEN 1 ELSE 0 END AS flip
      FROM s WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), runs AS (
      SELECT user_id, ts, cond,
             CAST(SUM(flip) OVER (PARTITION BY user_id ORDER BY ts
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS rid
      FROM flags
    )
    SELECT user_id, ts,
           CASE WHEN cond = 1 THEN
                CAST(floor((epoch_us(ts) - min(epoch_us(ts))
                     OVER (PARTITION BY user_id, rid)) / 1000000) AS BIGINT)
           ELSE -1 END AS sd_sec
    FROM runs
    """,
)
def q_stateduration(spark, sf_dir):
    """stateduration(value, gt, 100, 1s) (builtins.c:4296)."""
    from tdengine_spark.functions.indef import stateduration

    ev = t(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    return ev.select(
        "user_id", "ts",
        stateduration("value", "gt", 100, "1s", "ts", ["user_id"]).alias("sd_sec"),
    )


# ---------------------------------------------------------------------------
# round 4: pluggable anomaly detectors, Holt forecast, information_schema,
# interp FILL(none), RIGHT ASOF JOIN, multi-probe ANN
# ---------------------------------------------------------------------------


@q(
    "anomaly_windows_mad",
    """
    WITH s AS (
      SELECT event_type, user_id, CAST(ts AS TIMESTAMP) AS ts, value
      FROM events
    ), m AS (
      SELECT *, quantile_cont(value, 0.5)
                OVER (PARTITION BY event_type) AS med
      FROM s
    ), d AS (
      SELECT *, quantile_cont(abs(value - med), 0.5)
                OVER (PARTITION BY event_type) AS mad
      FROM m
    )
    SELECT event_type, user_id, ts,
           (ROUND(CASE WHEN mad > 0
                       THEN (value - med) / (1.4826 * mad) ELSE 0 END
                  + 0.0000001, 4) + 0) AS score,
           CASE WHEN mad > 0
                THEN abs((value - med) / (1.4826 * mad)) > 3.0
                ELSE FALSE END AS is_anomaly
    FROM d
    """,
)
def q_anomaly_mad(spark, sf_dir):
    """anomalycheck algo=mad (reference algo param,
    anomalywindowoperator.c:138) — robust median/MAD outlier score."""
    from tdengine_spark.functions.analytics import anomaly_detect

    ev = t(spark, sf_dir, "events")
    out = anomaly_detect(ev, "ts", "value", ["event_type"], algo="mad", k=3.0)
    return out.select(
        "event_type", "user_id", "ts",
        _r4e(F.col("score")).alias("score"), "is_anomaly",
    )


@q(
    "anomaly_windows_iqr",
    """
    WITH s AS (
      SELECT event_type, user_id, CAST(ts AS TIMESTAMP) AS ts, value
      FROM events
    ), d AS (
      SELECT *,
             quantile_cont(value, 0.25) OVER (PARTITION BY event_type) AS q1,
             quantile_cont(value, 0.75) OVER (PARTITION BY event_type) AS q3,
             quantile_cont(value, 0.5)  OVER (PARTITION BY event_type) AS med
      FROM s
    )
    SELECT event_type, user_id, ts,
           (ROUND(CASE WHEN q3 - q1 > 0
                       THEN (value - med) / (q3 - q1) ELSE 0 END
                  + 0.0000001, 4) + 0) AS score,
           (value < q1 - 1.5 * (q3 - q1) OR value > q3 + 1.5 * (q3 - q1))
                AS is_anomaly
    FROM d
    """,
)
def q_anomaly_iqr(spark, sf_dir):
    """anomalycheck algo=iqr (Tukey fences, k=1.5)."""
    from tdengine_spark.functions.analytics import anomaly_detect

    ev = t(spark, sf_dir, "events")
    out = anomaly_detect(ev, "ts", "value", ["event_type"], algo="iqr", k=1.5)
    return out.select(
        "event_type", "user_id", "ts",
        _r4e(F.col("score")).alias("score"), "is_anomaly",
    )


@q(
    "forecast_holtwinters",
    """
    WITH s AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
      FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
    ), o AS (
      SELECT *, lag(value) OVER w AS p1, lag(value, 2) OVER w AS p2,
             row_number() OVER w AS rn,
             count(*) OVER (PARTITION BY user_id) AS n,
             max(ts) OVER (PARTITION BY user_id) AS t1
      FROM s WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), f AS (
      SELECT user_id, max(t1) AS t1, max(n) AS n,
             max(CASE WHEN rn = n THEN value END) AS xT,
             max(CASE WHEN rn = n THEN p1 END) AS xT1,
             COALESCE(stddev_pop(CASE WHEN rn = 2 THEN 0.0
                          WHEN rn > 2 THEN value - 2 * p1 + p2 END), 0.0)
                  AS sigma
      FROM o GROUP BY user_id
    )
    SELECT f.user_id,
           make_timestamp(CAST(epoch_us(f.t1) + h.h * 3600000000 AS BIGINT))
               AS ts,
           (ROUND(f.xT + h.h * CASE WHEN f.n >= 2 THEN f.xT - f.xT1
                                    ELSE 0 END + 0.0000001, 4) + 0)
               AS forecast_value,
           (ROUND(f.xT + h.h * CASE WHEN f.n >= 2 THEN f.xT - f.xT1
                                    ELSE 0 END
                  - 1.959963986120195 * f.sigma * sqrt(h.h)
                  + 0.0000001, 4) + 0) AS forecast_low,
           (ROUND(f.xT + h.h * CASE WHEN f.n >= 2 THEN f.xT - f.xT1
                                    ELSE 0 END
                  + 1.959963986120195 * f.sigma * sqrt(h.h)
                  + 0.0000001, 4) + 0) AS forecast_high,
           TRUE AS is_forecast
    FROM f CROSS JOIN (SELECT unnest(generate_series(1, 5)) AS h) h
    """,
)
def q_forecast_holt(spark, sf_dir):
    """forecast algo=holtwinters (reference TDgpt forecast with rows/conf
    params, tanalytics.h:32-46). Gate runs alpha=beta=1 where the Holt
    recursion closes to level=x_T, trend=x_T-x_{T-1} and one-step errors
    x_t-2x_{t-1}+x_{t-2} — SQL-expressible, so the grouping, horizon
    generation, sigma and CI math all hash-verify; the general recursion
    is unit-tested with golden values."""
    from tdengine_spark.functions.analytics import forecast_holt

    ev = t(spark, sf_dir, "events").where(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    )
    out = forecast_holt(
        ev, "ts", "value", horizon_rows=5, every="1h",
        partition_by=["user_id"], alpha=1.0, beta=1.0, conf=0.95,
    )
    return out.select(
        "user_id", "ts",
        _r4e(F.col("forecast_value")).alias("forecast_value"),
        _r4e(F.col("forecast_low")).alias("forecast_low"),
        _r4e(F.col("forecast_high")).alias("forecast_high"),
        "is_forecast",
    )


@q(
    "information_schema_columns",
    """
    SELECT table_name, column_name AS col_name,
           CASE lower(data_type)
                WHEN 'bigint' THEN 'bigint'
                WHEN 'double' THEN 'double'
                WHEN 'varchar' THEN 'string'
                WHEN 'integer' THEN 'int'
                WHEN 'timestamp' THEN 'timestamp'
                WHEN 'timestamp_ns' THEN 'timestamp'
                WHEN 'float[]' THEN 'array<float>'
                WHEN 'date' THEN 'date'
                ELSE lower(data_type) END AS col_type,
           CAST(ordinal_position AS INT) AS col_position
    FROM information_schema.columns
    WHERE table_name IN ('region','nation','customer','supplier','part',
                         'orders','lineitem','events','documents','embeddings')
    """,
)
def q_info_schema_columns(spark, sf_dir):
    """information_schema.ins_columns analog (systable.h:26-70) over the
    testdata catalog."""
    from tdengine_spark.catalog import TESTDATA_TABLES, Database, information_schema

    db = Database(root=sf_dir)
    for name in TESTDATA_TABLES:
        db.table(name)
    out = information_schema(spark, {"testdata": db}, view="ins_columns")
    # Spark reads parquet TIMESTAMP(isAdjustedToUTC=false) as
    # timestamp_ntz; both normalize to the engine-neutral 'timestamp'
    ctype = F.when(
        F.col("col_type") == "timestamp_ntz", F.lit("timestamp")
    ).otherwise(F.col("col_type"))
    return out.select(
        "table_name", "col_name", ctype.alias("col_type"), "col_position"
    )


@q(
    "interp_fill_none",
    f"""
    WITH g AS (
      SELECT event_type, {bucket_sql(HOUR_US * 24)} AS day,
             (ROUND(SUM(value) + 0.0000001, 4) + 0) AS v
      FROM events GROUP BY 1, 2
    ), spine AS (
      SELECT u.event_type,
             unnest(generate_series(TIMESTAMP '2024-01-05',
                    TIMESTAMP '2024-01-25', INTERVAL 1 DAY)) AS _irowts
      FROM (SELECT DISTINCT event_type FROM g) u
    )
    SELECT s.event_type, s._irowts, g.v AS value, FALSE AS _isfilled
    FROM spine s JOIN g
      ON g.event_type = s.event_type AND g.day = s._irowts
    """,
)
def q_interp_none(spark, sf_dir):
    """interp ... FILL(none) — the reference DEFAULT when FILL is omitted
    (FILL_MODE_NONE, parTranslater.c:14626): only instants coinciding
    with a sample, no interpolation. Runs over a day-bucketed series so
    exact hits exist. The groups come from the daily series' own
    bucket rows, so the (aggregated) source is not re-scanned."""
    from tdengine_spark.operators.interp import interp

    ev = t(spark, sf_dir, "events")
    daily = tw.interval_window(
        ev, "ts", "1d", partition_by=["event_type"],
        aggs=[_r4e(F.sum("value")).alias("v")],
        ordered=False,
    ).select("event_type", F.col("_wstart").alias("dts"), "v")
    out = interp(
        daily, "dts", "v", "2024-01-05", "2024-01-25", "1d",
        mode="none", partition_by=["event_type"], out_col="value",
        ordered=False,
    )
    return out.select("event_type", "_irowts", "value", "_isfilled")


@q(
    "right_asof_join",
    """
    SELECT r.event_id, r.user_id, CAST(r.ts AS TIMESTAMP) AS ts,
           CAST(min(l.ts) AS TIMESTAMP) AS matched_ts
    FROM events r LEFT JOIN events l
      ON r.user_id = l.user_id AND l.ts > r.ts
    GROUP BY 1, 2, 3
    """,
)
def q_right_asof(spark, sf_dir):
    """RIGHT ASOF JOIN via the dialect (sql.y:2769-2771 JOIN_TYPE_RIGHT):
    drives from the right table with the flipped ts comparison. Only the
    matched ts is projected so ts-ties can't make the gate flap."""
    from tdengine_spark.dialect import translate

    return translate(
        spark,
        Database(root=sf_dir),
        "SELECT r.event_id, r.user_id, r.ts, l.ts AS matched_ts "
        "FROM events l RIGHT ASOF JOIN events r "
        "ON l.user_id = r.user_id AND l.ts > r.ts",
    )


def _ann_multiprobe_oracle() -> str:
    from tdengine_spark.queries_pipeline import _ANN_MULTIPROBE_SQL

    return _ANN_MULTIPROBE_SQL


@q("ann_multiprobe_topk", _ann_multiprobe_oracle())
def q_ann_multiprobe(spark, sf_dir):
    """Multi-probe LSH ANN (probe_radius=1): recall recovered by probing
    all Hamming-1 buckets — fan-out on the broadcast query side only.
    Integer-exact buckets; value-oracled by a DuckDB replay of the same
    probe/join/rank algorithm."""
    from tdengine_spark.pipeline import similarity as sim

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    return sim.lsh_ann_topk(
        emb, queries, dim=64, k=5, nbits=8, probe_radius=1, quantized=True
    )


_OFF_US = 1_800_000_000  # 30m


@q(
    "interval_1h_offset_30m",
    f"""
    SELECT event_type,
           make_timestamp(CAST(floor((epoch_us(CAST(ts AS TIMESTAMP)) - {_OFF_US})
                / {HOUR_US}) * {HOUR_US} + {_OFF_US} AS BIGINT)) AS _wstart,
           COUNT(*) AS cnt,
           (ROUND(AVG(value) + 0.0000001, 4) + 0) AS avg_v
    FROM events GROUP BY 1, 2
    """,
)
def q_interval_offset(spark, sf_dir):
    """INTERVAL(1h, 30m): buckets anchored at :30 past the hour (the
    reference's interval_offset, timewindow.c getAlignQueryTimeWindow)."""
    ev = t(spark, sf_dir, "events")
    return tw.interval_window(
        ev, "ts", "1h", offset="30m", partition_by=["event_type"],
        aggs=[F.count(F.lit(1)).alias("cnt"), _r4e(F.avg("value")).alias("avg_v")],
    ).select("event_type", "_wstart", "cnt", "avg_v")


@q(
    "string_functions_extended",
    """
    SELECT doc_id,
           CAST(length(text) AS INT) AS n_chars,
           upper(substr(text, 1, 10)) AS head_u,
           lower(substr(text, 1, 10)) AS head_l,
           CAST(position('the' IN lower(text)) AS INT) AS pos_the,
           replace(substr(text, 1, 20), ' ', '_') AS underscored,
           trim(substr(text, 1, 12)) AS trimmed,
           reverse(substr(text, 1, 8)) AS rev8,
           concat_ws('|', source, lang) AS src_lang,
           repeat(lang, 2) AS lang2,
           lpad(lang, 5, '.') AS lang_pad
    FROM documents
    """,
)
def q_string_funcs(spark, sf_dir):
    """String function family (§2.9: length/substr/position/replace/
    trim/reverse/concat_ws/repeat/lpad — builtins.c string registry)."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.length("text").cast("int").alias("n_chars"),
        F.upper(F.substring("text", 1, 10)).alias("head_u"),
        F.lower(F.substring("text", 1, 10)).alias("head_l"),
        F.instr(F.lower(F.col("text")), "the").cast("int").alias("pos_the"),
        F.replace(
            F.substring("text", 1, 20), F.lit(" "), F.lit("_")
        ).alias("underscored"),
        F.trim(F.substring("text", 1, 12)).alias("trimmed"),
        F.reverse(F.substring("text", 1, 8)).alias("rev8"),
        F.concat_ws("|", "source", "lang").alias("src_lang"),
        F.repeat("lang", 2).alias("lang2"),
        F.lpad("lang", 5, ".").alias("lang_pad"),
    )


@q(
    "math_functions_family",
    """
    SELECT event_id,
           abs(value - 100) AS a,
           CAST(ceil(value) AS BIGINT) AS c,
           CAST(floor(value) AS BIGINT) AS f,
           (ROUND(sqrt(abs(value)) + 0.0000001, 4) + 0) AS sq,
           (ROUND(pow(value / 100, 2) + 0.0000001, 4) + 0) AS p2,
           (ROUND(ln(abs(value) + 1) + 0.0000001, 4) + 0) AS lnv,
           (ROUND(log10(abs(value) + 1) + 0.0000001, 4) + 0) AS l10,
           (ROUND(sin(value / 100) + 0.0000001, 4) + 0) AS s,
           (ROUND(cos(value / 100) + 0.0000001, 4) + 0) AS co,
           (ROUND(atan(value / 100) + 0.0000001, 4) + 0) AS at,
           CAST(sign(value - 100) AS INT) AS sg,
           CAST(mod(CAST(floor(value) AS BIGINT), 7) AS BIGINT) AS m7,
           (floor(value * 100) / 100) AS trunc2,
           greatest(value, 100.0) AS g,
           least(value, 100.0) AS l
    FROM events WHERE user_id = 11
    """,
)
def q_math_funcs(spark, sf_dir):
    """Math function family (§2.9: abs/ceil/floor/sqrt/pow/log/trig/
    sign/mod/truncate/greatest/least — builtins.c math registry)."""
    ev = t(spark, sf_dir, "events").where(F.col("user_id") == 11)
    v = F.col("value")
    return ev.select(
        "event_id",
        F.abs(v - 100).alias("a"),
        F.ceil(v).cast("bigint").alias("c"),
        F.floor(v).cast("bigint").alias("f"),
        _r4e(F.sqrt(F.abs(v))).alias("sq"),
        _r4e(F.pow(v / 100, 2)).alias("p2"),
        _r4e(F.log(F.abs(v) + 1)).alias("lnv"),
        _r4e(F.log10(F.abs(v) + 1)).alias("l10"),
        _r4e(F.sin(v / 100)).alias("s"),
        _r4e(F.cos(v / 100)).alias("co"),
        _r4e(F.atan(v / 100)).alias("at"),
        F.signum(v - 100).cast("int").alias("sg"),
        F.pmod(F.floor(v).cast("bigint"), F.lit(7)).cast("bigint").alias("m7"),
        (F.floor(v * 100) / 100).alias("trunc2"),
        F.greatest(v, F.lit(100.0)).alias("g"),
        F.least(v, F.lit(100.0)).alias("l"),
    )


@q(
    "cast_conversion_family",
    """
    SELECT event_id,
           CAST(trunc(value) AS BIGINT) AS v_int,  -- ref cast truncates (C semantics)
           CAST(value AS VARCHAR) AS v_str,
           CAST(CAST(user_id AS VARCHAR) AS BIGINT) AS uid_rt,
           CAST(value > 100 AS BOOLEAN) AS v_gt,
           CAST(CAST(value > 100 AS BOOLEAN) AS INT) AS v_gt_i,
           CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ts_us,
           TRY_CAST(event_type AS DOUBLE) AS bad_cast
    FROM events WHERE user_id = 13
    """,
)
def q_cast_funcs(spark, sf_dir):
    """Cast / conversion family (§2.9 — CAST across numeric/string/bool/
    ts; TRY_CAST NULL on failure, matching the reference's cast guards)."""
    ev = t(spark, sf_dir, "events").where(F.col("user_id") == 13)
    return ev.select(
        "event_id",
        F.col("value").cast("bigint").alias("v_int"),
        F.col("value").cast("string").alias("v_str"),
        F.col("user_id").cast("string").cast("bigint").alias("uid_rt"),
        (F.col("value") > 100).alias("v_gt"),
        (F.col("value") > 100).cast("int").alias("v_gt_i"),
        F.unix_micros("ts").alias("ts_us"),
        F.col("event_type").try_cast("double").alias("bad_cast"),
    )


@q(
    "case_when_bucketing",
    """
    SELECT CASE WHEN value < 50 THEN 'low' WHEN value < 150 THEN 'mid'
                ELSE 'high' END AS bucket,
           event_type, COUNT(*) AS n,
           (ROUND(AVG(value) + 0.0000001, 4) + 0) AS avg_v
    FROM events GROUP BY 1, 2
    """,
)
def q_case_when(spark, sf_dir):
    """CASE WHEN bucketing + groupBy (expression framework §2.2)."""
    ev = t(spark, sf_dir, "events")
    bucket = (
        F.when(F.col("value") < 50, "low")
        .when(F.col("value") < 150, "mid")
        .otherwise("high")
    )
    return ev.groupBy(bucket.alias("bucket"), "event_type").agg(
        F.count(F.lit(1)).alias("n"), _r4e(F.avg("value")).alias("avg_v")
    )


@q(
    "in_filter_scalar_subquery",
    """
    SELECT user_id, COUNT(*) AS n
    FROM events
    WHERE event_type IN ('purchase', 'error')
      AND value > (SELECT AVG(value) FROM events)
    GROUP BY user_id
    """,
)
def q_in_scalar_subquery(spark, sf_dir):
    """IN-list + scalar subquery in WHERE (filter framework §2.2)."""
    ev = t(spark, sf_dir, "events")
    avg_v = ev.agg(F.avg("value")).first()[0]
    return (
        ev.where(F.col("event_type").isin("purchase", "error"))
        .where(F.col("value") > avg_v)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# round-7 dialect surface: semi/anti joins, selection companions, interp
# tolerance, geometry predicates, information_schema (§2.3/§2.4/§2.6/§2.9)
# ---------------------------------------------------------------------------


@q(
    "semi_join_first_match",
    """
    SELECT p.event_id, CAST(p.ts AS TIMESTAMP) AS ats,
           CAST(min(c.ts) AS TIMESTAMP) AS bts
    FROM events p JOIN events c
      ON p.user_id = c.user_id AND c.event_type = 'click'
    WHERE p.event_type = 'purchase'
    GROUP BY 1, 2
    """,
)
def q_semi_join_first(spark, sf_dir):
    """Reference SEMI JOIN (joinoperator.c M_JOIN_SUBTYPE_SEMI): one row
    per driving-side row carrying its FIRST match in the other side's
    row order — projectable, unlike Spark's LEFT SEMI. First-by-ts ==
    min(ts), which the oracle pins."""
    from tdengine_spark.dialect import translate

    return translate(
        spark,
        Database(root=sf_dir),
        "select a.event_id, a.ts ats, b.ts bts "
        "from (select * from events where event_type = 'purchase') a "
        "left semi join (select * from events where event_type = 'click') b "
        "on a.user_id = b.user_id",
    )


@q(
    "anti_join_null_extend",
    """
    SELECT e.event_id, CAST(e.ts AS TIMESTAMP) AS ats,
           CAST(NULL AS TIMESTAMP) AS bts
    FROM events e
    WHERE e.event_type = 'click'
      AND e.user_id NOT IN (
        SELECT user_id FROM events
        WHERE event_type = 'purchase' AND value > 300
      )
    """,
)
def q_anti_join_null_extend(spark, sf_dir):
    """Reference ANTI JOIN: driving rows with no match, other side
    NULL-extended into the projection (not just filtered like Spark's
    LEFT ANTI)."""
    from tdengine_spark.dialect import translate

    return translate(
        spark,
        Database(root=sf_dir),
        "select a.event_id, a.ts ats, b.ts bts "
        "from (select * from events where event_type = 'click') a "
        "left anti join (select * from events "
        "where event_type = 'purchase' and value > 300) b "
        "on a.user_id = b.user_id",
    )


@q(
    "selection_mode_companion",
    """
    WITH g AS (
      SELECT event_type, COUNT(*) AS cnt, MIN(ts) AS fts, MAX(ts) AS lts
      FROM events GROUP BY 1
    )
    SELECT CAST(lts AS TIMESTAMP) AS ats, event_type AS "mode(event_type)"
    FROM g ORDER BY cnt DESC, fts ASC LIMIT 1
    """,
)
def q_selection_mode_companion(spark, sf_dir):
    """Selection-function companion columns (builtins.c
    FUNC_MGT_SELECT_FUNC): plain columns ride the selected row — for
    mode, its LATEST occurrence (doModeAdd updateTupleData re-saves the
    tuple per re-occurrence); count ties break to the earliest first
    occurrence."""
    from tdengine_spark.dialect import translate

    return translate(
        spark, Database(root=sf_dir),
        "select ts ats, mode(event_type) from events",
    )


@q(
    "interp_tolerance_default",
    """
    WITH ev AS (
      SELECT CAST(ts AS TIMESTAMP) AS ts, value FROM events
      WHERE event_type = 'purchase'
    ), spine AS (
      SELECT unnest(generate_series(TIMESTAMP '2024-01-10',
             TIMESTAMP '2024-01-12', INTERVAL 6 HOUR)) AS _irowts
    ), j AS (
      SELECT s._irowts, e.ts AS pt, e.value AS pv
      FROM spine s ASOF JOIN ev e ON s._irowts >= e.ts
    )
    SELECT _irowts, COALESCE(pt <> _irowts, TRUE) AS _isfilled,
           CASE WHEN pt >= _irowts - INTERVAL 2 HOUR THEN pv
                ELSE -1.0 END AS "interp(value)"
    FROM j
    """,
)
def q_interp_tolerance_default(spark, sf_dir):
    """RANGE(t1,t2,tol) fill-distance tolerance with a FILL default
    (timesliceoperator.c surrounding-range): a prev candidate farther
    than 2h yields -1; instants before the first sample emit nothing."""
    from tdengine_spark.dialect import translate

    return translate(
        spark, Database(root=sf_dir),
        "select _irowts, _isfilled, interp(value) from events "
        "where event_type = 'purchase' "
        "range('2024-01-10 00:00:00', '2024-01-12 00:00:00', 2h) "
        "every(6h) fill(prev, -1)",
    )


@q(
    "geometry_covers_points",
    """
    SELECT event_id,
           (CAST(user_id % 10 AS DOUBLE) BETWEEN 2 AND 8
            AND value / 50.0 BETWEEN 2 AND 8) AS covered
    FROM events
    """,
)
def q_geometry_covers(spark, sf_dir):
    """st_covers over an axis-aligned POLYGON (builtins.c:5609) — the
    numpy point-in-polygon kernel against a pure-SQL bounding-box
    oracle (boundary inclusive on both sides)."""
    from tdengine_spark.functions.geometry import geom_covers, geom_from_text

    ev = t(spark, sf_dir, "events")
    square = geom_from_text(
        F.lit("POLYGON ((2 2, 8 2, 8 8, 2 8, 2 2))")
    )
    pt = geom_from_text(
        F.concat(
            F.lit("POINT ("),
            (F.col("user_id") % 10).cast("double").cast("string"),
            F.lit(" "),
            (F.col("value") / 50.0).cast("string"),
            F.lit(")"),
        )
    )
    return ev.select(
        "event_id", geom_covers(square, pt).alias("covered")
    )


@q(
    "information_schema_tables",
    """
    SELECT * FROM (VALUES ('customer'), ('documents'), ('embeddings'),
      ('events'), ('lineitem'), ('nation'), ('orders'), ('part'),
      ('region'), ('supplier')) AS t(table_name)
    """,
)
def q_information_schema_tables(spark, sf_dir):
    """ins_tables via the dialect's information_schema view routing
    (systable.h TSDB_INS_TABLE_TABLES; sysscanoperator.c)."""
    from tdengine_spark.dialect import translate

    return translate(
        spark, Database(root=sf_dir),
        "select table_name from information_schema.ins_tables "
        "order by table_name",
    )


@q(
    "external_window_agg",
    """
    WITH w AS (
      SELECT CAST(ts AS TIMESTAMP) AS _wstart,
             CAST(ts AS TIMESTAMP) + INTERVAL 30 MINUTE AS _wend,
             event_id AS wid
      FROM events WHERE event_type = 'purchase' AND value > 300
    )
    SELECT w._wstart, w._wend, COUNT(*) AS c,
           (ROUND(SUM(e.value) + 0.0000001, 4) + 0) AS sv
    FROM w JOIN events e
      ON e.ts >= w._wstart AND e.ts <= w._wend
    GROUP BY 1, 2
    """,
)
def q_external_window_agg(spark, sf_dir):
    """EXTERNAL_WINDOW (13-TimeSeriesExt/08): per-window aggregates over
    windows defined by the rows of another query — here each high-value
    purchase opens a 30-minute window. Bucketed range join, no
    nested-loop."""
    from tdengine_spark.operators.externalwindow import external_window

    ev = t(spark, sf_dir, "events")
    wins = ev.where(
        (F.col("event_type") == "purchase") & (F.col("value") > 300)
    ).select(
        F.col("ts").alias("_wstart"),
        (F.col("ts") + F.expr("interval 30 minutes")).alias("_wend"),
        F.col("event_id").alias("wid"),
    )
    j = external_window(ev, wins, ts_col="ts")
    return (
        j.groupBy("_ext_wid", "_wstart", "_wend")
        .agg(
            F.count(F.lit(1)).alias("c"),
            (F.round(F.sum("value") + F.lit(1e-7), 4) + F.lit(0.0)).alias("sv"),
        )
        .drop("_ext_wid")
    )


# ---------------------------------------------------------------------------
# round 8: projection-mode windows, INTERVAL AUTO, ALTER evolution
# ---------------------------------------------------------------------------


@q(
    "window_projection_interval",
    f"""
    SELECT {bucket_sql(HOUR_US)} AS _wstart,
           make_timestamp(CAST(floor(epoch_us({TS}) / {HOUR_US})
             * {HOUR_US} + {HOUR_US} - 1000 AS BIGINT)) AS _wend,
           CAST({HOUR_US // 1000} - 1 AS BIGINT) AS _wduration,
           {TS} AS ts, event_id, value AS val
    FROM events WHERE user_id < 20
    """,
)
def q_window_projection_interval(spark, sf_dir):
    """Projection-mode INTERVAL (scalar window operator,
    13-TimeSeriesExt/09-WindowProjection): raw rows labeled with their
    window's pseudo-columns — pure codegen projection, zero shuffle."""
    from tdengine_spark.operators.windowproj import interval_projection

    ev = t(spark, sf_dir, "events").where(F.col("user_id") < 20)
    return interval_projection(ev, "ts", "1h").select(
        "_wstart", "_wend", "_wduration", "ts", "event_id",
        F.col("value").alias("val"),
    )


@q(
    "window_projection_session",
    f"""
    WITH base AS (
      SELECT user_id, {TS} AS ts, value,
             CASE WHEN epoch_us({TS}) - lag(epoch_us({TS}))
                    OVER (PARTITION BY user_id ORDER BY ts)
                  > 1800000000 OR lag(epoch_us({TS}))
                    OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS nf
      FROM events WHERE user_id < 10
    ), wid AS (
      SELECT *, SUM(nf) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS UNBOUNDED PRECEDING) AS _wid
      FROM base
    )
    SELECT user_id, min(ts) OVER w AS _wstart, max(ts) OVER w AS _wend,
           ts, value AS val
    FROM wid WINDOW w AS (PARTITION BY user_id, _wid)
    """,
)
def q_window_projection_session(spark, sf_dir):
    """Projection-mode SESSION window: every row labeled with its
    session's [min ts, max ts] — single (user, ts) shuffle shared by the
    id assignment and the min/max analytic."""
    from tdengine_spark.operators.eventwindow import assign_session_windows
    from tdengine_spark.operators.windowproj import keyed_window_projection

    ev = t(spark, sf_dir, "events").where(F.col("user_id") < 10)
    assigned = assign_session_windows(ev, "ts", "30m", ["user_id"])
    return keyed_window_projection(assigned, "ts", ["user_id"]).select(
        "user_id", "_wstart", "_wend", "ts", F.col("value").alias("val")
    )


@q(
    "interval_auto_origin",
    f"""
    SELECT make_timestamp(CAST(
             floor((epoch_us({TS}) - 1704067200000000 - 1043000000)
                   / {HOUR_US}) * {HOUR_US}
             + 1704067200000000 + 1043000000 AS BIGINT)) AS _wstart,
           COUNT(*) AS n,
           (ROUND(SUM(value) + 0.0000001, 4) + 0) AS sv
    FROM events GROUP BY 1
    """,
)
def q_interval_auto(spark, sf_dir):
    """INTERVAL(1h, AUTO): windows aligned to the query range's origin
    instant instead of the epoch (13-TimeSeriesExt/03-TimeWindow AUTO
    offset) — here an odd origin 2024-01-01 00:17:23."""
    origin_us = 1704067200000000 + 1043000000  # 2024-01-01 00:17:23 UTC
    ev = t(spark, sf_dir, "events")
    return tw.interval_window_auto(
        ev, "ts", "1h", origin_us,
        aggs=[
            F.count(F.lit(1)).alias("n"),
            _r4e(F.sum("value")).alias("sv"),
        ],
    ).select("_wstart", "n", "sv")


@q(
    "alter_table_schema_evolution",
    f"""
    WITH base AS (
      SELECT event_id, {TS} AS ts, value FROM events
      ORDER BY ts, event_id LIMIT 500
    ), evolved AS (
      SELECT event_id, ts, value AS val2, NULL::DOUBLE AS score FROM base
      UNION ALL
      SELECT 900001, TIMESTAMP '2024-02-01 00:00:00', 11.5, 0.75
      UNION ALL
      SELECT 900002, TIMESTAMP '2024-02-01 00:00:01', 12.5, 0.25
    )
    SELECT COUNT(*) AS n, COUNT(score) AS n_score,
           (ROUND(SUM(val2) + 0.0000001, 4) + 0) AS sv,
           (ROUND(SUM(score) + 0.0000001, 4) + 0) AS ss
    FROM evolved
    """,
)
def q_alter_evolution(spark, sf_dir):
    """ALTER TABLE schema evolution end-to-end (sql.y:1091-1117): a
    dataset is written, then ADD COLUMN + RENAME COLUMN evolve it
    (metadata-only overlay, no data rewrite), new rows arrive with the
    new column, and a query reads across both generations."""
    import tempfile

    from tdengine_spark import dialect
    from tdengine_spark.catalog import Database as Db

    d = tempfile.mkdtemp(prefix="tds_alter_gate_")
    db = Db(root=d)
    base = (
        t(spark, sf_dir, "events")
        .orderBy("ts", "event_id")
        .limit(500)
        .select("event_id", "ts", "value")
    )
    base.write.mode("overwrite").parquet(f"{d}/tb_alter.parquet")
    dialect.execute(spark, db, "alter table tb_alter add column score double")
    dialect.execute(spark, db, "alter table tb_alter rename column value val2")
    dialect.execute(
        spark, db,
        "insert into tb_alter (event_id, ts, val2, score) values"
        "(900001, '2024-02-01 00:00:00', 11.5, 0.75)"
        "(900002, '2024-02-01 00:00:01', 12.5, 0.25)",
    )
    return dialect.translate(
        spark, db,
        "select count(*) as n, count(score) as n_score,"
        " (round(sum(val2) + 0.0000001, 4) + 0) as sv,"
        " (round(sum(score) + 0.0000001, 4) + 0) as ss from tb_alter",
    )


@q(
    "ns_precision_interval",
    """
    WITH ns AS (
      SELECT epoch_us(ts) * 1000 + (event_id % 1000) AS ts_ns, value
      FROM events
    )
    SELECT (ts_ns // 600000000000) * 600000000000 AS bucket_ns,
           count(*) AS n,
           min(ts_ns) AS first_ns,
           max(ts_ns) AS last_ns,
           (ROUND(sum(value) + 0.0000001, 4) + 0) AS sum_v
    FROM ns GROUP BY 1 ORDER BY 1
    """,
)
def q_ns_precision_interval(spark, sf_dir):
    """ns-precision end-to-end (SURVEY §1.2/§7 LongType path, taos.h
    TSDB_TIME_PRECISION_NANO): a timestamp[ns] parquet dataset — built
    once from `events` with deterministic sub-microsecond jitter
    (event_id % 1000 ns, so ns fidelity is actually load-bearing) — is
    read through the int64 path (ns as LongType; Spark's TimestampType
    tops out at us) and bucketed/min/max'd with pure integer
    arithmetic. The DuckDB oracle re-derives the same ns values from
    `events`, so the comparison is exact at the nanosecond.

    Scale: the bucket expression is codegen int64 math on the scan
    output; one hash aggregate with map-side partials — the plan shape
    is SF-independent."""
    import os
    import tempfile

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    fixture = os.path.join(
        tempfile.gettempdir(),
        f"tds_ns_fixture_{abs(hash(sf_dir)) % 10**8}.parquet",
    )
    if not os.path.exists(fixture):
        import pyarrow as pa
        import pyarrow.parquet as pq

        pdf = (
            t(spark, sf_dir, "events")
            .select(
                (F.unix_micros("ts") * 1000 + F.pmod("event_id", F.lit(1000)))
                .alias("ts_ns"),
                "value",
            )
            .toPandas()
        )
        tbl = pa.table(
            {
                "ts": pa.Array.from_pandas(
                    pdf["ts_ns"], type=pa.timestamp("ns")
                ),
                "value": pa.array(pdf["value"], type=pa.float64()),
            }
        )
        pq.write_table(tbl, fixture)
    import pyspark.sql.types as T

    # int64 read of the timestamp[ns] column: full ns fidelity (the
    # reference stores epoch int64 in the db precision the same way)
    sch = T.StructType(
        [
            T.StructField("ts", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    ev = spark.read.schema(sch).parquet(fixture)
    w_ns = 600_000_000_000  # 10 minutes in ns
    return (
        ev.groupBy(F.expr(f"ts div {w_ns} * {w_ns}").alias("bucket_ns"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("ts").alias("first_ns"),
            F.max("ts").alias("last_ns"),
            (F.round(F.sum("value") + 0.0000001, 4) + 0).alias("sum_v"),
        )
        .orderBy("bucket_ns")
    )


@q(
    "composite_pk_dedup",
    """
    SELECT CAST(4 AS BIGINT) AS n, CAST(2 AS BIGINT) AS n_ts,
           CAST(2 AS BIGINT) AS n_k, CAST(25.0 AS DOUBLE) AS sv,
           CAST(9.0 AS DOUBLE) AS lr
    """,
)
def q_composite_pk_dedup(spark, sf_dir):
    """COMPOSITE PRIMARY KEY (sql.y:3250 column_options PRIMARY KEY):
    rows are unique on (ts, pk) — two rows may share a timestamp when
    their pk differs, and a duplicate (ts, pk) insert overwrites.
    last_row breaks ts ties on the larger pk. The oracle is the
    hand-computed expectation over the deterministic fixture."""
    import tempfile

    from tdengine_spark import dialect
    from tdengine_spark.catalog import Database as Db

    db = Db(root=tempfile.mkdtemp(prefix="tds_pk_gate_"))
    dialect.execute(
        spark, db,
        "create table pkt (ts timestamp, k int primary key, v double)",
    )
    dialect.execute(
        spark, db,
        "insert into pkt values"
        "('2024-01-01 00:00:00', 1, 5)"    # (t0, k1)
        "('2024-01-01 00:00:00', 2, 7)"    # (t0, k2) — same ts, new pk: kept
        "('2024-01-01 00:00:00', 2, 7)"    # dup (t0, k2): overwritten
        "('2024-01-01 00:00:01', 1, 4)"    # (t1, k1)
        "('2024-01-01 00:00:01', 2, 9)",   # (t1, k2): ts tie — last_row
                                           # picks the larger pk
    )
    return dialect.translate(
        spark, db,
        "select count(*) as n, count(distinct ts) as n_ts,"
        " count(distinct k) as n_k,"
        " (round(sum(v) + 0.0000001, 4) + 0) as sv,"
        " last_row(v) as lr from pkt",
    )


@q(
    "forecast_arima",
    """
    WITH s AS (
      SELECT user_id, ts, value,
             value - lag(value) OVER w AS dv
      FROM events WHERE event_type = 'purchase'
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), s2 AS (
      SELECT user_id, ts, value, dv,
             lag(dv) OVER (PARTITION BY user_id ORDER BY ts) AS dv1
      FROM s
    ), fit AS (
      SELECT user_id,
             regr_slope(dv, dv1) AS phi,
             regr_intercept(dv, dv1) AS c,
             max_by(dv, ts) AS d_t,
             max_by(value, ts) AS y_t,
             max(ts) AS t_t,
             count(dv1) AS n
      FROM s2 GROUP BY user_id
    ), hs AS (
      SELECT unnest(generate_series(1, 6)) AS h
    ), pred AS (
      SELECT f.user_id, h.h, f.t_t, f.y_t,
             f.c * (1 - power(f.phi, h.h)) / (1 - f.phi)
               + power(f.phi, h.h) * f.d_t AS dhat
      FROM fit f CROSS JOIN hs h WHERE f.n >= 3
    )
    SELECT user_id,
           t_t + h * INTERVAL 1 HOUR AS ts,
           (ROUND(y_t + sum(dhat) OVER (PARTITION BY user_id ORDER BY h)
                  + 0.0000001, 4) + 0) AS forecast_value
    FROM pred ORDER BY user_id, ts
    """,
)
def q_forecast_arima(spark, sf_dir):
    """ARIMA(1,1,0) forecast, 6 hourly steps per user — the closed-form
    CSS fit (phi, c from OLS of the differenced series on its lag via
    regr_slope/regr_intercept) stays entirely JVM-side, and the AR
    recursion collapses to the geometric-series closed form, so the
    plan is scan → window-lag → one aggregate → tiny explode: the same
    shape at 100 TB. The general ARIMA(p,d,0) estimator
    (functions/analytics.py forecast_arima, algo='arima') covers p>1
    via applyInPandas; this gate pins the p=1,d=1 case to an exact
    DuckDB oracle."""
    ev = t(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts")
    s = ev.select(
        "user_id", "ts", "value",
        (F.col("value") - F.lag("value").over(w)).alias("dv"),
    )
    s2 = s.withColumn("dv1", F.lag("dv").over(w))
    fit = s2.groupBy("user_id").agg(
        F.expr("regr_slope(dv, dv1)").alias("phi"),
        F.expr("regr_intercept(dv, dv1)").alias("c"),
        F.expr("max_by(dv, ts)").alias("d_t"),
        F.expr("max_by(value, ts)").alias("y_t"),
        F.max("ts").alias("t_t"),
        F.count("dv1").alias("n"),
    )
    pred = (
        fit.where(F.col("n") >= 3)
        .select(
            "user_id", "t_t", "y_t", "phi", "c", "d_t",
            F.explode(F.sequence(F.lit(1), F.lit(6))).alias("h"),
        )
        .withColumn(
            "dhat",
            F.col("c") * (1 - F.pow("phi", "h")) / (1 - F.col("phi"))
            + F.pow("phi", "h") * F.col("d_t"),
        )
    )
    wh = Window.partitionBy("user_id").orderBy("h")
    return pred.select(
        "user_id",
        (F.col("t_t") + F.expr("make_dt_interval(0, h, 0, 0)")).alias("ts"),
        (F.round(F.col("y_t") + F.sum("dhat").over(wh) + 0.0000001, 4) + 0)
        .alias("forecast_value"),
    ).orderBy("user_id", "ts")
