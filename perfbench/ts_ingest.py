"""Workload ``ts_ingest``: the TDengine SQL path, driven through the
dialect (``dialect.translate`` for SELECT, ``dialect.execute`` for DDL and
INSERT), with almost no Python-worker work.

One pass is fixed work in a seeded order:
  * 16 SELECTs over the read-only ``events`` table, one per operator
    family (INTERVAL, SLIDING, FILL prev/linear, interp, SESSION,
    STATE_WINDOW, EVENT_WINDOW, COUNT_WINDOW, ASOF JOIN, WINDOW JOIN,
    twa/percentile/spread, last_row, top, diff/csum/mavg, and an INTERVAL
    answered from the TSMA built at set-up). The seed picks the order,
    the time ranges, the window widths and the count/gap parameters.
  * one ingest round on the ``meters`` super table (taosBenchmark
    ``insert.json`` shape: 10 children, a 10,000-row batch): a
    multi-table INSERT of seeded rows, with a
    share of duplicate (tbname, ts) keys carrying new values and of
    out-of-order timestamps, followed by four reads of the fresh data.

Every SELECT over ``events`` is checked against DuckDB over the same
parquet file; every read of ``meters`` is checked against a pandas
keep-last model of all rows inserted so far. References are computed
after the timed pass.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from perfbench import check, inputs

DAY = pd.Timedelta(days=1)
T0 = pd.Timestamp("2024-01-01")
# taosBenchmark's insert.json writes 10 child tables with batches of
# 10,000 rows. Every INSERT round here is one such batch spread over the
# same 10 children (1,000 rows each), so one round is a tenth of that
# workload's 100,000 rows. On a 4-core VM an INSERT costs ~0.5 s per child
# almost whatever its row count (10 children: 5.0 s at 50 rows each, 5.5 s
# at 1,000), so the round takes about a third of the pass.
CHILDREN = 10
LOCATIONS = ["California.SanFrancisco", "California.LosAngeles", "Beijing.Chaoyang", "Shanghai.Pudong"]
ROWS_PER_CHILD = 1000
DUP_SHARE = 0.05
DISORDER_SHARE = 0.05


def _ts(t: pd.Timestamp) -> str:
    return t.strftime("%Y-%m-%d %H:%M:%S")


def _us(width: str) -> int:
    n, unit = int(width[:-1]), width[-1]
    return n * {"m": 60, "h": 3600, "d": 86400}[unit] * 1_000_000


def _bucket(width: str, col: str = "ts") -> str:
    w = _us(width)
    return f"make_timestamp(CAST(floor(epoch_us({col}) / {w}) * {w} AS BIGINT))"


# --------------------------------------------------------------------------
# SELECT mix over events: (family, dialect SQL, DuckDB reference SQL)
# --------------------------------------------------------------------------


def select_mix(rng: np.random.Generator) -> list[tuple[str, str, str]]:
    def rng_range(span=4):
        # a fixed span keeps the work per statement the same across seeds;
        # the seed picks where the range starts
        lo = T0 + int(rng.integers(0, 30 - span)) * DAY
        return lo, lo + span * DAY

    def where(lo, hi, p=""):
        return f"{p}ts >= '{_ts(lo)}' AND {p}ts < '{_ts(hi)}'"

    def dwhere(lo, hi):
        return f"ts >= TIMESTAMP '{_ts(lo)}' AND ts < TIMESTAMP '{_ts(hi)}'"

    mix = []

    lo, hi = rng_range()
    w = str(rng.choice(["30m", "1h", "2h"]))
    mix.append((
        "interval",
        f"SELECT _wstart, event_type, avg(value) AS avg_value, sum(value) AS sum_value, "
        f"count(*) AS cnt FROM events WHERE {where(lo, hi)} PARTITION BY event_type INTERVAL({w})",
        f"SELECT {_bucket(w)} AS _wstart, event_type, avg(value) AS avg_value, "
        f"sum(value) AS sum_value, count(*) AS cnt FROM events WHERE {dwhere(lo, hi)} GROUP BY 1, 2",
    ))

    lo, hi = rng_range()
    w = str(rng.choice(["1h", "2h"]))
    s = {"1h": "30m", "2h": "1h"}[w]
    mix.append((
        "sliding",
        f"SELECT _wstart, avg(value) AS avg_value, count(*) AS cnt FROM events "
        f"WHERE {where(lo, hi)} INTERVAL({w}) SLIDING({s})",
        f"WITH b AS (SELECT unnest([{_bucket(s)}, {_bucket(s)} - INTERVAL {_us(s) // 60_000_000} MINUTE]) "
        f"AS _wstart, value FROM events WHERE {dwhere(lo, hi)}) "
        f"SELECT _wstart, avg(value) AS avg_value, count(*) AS cnt FROM b GROUP BY 1",
    ))

    for mode in ("prev", "linear"):
        lo, hi = rng_range()
        w = str(rng.choice(["1h", "2h"]))
        agg = (
            f"SELECT {_bucket(w)} AS _wstart, event_type, avg(value) AS v "
            f"FROM events WHERE {dwhere(lo, hi)} GROUP BY 1, 2"
        )
        spine = (
            f"SELECT event_type, unnest(generate_series(lo, hi, INTERVAL {_us(w) // 60_000_000} MINUTE)) AS _wstart "
            f"FROM (SELECT event_type, min(_wstart) lo, max(_wstart) hi FROM a GROUP BY 1)"
        )
        if mode == "prev":
            val = "last_value(a.v IGNORE NULLS) OVER (PARTITION BY s.event_type ORDER BY s._wstart)"
            ref = (
                f"WITH a AS ({agg}), spine AS ({spine}) "
                f"SELECT s.event_type, s._wstart, {val} AS avg_value "
                f"FROM spine s LEFT JOIN a ON s.event_type = a.event_type AND s._wstart = a._wstart"
            )
        else:
            ref = (
                f"WITH a AS ({agg}), spine AS ({spine}), j AS ("
                f"SELECT s.event_type, s._wstart, a.v, "
                f"last_value(a.v IGNORE NULLS) OVER w AS pv, "
                f"last_value(CASE WHEN a.v IS NOT NULL THEN epoch_us(s._wstart) END IGNORE NULLS) OVER w AS pt, "
                f"first_value(a.v IGNORE NULLS) OVER wn AS nv, "
                f"first_value(CASE WHEN a.v IS NOT NULL THEN epoch_us(s._wstart) END IGNORE NULLS) OVER wn AS nt "
                f"FROM spine s LEFT JOIN a ON s.event_type = a.event_type AND s._wstart = a._wstart "
                f"WINDOW w AS (PARTITION BY s.event_type ORDER BY s._wstart ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), "
                f"wn AS (PARTITION BY s.event_type ORDER BY s._wstart ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) "
                f"SELECT event_type, _wstart, CASE WHEN v IS NOT NULL THEN v "
                f"WHEN pt IS NULL OR nt IS NULL THEN NULL "
                f"ELSE pv + (nv - pv) * (CAST(epoch_us(_wstart) - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE)) END AS avg_value "
                f"FROM j"
            )
        mix.append((
            f"fill_{mode}",
            f"SELECT _wstart, event_type, avg(value) AS avg_value FROM events WHERE {where(lo, hi)} "
            f"PARTITION BY event_type INTERVAL({w}) FILL({mode.upper()})",
            ref,
        ))

    lo = T0 + int(rng.integers(1, 27)) * DAY
    hi = lo + 2 * DAY
    e = str(rng.choice(["1h", "2h", "3h"]))
    mix.append((
        "interp",
        f"SELECT _irowts, event_type, interp(value) AS v FROM events PARTITION BY event_type "
        f"RANGE('{_ts(lo)}', '{_ts(hi)}') EVERY({e}) FILL(LINEAR)",
        f"WITH spine AS (SELECT u.event_type, unnest(generate_series(TIMESTAMP '{_ts(lo)}', "
        f"TIMESTAMP '{_ts(hi)}', INTERVAL {_us(e) // 60_000_000} MINUTE)) AS _irowts "
        f"FROM (SELECT DISTINCT event_type FROM events) u), "
        f"p AS (SELECT s.event_type, s._irowts, e.ts AS pt, e.value AS pv FROM spine s "
        f"ASOF LEFT JOIN events e ON s.event_type = e.event_type AND s._irowts >= e.ts), "
        f"n AS (SELECT s.event_type, s._irowts, e.ts AS nt, e.value AS nv FROM spine s "
        f"ASOF LEFT JOIN events e ON s.event_type = e.event_type AND s._irowts <= e.ts) "
        f"SELECT p._irowts, p.event_type, CASE WHEN p.pt = p._irowts THEN p.pv "
        f"ELSE p.pv + (n.nv - p.pv) * (CAST(epoch_us(p._irowts) - epoch_us(p.pt) AS DOUBLE) "
        f"/ CAST(epoch_us(n.nt) - epoch_us(p.pt) AS DOUBLE)) END AS v "
        f"FROM p JOIN n ON p.event_type = n.event_type AND p._irowts = n._irowts "
        f"WHERE p.pt IS NOT NULL AND n.nt IS NOT NULL",
    ))

    lo, hi = rng_range()
    gap = str(rng.choice(["15m", "30m", "1h"]))
    mix.append((
        "session",
        f"SELECT _wstart, _wend, user_id, count(*) AS n_events, sum(value) AS sum_value FROM events "
        f"WHERE {where(lo, hi)} PARTITION BY user_id SESSION(ts, {gap})",
        f"WITH f AS (SELECT user_id, ts, value, CASE WHEN lag(ts) OVER w IS NULL "
        f"OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {_us(gap)} THEN 1 ELSE 0 END AS new_s "
        f"FROM events WHERE {dwhere(lo, hi)} WINDOW w AS (PARTITION BY user_id ORDER BY ts)), "
        f"s AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS wid FROM f) "
        f"SELECT min(ts) AS _wstart, max(ts) AS _wend, user_id, count(*) AS n_events, sum(value) AS sum_value "
        f"FROM s GROUP BY user_id, wid",
    ))

    lo, hi = rng_range()
    mix.append((
        "state",
        f"SELECT _wstart, _wend, user_id, count(*) AS n_rows FROM events WHERE {where(lo, hi)} "
        f"PARTITION BY user_id STATE_WINDOW(event_type)",
        f"WITH f AS (SELECT user_id, ts, event_type, CASE WHEN lag(event_type) OVER w IS NULL "
        f"OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg FROM events "
        f"WHERE {dwhere(lo, hi)} WINDOW w AS (PARTITION BY user_id ORDER BY ts)), "
        f"r AS (SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS wid FROM f) "
        f"SELECT min(ts) AS _wstart, max(ts) AS _wend, user_id, count(*) AS n_rows FROM r GROUP BY user_id, wid",
    ))

    lo, hi = rng_range()
    start_t = int(rng.choice([150, 180]))
    mix.append((
        "event",
        f"SELECT _wstart, _wend, user_id, count(*) AS n_rows FROM events WHERE {where(lo, hi)} "
        f"PARTITION BY user_id EVENT_WINDOW START WITH value > {start_t} END WITH value < 20",
        f"WITH b AS (SELECT user_id, ts, CASE WHEN value > {start_t} THEN 1 ELSE 0 END AS s, "
        f"CASE WHEN value < 20 THEN 1 ELSE 0 END AS e FROM events WHERE {dwhere(lo, hi)}), "
        f"g AS (SELECT *, COALESCE(SUM(e) OVER (PARTITION BY user_id ORDER BY ts "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS seg FROM b), "
        f"o AS (SELECT *, MAX(s) OVER (PARTITION BY user_id, seg ORDER BY ts ROWS UNBOUNDED PRECEDING) AS started, "
        f"MAX(e) OVER (PARTITION BY user_id, seg) AS closed FROM g) "
        f"SELECT min(ts) AS _wstart, max(ts) AS _wend, user_id, count(*) AS n_rows FROM o "
        f"WHERE started = 1 AND closed = 1 GROUP BY user_id, seg",
    ))

    lo, hi = rng_range()
    k = int(rng.choice([5, 10, 20]))
    mix.append((
        "count",
        f"SELECT _wstart, _wend, user_id, count(*) AS n_rows, avg(value) AS avg_value FROM events "
        f"WHERE {where(lo, hi)} PARTITION BY user_id COUNT_WINDOW({k})",
        f"WITH n AS (SELECT user_id, ts, value, (row_number() OVER (PARTITION BY user_id ORDER BY ts) - 1) // {k} AS wid "
        f"FROM events WHERE {dwhere(lo, hi)}) "
        f"SELECT min(ts) AS _wstart, max(ts) AS _wend, user_id, count(*) AS n_rows, avg(value) AS avg_value "
        f"FROM n GROUP BY user_id, wid",
    ))

    lo, hi = rng_range()
    mix.append((
        "asof_join",
        f"SELECT l.ts AS ts, l.user_id AS user_id, l.value AS value, r.ts AS r_ts, r.value AS r_value "
        f"FROM purchases l ASOF JOIN clicks r ON l.ts >= r.ts AND l.user_id = r.user_id "
        f"WHERE {where(lo, hi, 'l.')}",
        f"SELECT l.ts AS ts, l.user_id AS user_id, l.value AS value, r.ts AS r_ts, r.value AS r_value "
        f"FROM (SELECT * FROM events WHERE event_type = 'purchase' AND {dwhere(lo, hi)}) l "
        f"ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r "
        f"ON l.user_id = r.user_id AND l.ts >= r.ts",
    ))

    lo, hi = rng_range()
    off = str(rng.choice(["5m", "10m"]))
    mins = _us(off) // 60_000_000
    mix.append((
        "window_join",
        f"SELECT l.ts AS ts, l.user_id AS user_id, r.ts AS r_ts, r.value AS r_value "
        f"FROM errors l WINDOW JOIN views r ON l.user_id = r.user_id "
        f"WHERE {where(lo, hi, 'l.')} WINDOW_OFFSET(-{off}, {off})",
        f"SELECT l.ts AS ts, l.user_id AS user_id, r.ts AS r_ts, r.value AS r_value "
        f"FROM (SELECT * FROM events WHERE event_type = 'error' AND {dwhere(lo, hi)}) l "
        f"LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') r "
        f"ON l.user_id = r.user_id AND r.ts >= l.ts - INTERVAL {mins} MINUTE "
        f"AND r.ts <= l.ts + INTERVAL {mins} MINUTE",
    ))

    lo, hi = rng_range(10)
    pct = int(rng.choice([50, 90, 95]))
    mix.append((
        "agg",
        f"SELECT event_type, twa(value) AS twa, percentile(value, {pct}) AS pct, spread(value) AS spread "
        f"FROM events WHERE {where(lo, hi)} GROUP BY event_type",
        f"WITH s AS (SELECT event_type, epoch_us(ts) AS t, value, lag(epoch_us(ts)) OVER w AS pt, "
        f"lag(value) OVER w AS pv FROM events WHERE {dwhere(lo, hi)} "
        f"WINDOW w AS (PARTITION BY event_type ORDER BY ts)) "
        f"SELECT event_type, SUM(CASE WHEN pt IS NULL THEN 0 ELSE (value + pv) / 2 * (t - pt) END) "
        f"/ (MAX(t) - MIN(t)) AS twa, quantile_cont(value, {pct / 100}) AS pct, "
        f"max(value) - min(value) AS spread FROM s GROUP BY event_type",
    ))

    lo, hi = rng_range()
    mix.append((
        "select",
        f"SELECT user_id, last_row(ts) AS ts, last_row(value) AS value FROM events "
        f"WHERE {where(lo, hi)} PARTITION BY user_id",
        f"SELECT user_id, max(ts) AS ts, arg_max(value, ts) AS value FROM events "
        f"WHERE {dwhere(lo, hi)} GROUP BY user_id",
    ))

    lo, hi = rng_range()
    k = int(rng.choice([3, 5]))
    mix.append((
        "top",
        f"SELECT event_type, top(value, {k}) AS v FROM events WHERE {where(lo, hi)} PARTITION BY event_type",
        f"SELECT event_type, value AS v FROM (SELECT event_type, value, row_number() OVER "
        f"(PARTITION BY event_type ORDER BY value DESC) AS rn FROM events WHERE {dwhere(lo, hi)}) "
        f"WHERE rn <= {k}",
    ))

    lo, hi = rng_range()
    mix.append((
        "indef",
        f"SELECT user_id, ts, diff(value) AS d, csum(value) AS c, mavg(value, 3) AS m FROM events "
        f"WHERE {where(lo, hi)} PARTITION BY user_id",
        f"WITH o AS (SELECT user_id, ts, value - lag(value) OVER w AS d, "
        f"sum(value) OVER (w ROWS UNBOUNDED PRECEDING) AS c, "
        f"avg(value) OVER (w ROWS 2 PRECEDING) AS m, row_number() OVER w AS rn "
        f"FROM events WHERE {dwhere(lo, hi)} WINDOW w AS (PARTITION BY user_id ORDER BY ts)) "
        f"SELECT user_id, ts, d, c, m FROM o WHERE rn >= 3",
    ))

    w = str(rng.choice(["1h", "2h", "6h"]))
    mix.append((
        "tsma",
        f"SELECT _wstart, event_type, avg(value) AS avg_value, count(*) AS cnt FROM events "
        f"PARTITION BY event_type INTERVAL({w})",
        f"SELECT {_bucket(w)} AS _wstart, event_type, avg(value) AS avg_value, count(*) AS cnt "
        f"FROM events GROUP BY 1, 2",
    ))
    return mix


# --------------------------------------------------------------------------
# ingest on meters
# --------------------------------------------------------------------------


class Meters:
    """The ``meters`` super table, its keep-last model, and the seeded
    INSERT rounds."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        self.model = pd.DataFrame(columns=["tbname", "ts", "current", "voltage", "phase"])
        self.round = 0
        self.next_s = np.zeros(CHILDREN, dtype=np.int64)

    @staticmethod
    def ddl() -> list[str]:
        out = [
            "CREATE STABLE meters (ts TIMESTAMP, current FLOAT, voltage INT, phase FLOAT) "
            "TAGS (groupid INT, location VARCHAR(24))"
        ]
        for i in range(CHILDREN):
            out.append(
                f"CREATE TABLE d{i} USING meters TAGS ({i % 3 + 1}, '{LOCATIONS[i % len(LOCATIONS)]}')"
            )
        return out

    @staticmethod
    def tags() -> pd.DataFrame:
        return pd.DataFrame(
            {
                "tbname": [f"d{i}" for i in range(CHILDREN)],
                "groupid": [i % 3 + 1 for i in range(CHILDREN)],
                "location": [LOCATIONS[i % len(LOCATIONS)] for i in range(CHILDREN)],
            }
        )

    def next_insert(self) -> tuple[str, pd.DataFrame]:
        rng = self.rng
        # every round writes every child, as taosBenchmark's interlaced
        # insert does
        segs, frames = [], []
        for c in range(CHILDREN):
            n = ROWS_PER_CHILD
            # 10 s steps forward from where this child stopped
            secs = self.next_s[c] + 10 * np.arange(1, n + 1)
            self.next_s[c] = secs[-1]
            have = self.model.loc[self.model.tbname == f"d{c}", "ts"]
            n_dup = int(round(DUP_SHARE * n)) if len(have) else 0
            if n_dup:
                old = rng.choice(have.to_numpy(), n_dup, replace=False)
                secs[:n_dup] = ((pd.to_datetime(old) - T0) // pd.Timedelta(seconds=1)).to_numpy()
            n_dis = int(round(DISORDER_SHARE * n))
            pos = rng.choice(np.arange(n_dup, n), n_dis, replace=False)
            secs[pos] = secs[pos] - 10 * rng.integers(1, 4, n_dis) - 5  # off-grid, earlier
            rows = pd.DataFrame(
                {
                    "tbname": f"d{c}",
                    "ts": T0 + pd.to_timedelta(secs, unit="s"),
                    "current": np.round(rng.uniform(8, 12, n), 2),
                    "voltage": rng.integers(215, 226, n),
                    "phase": np.round(rng.uniform(0, 1, n), 2),
                }
            )
            rows = rows.iloc[rng.permutation(n)]
            rows = rows.drop_duplicates(["tbname", "ts"], keep="last")
            frames.append(rows)
            vals = "".join(
                f"('{_ts(r.ts)}', {r.current}, {r.voltage}, {r.phase})" for r in rows.itertuples()
            )
            segs.append(f"d{c} VALUES {vals}")
        batch = pd.concat(frames, ignore_index=True)
        self.round += 1
        return "INSERT INTO " + " ".join(segs), batch

    def apply(self, batch: pd.DataFrame) -> None:
        both = pd.concat([self.model, batch], ignore_index=True) if len(self.model) else batch
        self.model = both.drop_duplicates(["tbname", "ts"], keep="last").reset_index(drop=True)

    def reads(self) -> list[tuple[str, str, "callable"]]:
        """(family, dialect SQL, reference(model) -> DataFrame) for the
        four reads after an INSERT."""
        rng = self.rng
        child = f"d{int(rng.integers(0, CHILDREN))}"
        w = str(rng.choice(["1m", "5m"]))
        tags = self.tags()

        def last_rows(m):
            m = m.sort_values("ts").groupby("tbname").tail(1)
            return m[["tbname", "ts", "current", "voltage", "phase"]]

        def count_child(m):
            return pd.DataFrame({"n": [int((m.tbname == child).sum())]})

        def interval_loc(m):
            m = m.merge(tags, on="tbname")
            b = (m.ts.astype("datetime64[us]").astype("int64") // _us(w)) * _us(w)
            g = m.assign(_wstart=pd.to_datetime(b, unit="us")).groupby(["location", "_wstart"], as_index=False)
            return g["current"].mean().rename(columns={"current": "avg_current"})

        def interp_prev(m):
            m = m.sort_values("ts")
            lo, hi = m.ts.min().floor("1min"), m.ts.max().ceil("1min")
            grid = pd.date_range(lo, hi, freq="1min")
            out = []
            for tb, g in m.groupby("tbname"):
                idx = np.searchsorted(g.ts.to_numpy(), grid.to_numpy(), side="right") - 1
                ok = idx >= 0
                out.append(pd.DataFrame({"_irowts": grid[ok], "tbname": tb, "c": g.current.to_numpy()[idx[ok]]}))
            return pd.concat(out, ignore_index=True)

        m = self.model
        lo, hi = m.ts.min().floor("1min"), m.ts.max().ceil("1min")
        return [
            ("last_row", "SELECT tbname, last_row(ts) AS ts, last_row(current) AS current, "
             "last_row(voltage) AS voltage, last_row(phase) AS phase FROM meters PARTITION BY tbname", last_rows),
            ("count", f"SELECT count(*) AS n FROM {child}", count_child),
            ("interval_loc", f"SELECT _wstart, location, avg(current) AS avg_current FROM meters "
             f"PARTITION BY location INTERVAL({w})", interval_loc),
            ("interp", f"SELECT _irowts, tbname, interp(current) AS c FROM meters PARTITION BY tbname "
             f"RANGE('{_ts(lo)}', '{_ts(hi)}') EVERY(1m) FILL(PREV)", interp_prev),
        ]


# --------------------------------------------------------------------------
# the workload
# --------------------------------------------------------------------------


def run(bench) -> dict:
    import duckdb

    from tdengine_spark.catalog import Database
    from tdengine_spark.dialect import execute, translate
    from tdengine_spark.plans.tsma import TsmaCatalog, create_tsma

    spark = bench.spark
    seed = bench.seed
    work = bench.work

    def make_inputs():
        d = os.path.join(work, f"db{len(bench.setup_inputs_ms)}")
        ev = inputs.events(seed)
        inputs.write_table(ev, d, "events")
        for kind, name in (("purchase", "purchases"), ("click", "clicks"),
                           ("error", "errors"), ("view", "views")):
            inputs.write_table(ev[ev.event_type == kind].reset_index(drop=True), d, name)
        db = Database(root=d)
        cat = TsmaCatalog()
        cat.register(create_tsma(spark, db.read(spark, "events"), os.path.join(d, "tsma_1h"), "1h",
                                 keys=["event_type"], metrics=["value"]))
        for stmt in Meters.ddl():
            execute(spark, db, stmt)
        return d, db, cat

    root, db, cat = bench.setup_inputs(make_inputs)
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    con.execute(
        f"CREATE VIEW events AS SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value "
        f"FROM read_parquet('{root}/events.parquet')"
    )
    rng = np.random.default_rng([seed, 10])
    meters = Meters(np.random.default_rng([seed, 11]))
    pending = []  # (op record, reference thunk)

    def select_op(family, sql, ref_sql, timed):
        def fn(op_id):
            with bench.span("dialect.translate", op_id):
                df = translate(spark, db, sql, tsma_catalog=cat if family == "tsma" else None)
            with bench.span("exec.action", op_id):
                pdf = df.toPandas()
            bench.catalyst(df, op_id)
            return pdf, len(pdf)

        rec = bench.run_op(sql, family, fn, timed)
        pending.append((rec, lambda: con.execute(ref_sql).fetchdf()))

    def ingest_round(timed):
        sql, batch = meters.next_insert()

        def ins(op_id):
            with bench.span("dialect.insert", op_id):
                n = execute(spark, db, sql)
            return n, n

        rec = bench.run_op("INSERT", "insert", ins, timed)
        meters.apply(batch)
        rec["expect_rows"] = len(batch)
        pending.append((rec, None))
        model = meters.model.copy()
        for family, rsql, ref_fn in meters.reads():
            def read(op_id, rsql=rsql):
                with bench.span("dialect.translate", op_id):
                    df = translate(spark, db, rsql)
                with bench.span("exec.action", op_id):
                    pdf = df.toPandas()
                bench.catalyst(df, op_id)
                return pdf, len(pdf)

            r = bench.run_op(rsql, "read_" + family, read, timed)
            pending.append((r, lambda f=ref_fn, m=model: f(m)))

    def one_pass(timed=True):
        mix = select_mix(rng)
        order = list(rng.permutation(len(mix) + 1))
        for i in order:
            if i == len(mix):
                ingest_round(timed)
            else:
                select_op(*mix[i], timed)

    one_pass(timed=False)  # warm-up: every statement family once
    bench.timed_passes(one_pass)

    # references, outside the timed pass
    for rec, ref in pending:
        if rec["ok"] is False:
            continue
        if ref is None:  # INSERT: acknowledged row count
            rec["ok"] = rec["result"] == rec["expect_rows"]
            if not rec["ok"]:
                rec["error"] = f"acknowledged {rec['result']} rows, sent {rec['expect_rows']}"
            continue
        why = check.match(rec["result"], ref())
        rec["ok"] = why is None
        rec["error"] = why
        rec["result"] = None
    con.close()

    ops = bench.timed_ops()
    inserts = [o for o in ops if o["family"] == "insert"]
    files, size = 0, 0
    for dirpath, _, names in os.walk(os.path.join(root, "meters.parquet")):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    n_inserts = sum(1 for o in bench.ops if o["family"] == "insert")
    rows_acked = sum(o["rows"] for o in inserts if o["ok"])
    return {
        "latency_ms": [o["ms"] for o in ops if o["family"] != "insert"],
        "latency_groups": {
            "select": [o["ms"] for o in ops if o["family"] != "insert" and not o["family"].startswith("read_")],
            "read": [o["ms"] for o in ops if o["family"].startswith("read_")],
        },
        "rows_per_s": rows_acked / (sum(o["ms"] for o in inserts) / 1e3),
        "extra": {
            "insert_p50_ms": float(np.median([o["ms"] for o in inserts])),
            "stored_bytes_per_row": size / max(len(meters.model), 1),
            "catalog.files": files,
            "catalog.stored_bytes": size,
            "catalog.files_per_insert": files / max(n_inserts, 1),
            "inputs": {"events_rows": 100_000, "meters_children": CHILDREN,
                       "rows_per_insert": ROWS_PER_CHILD * CHILDREN,
                       "live_meters_rows": len(meters.model)},
        },
    }
