"""Workload ``stream_llm``: the two paths whose work runs in Python/Arrow
workers, with no dialect and no catalog writes.

One pass is fixed work in a seeded order:
  * five continuous-query triggers from ``tdengine_spark.streaming.stream``
    (INTERVAL, SESSION, COUNT_WINDOW, STATE_WINDOW, EVENT_WINDOW), each
    draining a seeded replay of ``events`` (a two-day slice, three
    parquet files in time order) with ``availableNow`` and one file per
    micro-batch into a parquet sink;
  * six LLM data-preparation queries from ``queries.REGISTRY`` over the
    seeded ``documents`` and ``embeddings`` tables, each of them a
    registry entry with a DuckDB oracle: exact dedup, MinHash near-dup
    pairs, cosine top-k, LSH top-k, quality features, language id.

Each sink is checked against a pandas replay of the trigger's semantics
over the same rows; each pipeline result against its registry oracle
SQL run by DuckDB over the same parquet files, except MinHash, whose
oracle (exact all-pairs shingle Jaccard) is evaluated in numpy through an
inverted index. References are computed after the timed pass.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd

from perfbench import check, inputs

PIPELINE = [
    "dedup_exact_documents",
    "minhash_near_dup_pairs",
    "cosine_topk_bruteforce",
    "lsh_ann_topk",
    "quality_features",
    "language_id",
]
TRIGGERS = ["interval", "session", "count", "state", "event"]
REPLAY_DAYS = 2
REPLAY_FILES = 3
# fixed trigger parameters: the seed varies the data, the replay slice and
# the order, not the amount of state each trigger keeps
INTERVAL, INTERVAL_US, INTERVAL_WM_US = "1h", 3_600_000_000, 3_600_000_000
SESSION_GAP, SESSION_GAP_US, SESSION_WM_US = "30m", 1_800_000_000, 7_200_000_000
COUNT_N = 10
EVENT_START, EVENT_END = 180.0, 20.0


# --------------------------------------------------------------------------
# pandas references for the stream triggers (semantics of
# tdengine_spark.streaming.stream, replayed row by row per key)
# --------------------------------------------------------------------------


def _per_key(rows: pd.DataFrame):
    rows = rows.sort_values(["user_id", "ts"], kind="stable")
    for k, g in rows.groupby("user_id", sort=False):
        yield str(k), g["ts"].to_numpy(), g["value"].to_numpy(), g["event_type"].to_numpy()


def ref_interval(rows, width_us):
    t = rows.ts.astype("int64").to_numpy()
    start = (t // width_us) * width_us
    g = rows.assign(_ws=start).groupby(["_ws", "event_type"], as_index=False).agg(
        cnt=("value", "size"), sv=("value", "sum"))
    wm = t.max() - INTERVAL_WM_US
    g = g[g._ws + width_us <= wm]
    return pd.DataFrame({
        "_wstart": pd.to_datetime(g._ws, unit="us"), "_wend": pd.to_datetime(g._ws + width_us, unit="us"),
        "event_type": g.event_type, "cnt": g.cnt.astype("int64"), "sv": g.sv,
    })


def ref_session(rows, gap_us):
    out = []
    wm = rows.ts.astype("int64").max() - SESSION_WM_US
    for k, ts, _, _ in _per_key(rows):
        t = ts.astype("datetime64[us]").astype("int64")
        brk = np.concatenate(([True], np.diff(t) >= gap_us))
        sid = np.cumsum(brk)
        for s in np.unique(sid):
            seg = t[sid == s]
            end = seg[-1] + gap_us
            if end <= wm:
                out.append((seg[0], end, int(k), len(seg)))
    df = pd.DataFrame(out, columns=["_wstart", "_wend", "user_id", "n"])
    df["_wstart"] = pd.to_datetime(df._wstart, unit="us")
    df["_wend"] = pd.to_datetime(df._wend, unit="us")
    return df


def ref_count(rows, n):
    out = []
    for k, ts, v, _ in _per_key(rows):
        for i in range(len(ts) // n):
            out.append((k, ts[i * n], ts[i * n + n - 1], n, round(float(v[i * n:(i + 1) * n].sum()), 4)))
    return pd.DataFrame(out, columns=["k", "_wstart", "_wend", "n_rows", "sum_value"])


def ref_state(rows):
    out = []
    for k, ts, v, st in _per_key(rows):
        brk = np.concatenate(([True], st[1:] != st[:-1]))
        sid = np.cumsum(brk)
        for s in range(1, sid.max()):  # the last run of a key stays open
            m = sid == s
            out.append((k, st[m][0], ts[m][0], ts[m][-1], int(m.sum()), float(v[m].sum())))
    return pd.DataFrame(out, columns=["k", "state", "_wstart", "_wend", "n_rows", "sum_value"])


def ref_event(rows):
    out = []
    for k, ts, v, _ in _per_key(rows):
        open_at, cnt = None, 0
        for i in range(len(v)):
            if open_at is None:
                if v[i] > EVENT_START:
                    open_at, cnt = ts[i], 0
                else:
                    continue
            cnt += 1
            if v[i] < EVENT_END:
                out.append((k, open_at, ts[i], cnt))
                open_at = None
    return pd.DataFrame(out, columns=["k", "_wstart", "_wend", "n_rows"])


def ref_jaccard_pairs(docs: pd.DataFrame, threshold: float = 0.5) -> pd.DataFrame:
    """Exact word-3-gram shingle Jaccard >= threshold over all document
    pairs (the registry's MinHash oracle, evaluated through an inverted
    index instead of DuckDB's quadratic self-join)."""
    ids, sets = docs.doc_id.to_numpy(), []
    for text in docs.text:
        tk = " ".join(text.strip().lower().split()).split(" ")
        sets.append({" ".join(tk[i:i + 3]) for i in range(len(tk) - 2)} if len(tk) >= 3 else {" ".join(tk)})
    index: dict[str, list[int]] = {}
    for i, sh in enumerate(sets):
        for x in sh:
            index.setdefault(x, []).append(i)
    a, b = [], []
    for post in index.values():
        if len(post) > 1:
            p = np.asarray(post)
            ii, jj = np.triu_indices(len(p), 1)
            a.append(p[ii])
            b.append(p[jj])
    key = np.concatenate(a).astype(np.int64) * len(sets) + np.concatenate(b)
    pair, inter = np.unique(key, return_counts=True)
    i, j = pair // len(sets), pair % len(sets)
    size = np.array([len(x) for x in sets])
    jac = np.round(inter / np.maximum(size[i] + size[j] - inter, 1), 4)
    keep = jac >= threshold
    lo, hi = np.minimum(ids[i[keep]], ids[j[keep]]), np.maximum(ids[i[keep]], ids[j[keep]])
    return pd.DataFrame({"id_a": lo, "id_b": hi, "jaccard": jac[keep]})


# --------------------------------------------------------------------------
# the workload
# --------------------------------------------------------------------------


def run(bench) -> dict:
    import duckdb
    from pyspark.sql import functions as F

    from tdengine_spark import queries
    from tdengine_spark.streaming import stream as st

    spark = bench.spark
    seed = bench.seed
    work = bench.work
    queries._register_extensions()
    rng = np.random.default_rng([seed, 20])

    def make_inputs():
        d = os.path.join(work, f"in{len(bench.setup_inputs_ms)}")
        inputs.write_table(inputs.documents(seed), d, "documents")
        inputs.write_table(inputs.embeddings(seed), d, "embeddings")
        ev = inputs.events(seed)
        day0 = inputs.EPOCH_US + int(np.random.default_rng([seed, 21]).integers(0, 28)) * inputs.DAY_US
        t = ev.ts.astype("int64").to_numpy()
        rows = ev[(t >= day0) & (t < day0 + REPLAY_DAYS * inputs.DAY_US)].reset_index(drop=True)
        parts = np.array_split(np.arange(len(rows)), REPLAY_FILES)
        # the warm-up drains the first file only: same code paths, a third
        # of the batches
        for sub, n_files in (("replay", REPLAY_FILES), ("warm", 1)):
            os.makedirs(os.path.join(d, sub))
            for i, part in enumerate(parts[:n_files]):
                path = os.path.join(d, sub, f"part-{i:03d}.parquet")
                rows.iloc[part].to_parquet(path, index=False)
                # distinct modification times keep the pick-up order = time order
                os.utime(path, (i + 1, i + 1))
        return d, rows, rows.iloc[parts[0]]

    root, rows, warm_rows = bench.setup_inputs(make_inputs)
    schema = spark.read.parquet(os.path.join(root, "replay")).schema
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for name in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{root}/{name}.parquet')")

    pending = []  # (op record, reference thunk)
    batch_ms: list[float] = []  # one micro-batch's triggerExecution each
    query_ms: list[float] = []  # one pipeline query each
    progress: dict[str, list] = {}
    drained = {"rows": 0, "seconds": 0.0}
    n_stream = {"i": 0}

    def build_trigger(kind, src):
        if kind == "interval":
            return st.interval_trigger(
                src, "ts", INTERVAL, partition_by=["event_type"], watermark="1 hour",
                aggs=[F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("sv")])
        if kind == "session":
            return st.session_trigger(
                src, "ts", SESSION_GAP, partition_by=["user_id"], watermark="2 hours",
                aggs=[F.count(F.lit(1)).alias("n")])
        if kind == "count":
            return st.count_window_trigger(src, "ts", COUNT_N, "user_id", "value")
        if kind == "state":
            return st.state_window_trigger(src, "ts", "event_type", "user_id", "value")
        return st.event_window_trigger(src, "ts", "user_id", "value", EVENT_START, EVENT_END)

    def reference(kind, rows):
        if kind == "interval":
            return ref_interval(rows, INTERVAL_US)
        if kind == "session":
            return ref_session(rows, SESSION_GAP_US)
        if kind == "count":
            return ref_count(rows, COUNT_N)
        if kind == "state":
            return ref_state(rows)
        return ref_event(rows)

    def stream_op(kind, timed):
        n_stream["i"] += 1
        src_dir, src_rows = (os.path.join(root, "replay"), rows) if timed else (os.path.join(root, "warm"), warm_rows)
        out = os.path.join(work, "sinks", f"{kind}_{n_stream['i']}")

        def fn(op_id):
            with bench.span("streaming.build", op_id):
                src = st.read_stream(spark, src_dir, schema, max_files_per_trigger=1)
                q = (
                    build_trigger(kind, src).writeStream.outputMode("append").format("parquet")
                    .option("path", out).option("checkpointLocation", out + "_ckpt")
                    .trigger(availableNow=True).start()
                )
            t0 = time.perf_counter()
            with bench.span("streaming.drain", op_id):
                q.awaitTermination(60)
            secs = time.perf_counter() - t0
            if q.isActive:
                q.stop()
                raise TimeoutError(f"{kind} trigger did not drain in 60 s")
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            prog = q.recentProgress
            if timed:
                drained["rows"] += len(rows)
                drained["seconds"] += secs
                for pr in prog:
                    batch_ms.append(float(pr["durationMs"]["triggerExecution"]))
                progress.setdefault(kind, []).extend(prog)
            return out, len(prog)

        rec = bench.run_op(f"stream:{kind}", "stream_" + kind, fn, timed)

        def got_and_ref():
            got = pd.read_parquet(rec["result"]) if os.path.isdir(rec["result"]) else pd.DataFrame()
            return got, reference(kind, src_rows)

        pending.append((rec, got_and_ref))

    def oracle(name):
        if name == "minhash_near_dup_pairs":
            return ref_jaccard_pairs(pd.read_parquet(os.path.join(root, "documents.parquet")))
        cur = con.cursor()  # one cursor per thread
        try:
            return cur.execute(queries.REGISTRY[name].oracle).fetchdf()
        finally:
            cur.close()

    oracle_cache: dict[str, pd.DataFrame] = {}

    def pipeline_op(name, timed):
        query = queries.REGISTRY[name]

        def fn(op_id):
            with bench.span("pipeline.build", op_id):
                df = query.spark_fn(spark, root)
            with bench.span("exec.action", op_id):
                pdf = df.toPandas()
            bench.catalyst(df, op_id)
            return pdf, len(pdf)

        rec = bench.run_op(name, "pipeline_" + name, fn, timed)
        if timed:
            query_ms.append(rec["ms"])

        def got_and_ref():
            return rec["result"], oracle_cache[name]

        pending.append((rec, got_and_ref))

    def one_pass(timed=True):
        work_items = [("s", k) for k in TRIGGERS] + [("p", n) for n in PIPELINE]
        for i in rng.permutation(len(work_items)):
            kind, name = work_items[i]
            if kind == "s":
                stream_op(name, timed)
            else:
                pipeline_op(name, timed)

    one_pass(timed=False)  # warm-up: every trigger and query once
    bench.timed_passes(one_pass)

    # the pipeline oracles are independent: compute them side by side
    with ThreadPoolExecutor(max_workers=len(PIPELINE)) as pool:
        oracle_cache.update(zip(PIPELINE, pool.map(oracle, PIPELINE)))
    for rec, thunk in pending:
        if rec["ok"] is False:
            continue
        got, ref = thunk()
        why = check.match(got, ref)
        rec["ok"] = why is None
        rec["error"] = why
        rec["result"] = None
    con.close()

    layers = {}
    if bench.trace:
        layers = _layers(bench, spark, root, progress)
    return {
        "latency_ms": batch_ms + query_ms,
        "latency_groups": {"stream_batch": batch_ms, "pipeline_query": query_ms},
        "rows_per_s": drained["rows"] / drained["seconds"],
        "layers": layers,
        "extra": {
            "stream_batch_ms": {k: [p["durationMs"]["triggerExecution"] for p in ps]
                                for k, ps in sorted(progress.items())},
            "inputs": {"documents": 5000, "embeddings": 2000, "replay_rows": len(rows),
                       "replay_files": REPLAY_FILES, "triggers": TRIGGERS, "pipeline": PIPELINE},
        },
    }


def _layers(bench, spark, root, progress) -> dict:
    """Streaming phases from query progress and the MinHash candidate
    yield (counted outside the timed pass). Pipeline query times are the
    generic ``op.pipeline_<query>_ms``."""
    from tdengine_spark.pipeline import dedup
    from tdengine_spark.queries import t as table

    def med(xs):
        return float(np.median(xs)) if xs else 0.0

    allp = [p for ps in progress.values() for p in ps]
    out = {}
    for key, name in (("addBatch", "add_batch"), ("queryPlanning", "query_planning"),
                      ("latestOffset", "latest_offset"), ("commitOffsets", "commit")):
        out[f"streaming.{name}_ms"] = med([p["durationMs"].get(key, 0) for p in allp])
    last = [ps[-1] for ps in progress.values() if ps]
    out["streaming.state_rows"] = float(sum(
        sum(o.get("numRowsTotal", 0) for o in p.get("stateOperators", [])) for p in last))
    out["streaming.state_bytes"] = float(sum(
        sum(o.get("memoryUsedBytes", 0) for o in p.get("stateOperators", [])) for p in last))
    for kind, ps in progress.items():
        out[f"streaming.{kind}.batch_p50_ms"] = med([p["durationMs"]["triggerExecution"] for p in ps])
    docs = table(spark, root, "documents")
    cands = dedup.minhash_lsh_candidates(dedup.minhash_signatures(docs)).count()
    kept = next((o["rows"] for o in bench.timed_ops()
                 if o["family"] == "pipeline_minhash_near_dup_pairs"), 0)
    out["pipeline.minhash_candidates"] = cands
    out["pipeline.minhash_yield"] = kept / cands if cands else 0.0
    out["pipeline.simhash_yield"] = "not measured: simhash_verified_pairs is not in the mix"
    return out
