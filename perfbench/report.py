"""Turn one run's records into the result line.

End-to-end metrics (``--trace 0``) and per-layer metrics (``--trace 1``)
are the ones BENCHMARK.json names; everything else a run measured goes to
the details line printed just before the result.
"""

from __future__ import annotations

import glob
import json
import math
import os
import statistics

from perfbench.harness import TAIL_BEYOND, emit as _emit, p50, self_times, tail

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "latency_p50_ms": "ms",
    "op_latency_gmean_ms": "ms",
    "pass_cpu_s": "s",
    "ok_ops_ratio": "ratio",
}

PER_LAYER = {
    "session.start_ms": "ms",
    "setup.inputs_ms": "ms",
    "driver.build_ms": "ms",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.action_ms": "ms",
    "exec.jobs_per_op": "count",
    "exec.stages_per_op": "count",
    "exec.tasks_per_op": "count",
    "spark.task_run_ms": "ms",
    "spark.task_cpu_ms": "ms",
    "spark.task_wait_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.input_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.spill_bytes": "B",
    "python.bytes_to_worker": "B",
    "python.bytes_from_worker": "B",
    "drift.sentinel_start_ms": "ms",
    "drift.sentinel_end_ms": "ms",
    "trace.pass_s": "s",
}

#: span names that build a plan on the driver (no Spark job yet)
BUILD_SPANS = ("dialect.translate", "pipeline.build", "streaming.build")
ACTION_SPANS = ("exec.action", "streaming.drain")


def build(bench, out: dict) -> dict:
    bench.phase("checks")
    timed = bench.timed_ops()
    lat = out["latency_ms"]
    ok = sum(1 for o in timed if o["ok"])
    t = tail(lat)
    failed_names = sorted({f"{o['family']}: {o['error']}" for o in bench.ops if not o["ok"]})
    # every op family weighs the same here, however many samples it has
    # and wherever its latency sits relative to the pooled median
    fam: dict[str, list] = {}
    for o in timed:
        fam.setdefault(o["family"], []).append(o["ms"])
    fam_p50 = {k: p50(v) for k, v in sorted(fam.items())}
    metrics = {
        "setup_s": bench.session_start_ms / 1e3 + statistics.median(bench.setup_inputs_ms) / 1e3,
        "pass_s": statistics.median(bench.pass_s),
        "latency_p50_ms": p50(lat),
        "op_latency_gmean_ms": math.exp(statistics.fmean(math.log(v) for v in fam_p50.values())),
        "pass_cpu_s": bench.pass_cpu_s,
        "ok_ops_ratio": ok / len(timed),
    }
    details = {
        "workload": bench.workload,
        "seed": bench.seed,
        "seconds": bench.seconds,
        "trace": int(bench.trace),
        "provenance": bench.provenance,
        "passes": len(bench.pass_s),
        "pass_s_all": bench.pass_s,
        "latency_samples": len(lat),
        "latency_p50_ms_by_group": {k: p50(v) for k, v in out["latency_groups"].items()},
        "op_family_p50_ms": fam_p50,
        "latency_tail_ms": (
            {"percentile": t[0], "value": t[1], "samples": len(lat)}
            if t else f"omitted: {len(lat)} samples cannot support a percentile "
                      f"above the median with {TAIL_BEYOND} beyond it"
        ),
        "setup_inputs_ms_all": bench.setup_inputs_ms,
        "session_start_ms": bench.session_start_ms,
        "phase_s": bench.phase_s,
        "drift.sentinel_ms": bench.sentinel_ms,
        "cpu_steal_share": bench.cpu_steal_share,
        "failed_ops": failed_names,
        "op_ms": [[o["family"], round(o["ms"], 1), o["rows"]] for o in timed],
        "warmup_ops": len(bench.ops) - len(timed),
        # reported, not gated: a single INSERT per pass (ts_ingest) and
        # G1 heap-growth steps make these swing more than the gate bounds
        "rows_per_s": out["rows_per_s"],
        "peak_rss_mb": bench.peak_rss_mb,
        "workload_metrics": out.get("extra", {}),
    }
    result = {
        "correct": all(o["ok"] for o in bench.ops),
        "attempted": len(timed),
        "failed": len(timed) - ok,
        "e2e": metrics,
        "details": details,
        "layers": {},
    }
    if bench.trace:
        result["layers"] = _span_layers(bench, out)
    return result


def _span_layers(bench, out: dict) -> dict:
    timed = {o["id"] for o in bench.timed_ops()}
    by_op: dict[int, list] = {}
    for s in bench.spans:
        if s["op"] in timed:
            by_op.setdefault(s["op"], []).append(s)
    build_ms, action_ms = [], []
    for spans in by_op.values():
        st = self_times(spans)
        b = sum(v for k, v in st.items() if k in BUILD_SPANS)
        a = sum(v for k, v in st.items() if k in ACTION_SPANS)
        if b:
            build_ms.append(b)
        if a:
            action_ms.append(a)
    cat = {k: v for k, v in bench.layers.get("catalyst", {}).items() if k in timed}
    layers = {
        "session.start_ms": bench.session_start_ms,
        "setup.inputs_ms": statistics.median(bench.setup_inputs_ms),
        "driver.build_ms": p50(build_ms),
        "exec.action_ms": p50(action_ms),
        "drift.sentinel_start_ms": bench.sentinel_ms[0],
        "drift.sentinel_end_ms": bench.sentinel_ms[-1],
        "trace.pass_s": statistics.median(bench.pass_s),
    }
    # tracker phases have millisecond resolution: report the total per
    # pass, not a per-op median of small integers
    for ph in ("analysis", "optimization", "planning"):
        layers[f"catalyst.{ph}_ms"] = sum(r.get(ph, 0.0) for r in cat.values()) / len(bench.pass_s)
    # per span name: self time per pass and p50 per op (dialect.translate_ms,
    # dialect.insert_ms, streaming.drain_ms, ...); per family: op latency p50
    n_pass = len(bench.pass_s)
    tot = self_times([s for s in bench.spans if s["op"] in timed])
    layers["self_ms_per_pass"] = {k: v / n_pass for k, v in sorted(tot.items())}
    per_span: dict[str, list] = {}
    for spans in by_op.values():
        for name, ms in self_times(spans).items():
            if not name.startswith("op:"):
                per_span.setdefault(name, []).append(ms)
    for name, v in sorted(per_span.items()):
        layers.setdefault(f"{name}_ms", p50(v))
    fam: dict[str, list] = {}
    for o in bench.timed_ops():
        fam.setdefault(o["family"], []).append(o["ms"])
    layers.update({f"op.{k}_ms": p50(v) for k, v in sorted(fam.items())})
    layers.update(out.get("layers", {}))
    return layers


def add_event_log(bench, result: dict) -> None:
    """Executor-side figures from the Spark event log, over the timed
    passes only (jobs by submission time, tasks by launch time)."""
    lo, hi = (bench.epoch_ms(t) for t in bench.pass_window)
    jobs, stages, tasks = 0, set(), 0
    acc = dict.fromkeys(
        ("run", "cpu", "wait", "gc", "input", "shw", "shr", "spill", "py_to", "py_from"), 0.0
    )
    files = glob.glob(os.path.join(bench.work, "eventlog", "**", "events_*"), recursive=True)
    files += glob.glob(os.path.join(bench.work, "eventlog", "local-*"))
    if not files:
        raise RuntimeError("traced run wrote no Spark event log")
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    if lo <= ev.get("Submission Time", 0) <= hi:
                        jobs += 1
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info", {})
                    if not lo <= info.get("Launch Time", 0) <= hi:
                        continue
                    tasks += 1
                    stages.add((ev.get("Stage ID"), ev.get("Stage Attempt ID")))
                    m = ev.get("Task Metrics") or {}
                    run = m.get("Executor Run Time", 0)
                    acc["run"] += run
                    acc["cpu"] += m.get("Executor CPU Time", 0) / 1e6
                    acc["gc"] += m.get("JVM GC Time", 0)
                    dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                    acc["wait"] += max(
                        0, dur - run - m.get("Executor Deserialize Time", 0)
                        - m.get("Result Serialization Time", 0)
                    )
                    acc["input"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    acc["shw"] += sw.get("Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    acc["shr"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    acc["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    for a in info.get("Accumulables", []):
                        name = str(a.get("Name", ""))
                        try:
                            upd = float(a.get("Update", 0))
                        except (TypeError, ValueError):
                            continue
                        if "sent to Python workers" in name:
                            acc["py_to"] += upd
                        elif "returned from Python workers" in name:
                            acc["py_from"] += upd
    n_ops = max(len(bench.timed_ops()), 1)
    n_pass = max(len(bench.pass_s), 1)
    L = result["layers"]
    L.update(
        {
            "exec.jobs_per_op": jobs / n_ops,
            "exec.stages_per_op": len(stages) / n_ops,
            "exec.tasks_per_op": tasks / n_ops,
            "spark.task_run_ms": acc["run"] / n_pass,
            "spark.task_cpu_ms": acc["cpu"] / n_pass,
            "spark.task_wait_ms": acc["wait"] / n_pass,
            "spark.gc_ms": acc["gc"] / n_pass,
            "spark.input_bytes": acc["input"] / n_pass,
            "spark.shuffle_write_bytes": acc["shw"] / n_pass,
            "spark.shuffle_read_bytes": acc["shr"] / n_pass,
            "spark.spill_bytes": acc["spill"] / n_pass,
            "python.bytes_to_worker": acc["py_to"] / n_pass,
            "python.bytes_from_worker": acc["py_from"] / n_pass,
        }
    )


def emit(bench, result: dict) -> None:
    if bench.trace:
        names = PER_LAYER
        src = result["layers"]
        result["details"]["layers"] = {k: v for k, v in src.items() if k not in PER_LAYER}
    else:
        names, src = END_TO_END, result["e2e"]
    metrics = {k: {"value": float(src[k]), "unit": u} for k, u in names.items()}
    if bench.trace:
        result["details"]["end_to_end_traced"] = result["e2e"]
    _emit(result["details"], result["correct"], result["attempted"], result["failed"], metrics)
