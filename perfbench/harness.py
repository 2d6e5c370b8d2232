"""Session, timing, tracing and result assembly shared by the workloads.

One ``Bench`` per run: it starts the Spark session, times each operation
the client sends (closed loop, one client thread), samples peak RSS of
the driver Python process plus the JVM over the timed pass, and in a
traced run records spans around every call into a layer plus the Spark
event log. Nothing here reaches inside ``tdengine_spark``: the spans sit
around calls the benchmark makes into its public entry points.
"""

from __future__ import annotations

import json
import os
import platform
import signal
import statistics
import subprocess
import sys
import threading
import time
from contextlib import contextmanager

#: a tail percentile is reported only with at least this many samples
#: beyond it in one run
TAIL_BEYOND = 10
#: input set-ups per run; ``setup_s`` takes their median
SETUP_REPS = 3


def now_ms() -> float:
    return time.perf_counter() * 1e3


def p50(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """(percentile, value) of the highest percentile with TAIL_BEYOND
    samples above it, or None when the run is too short for a percentile
    above the median."""
    n = len(xs)
    if n < 4 * TAIL_BEYOND:
        return None
    s = sorted(xs)
    return round(100.0 * (n - TAIL_BEYOND) / n, 1), s[n - TAIL_BEYOND - 1]


# --------------------------------------------------------------------------
# processes and memory
# --------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


class RssSampler:
    """Peak of (driver Python RSS + JVM RSS), sampled every 50 ms."""

    def __init__(self, jvm_pid: "int | None"):
        self.pids = [os.getpid()] + ([jvm_pid] if jvm_pid else [])
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(rss_mb(p) for p in self.pids))
            self._stop.wait(0.05)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


# --------------------------------------------------------------------------
# the run
# --------------------------------------------------------------------------


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system, including reaped children) of ``pid``
    and all its descendants: the driver, the JVM and the Python workers."""
    hz = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in f[11:15])
        except (OSError, ValueError, IndexError):
            continue
    return total / hz


def cpu_ticks() -> "tuple[int, int]":
    """(steal, total) jiffies from /proc/stat: the share of CPU time the
    hypervisor gave to other guests is (Δsteal / Δtotal)."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7], sum(f)
    except (OSError, ValueError, IndexError):
        return 0, 0


class Bench:
    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, work: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.spark = None
        self.jvm_pid = None
        self.ops: list[dict] = []
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.layers: dict = {}
        self.setup_inputs_ms: list[float] = []
        self.session_start_ms = 0.0
        self.pass_s: list[float] = []
        self.sentinel_ms: list[float] = []
        self.peak_rss_mb = 0.0
        self.pass_window: "tuple[float, float] | None" = None
        self.provenance: dict = {}
        self.cpu_steal_share = 0.0
        self.pass_cpu_s = 0.0
        self._epoch_offset = time.time() * 1e3 - now_ms()
        #: wall-clock seconds of each phase of the run (set-up, warm-up, ...)
        self.phase_s: dict[str, float] = {}
        self._t_phase = now_ms()

    # -- session ------------------------------------------------------------

    def start_session(self) -> None:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # no hsperfdata file in /tmp: the run writes only inside the checkout
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
        }
        if self.trace:
            os.makedirs(os.path.join(self.work, "eventlog"), exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + os.path.join(self.work, "eventlog"),
                    "spark.eventLog.compress": "false",
                }
            )
        t0 = now_ms()
        from tdengine_spark.session import get_spark

        self.spark = get_spark(f"perfbench-{self.workload}", extra_conf=conf)
        self.spark.range(1).collect()
        self.session_start_ms = now_ms() - t0
        kids = descendants(os.getpid())
        self.jvm_pid = next((p for p in kids if _comm(p) == "java"), None)
        self.provenance = provenance(self.spark)
        self.phase("session")

    def phase(self, name: str) -> None:
        """Close the current phase under ``name``."""
        t = now_ms()
        self.phase_s[name] = (t - self._t_phase) / 1e3
        self._t_phase = t

    def setup_inputs(self, fn):
        """Run the input set-up SETUP_REPS times; time each and keep the
        last result (the median time is what ``setup_s`` reports)."""
        out = None
        for _ in range(SETUP_REPS):
            t0 = now_ms()
            out = fn()
            self.setup_inputs_ms.append(now_ms() - t0)
        self.phase("setup")
        return out

    def close(self) -> None:
        """Stop Spark, then the JVM and its Python workers, and wait for
        every one of them to end."""
        if self.spark is None:
            return
        from py4j.protocol import Py4JError
        from pyspark import SparkContext

        procs = descendants(os.getpid())
        try:
            self.spark.stop()
        finally:
            gw = SparkContext._gateway
            if gw is not None:
                try:
                    gw.shutdown()
                except (Py4JError, OSError):  # the JVM may already be gone
                    pass
                proc = getattr(gw, "proc", None)
                if proc is not None:
                    if proc.stdin is not None:
                        proc.stdin.close()
                    proc.terminate()
                    try:
                        proc.wait(timeout=20)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait(timeout=10)
            SparkContext._gateway = None
            SparkContext._jvm = None
            self.spark = None
            deadline = time.time() + 20
            live = [p for p in procs if os.path.exists(f"/proc/{p}")]
            while live and time.time() < deadline:
                time.sleep(0.1)
                live = [p for p in live if _alive(p)]
            for p in live:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass

    # -- spans and ops ------------------------------------------------------

    @contextmanager
    def span(self, name: str, op: "int | None" = None):
        """A traced span (name, start, end, parent, op id); free when the
        run is untraced."""
        if not self.trace:
            yield
            return
        rec = {"name": name, "start": now_ms(), "end": None, "op": op,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = now_ms()

    def run_op(self, name: str, family: str, fn, timed: bool = True) -> dict:
        """One closed-loop operation: ``fn(op_id)`` runs the call into the
        engine and returns (result, rows). Exceptions count as a failed
        op; they are recorded, not raised."""
        op_id = len(self.ops)
        rec = {"id": op_id, "name": name, "family": family, "timed": timed,
               "ok": None, "error": None, "rows": 0, "result": None}
        t0 = now_ms()
        try:
            with self.span(f"op:{family}", op_id):
                rec["result"], rec["rows"] = fn(op_id)
        except Exception as exc:  # any engine error is a failed op
            rec["ok"] = False
            rec["error"] = f"{type(exc).__name__}: {str(exc).splitlines()[0][:300]}"
        rec["t0"], rec["t1"] = t0, now_ms()
        rec["ms"] = rec["t1"] - t0
        self.ops.append(rec)
        return rec

    def timed_passes(self, one_pass) -> None:
        """Run ``one_pass()`` (the fixed work) until ``seconds`` have gone
        by, and at least once; RSS is sampled throughout."""
        self.sentinel()  # its own warm-up
        self.phase("warmup")
        self.sentinel_ms.append(self.sentinel())
        t_start = now_ms()
        steal0, total0 = cpu_ticks()
        cpu0 = tree_cpu_s(os.getpid())
        with RssSampler(self.jvm_pid) as rss:
            while True:
                t0 = now_ms()
                one_pass()
                self.pass_s.append((now_ms() - t0) / 1e3)
                if now_ms() - t_start >= self.seconds * 1e3:
                    break
        self.pass_window = (t_start, now_ms())
        steal1, total1 = cpu_ticks()
        self.pass_cpu_s = (tree_cpu_s(os.getpid()) - cpu0) / len(self.pass_s)
        self.cpu_steal_share = (steal1 - steal0) / max(total1 - total0, 1)
        self.peak_rss_mb = rss.peak
        self.sentinel_ms.append(self.sentinel())
        self.phase("timed")

    def sentinel(self) -> float:
        """A fixed calibration query (same on every workload and seed)."""
        from pyspark.sql import functions as F

        t0 = now_ms()
        self.spark.range(0, 3_000_000, numPartitions=4).select(
            F.sum(F.col("id") % 7), F.countDistinct(F.col("id") % 1000)
        ).collect()
        return now_ms() - t0

    def catalyst(self, df, op_id: int) -> None:
        """Record Catalyst phase times (QueryPlanningTracker) of an
        executed DataFrame into the op's record (traced runs only)."""
        if not self.trace or df is None:
            return
        phases = df._jdf.queryExecution().tracker().phases()
        rec = {}
        for ph in ("analysis", "optimization", "planning"):
            if phases.contains(ph):
                rec[ph] = float(phases.get(ph).get().durationMs())
        self.layers.setdefault("catalyst", {})[op_id] = rec

    # -- results ------------------------------------------------------------

    def timed_ops(self) -> list[dict]:
        return [o for o in self.ops if o["timed"]]

    def epoch_ms(self, t: float) -> float:
        return t + self._epoch_offset


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def provenance(spark) -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "spark_version": spark.version,
        "python_version": platform.python_version(),
    }


def self_times(spans: list[dict]) -> dict[str, float]:
    """Total self time per span name: a span's duration minus the part
    of its interval that its child spans cover."""
    child: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + (s["end"] - s["start"])
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        if s["end"] is None:
            continue
        own = (s["end"] - s["start"]) - child.get(i, 0.0)
        out[s["name"]] = out.get(s["name"], 0.0) + max(own, 0.0)
    return out


def emit(details: dict, correct: bool, attempted: int, failed: int, metrics: dict) -> None:
    print(json.dumps({"details": details}, sort_keys=True, default=str))
    print(
        json.dumps(
            {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
        )
    )
    sys.stdout.flush()
