#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload ts_ingest --seed 1 --seconds 15 --trace 0

Runs one workload in one process on ``local[nproc]`` with one closed-loop
client, from any working directory. The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}; with
``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json, with
``--trace 1`` the per-layer ones. The line before it carries the details:
provenance, workload-specific metrics, tail percentiles, failed ops by
name, and (traced) every per-layer figure.

Everything the run writes goes to a temporary directory inside the
checkout, removed before exit. Exits non-zero, without a result line,
when the engine package is not next to this directory.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ts_ingest", "stream_llm")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "tdengine_spark", "__init__.py")):
        print(f"perfbench: no tdengine_spark package under {ROOT}", file=sys.stderr)
        return 2

    work = tempfile.mkdtemp(prefix=".perfbench-", dir=ROOT)
    os.makedirs(os.path.join(work, "tmp"))
    cwd = os.getcwd()
    # Python workers import tdengine_spark through PYTHONPATH, whatever
    # directory the run starts from
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    # local[nproc] with a fixed heap, whatever the calling environment says
    os.environ.pop("SPARK_MASTER", None)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = "3g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None  # re-read TMPDIR on the next tempfile call
    sys.path.insert(0, ROOT)

    from perfbench import report
    from perfbench.harness import Bench

    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), work)
    code = 0
    try:
        os.chdir(work)
        bench.start_session()
        if args.workload == "ts_ingest":
            from perfbench import ts_ingest as wl
        else:
            from perfbench import stream_llm as wl
        out = wl.run(bench)
        result = report.build(bench, out)
    except Exception:
        traceback.print_exc()
        code = 1
    finally:
        try:
            bench.close()
        finally:
            os.chdir(cwd)
    if code == 0 and args.trace:
        try:
            report.add_event_log(bench, result)
        except Exception:
            traceback.print_exc()
            code = 1
    shutil.rmtree(work, ignore_errors=True)
    if code == 0:
        report.emit(bench, result)
    return code


if __name__ == "__main__":
    sys.exit(main())
