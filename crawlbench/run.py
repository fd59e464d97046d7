#!/usr/bin/env python3
"""pycrawler_spark benchmark: closed-loop crawl and analytics
workloads, with a separate traced run that times each engine layer.

    python3 crawlbench/run.py --workload crawl_bfs --seed 1 --seconds 10 --trace 0

One client (this process) runs one operation at a time on
``local[n]``, n = the CPUs this process may use, pinned with
``taskset``. Set-up is paid and measured before timing. The timed loop
repeats the workload's operation until ``--seconds`` have passed (at
least once), checks its outputs, and prints as its last stdout line
one JSON object ``{correct, attempted, failed, metrics}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. A failed check prints the object with ``correct:
false`` and exits 1. Work files live under ``.crawlbench/`` in the
repo root. README.md in this directory describes the workloads and
metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import uuid

from harness import ROOT, WORK, OpFailed, first_line, stop_spark
from metrics import END_TO_END, PER_LAYER
from tracing import Tracer

CRAWL_WORKLOADS = ("crawl_bfs", "crawl_polite_incremental")
WORKLOADS = CRAWL_WORKLOADS + ("analytics",)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=None,
                   help="Spark local[n] threads (default: every CPU in this "
                        "process's affinity mask; more is refused)")
    return p.parse_args(argv)


def host_settings(cores_req):
    """Cores from the affinity mask (not the CPU count the machine
    advertises) and a driver heap sized from physical RAM, since
    get_spark's 48g default can exceed the host."""
    cpus = sorted(os.sched_getaffinity(0))
    cores = cores_req or len(cpus)
    if cores > len(cpus):
        raise SystemExit(
            f"crawlbench: {cores} cores requested but the affinity mask allows "
            f"only {len(cpus)} ({cpus}); refusing to run"
        )
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    driver_gb = max(1, min(4, int(mem_gb // 4)))
    return {
        "cpus": cpus[:cores],
        "effective_cpus": cores,
        "mem_total_gb": round(mem_gb, 1),
        "driver_mem": f"{driver_gb}g",
    }


def pin_to_cpus(host, argv) -> None:
    """Re-exec under ``taskset`` pinned to exactly the chosen CPUs, so
    JVM helper threads and Python workers cannot spill onto others."""
    cpulist = ",".join(str(c) for c in host["cpus"])
    if os.environ.get("CRAWLBENCH_PINNED") == cpulist or not shutil.which("taskset"):
        return
    env = dict(os.environ, CRAWLBENCH_PINNED=cpulist)
    os.execvpe("taskset", ["taskset", "-c", cpulist, sys.executable,
                           os.path.abspath(__file__), *argv], env)


def isolate_env(host, run_dir) -> None:
    """Keep every temp file, JVM scratch file and spill inside the run
    directory (Spark's local dirs default to java.io.tmpdir)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = host["driver_mem"]
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONHASHSEED"] = "0"


def host_speed() -> float:
    """Million pure-Python loop iterations per second on one core: a
    probe of how busy the host is, recorded before and after the run
    so a slow run can be told from a slow engine."""
    n, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < 0.3:
        for _ in range(10_000):
            n += 1
    return round(n / (time.perf_counter() - t0) / 1e6, 2)


def span_totals(tracer) -> dict:
    out: dict = {}
    for rec in tracer.spans:
        if rec["end"] is not None:
            out[rec["name"]] = round(out.get(rec["name"], 0) + Tracer.seconds(rec), 3)
    return out


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    args = parse_args(argv)
    host = host_settings(args.cores)
    pin_to_cpus(host, argv)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{uuid.uuid4().hex[:8]}"
    run_dir = os.path.join(WORK, "runs", run_id)
    isolate_env(host, run_dir)
    sys.path.insert(0, ROOT)
    try:
        if args.workload in CRAWL_WORKLOADS:
            from crawl import CrawlRunner as runner_cls
        else:
            from analytics import AnalyticsRunner as runner_cls
    except ImportError as e:
        print(f"crawlbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 2

    tracer = Tracer(run_id)
    host["speed_before"] = host_speed()
    runner = runner_cls(args, host, run_dir, tracer)
    metrics = None
    try:
        runner.setup()
        runner.timed_loop()
        metrics = runner.per_layer() if args.trace else runner.end_to_end()
    except OpFailed:
        pass
    except Exception as e:  # reported below, then a non-zero exit
        runner.attempted += 1
        runner.failed += 1
        runner.problems.append(f"{type(e).__name__}: {first_line(e)}")
    finally:
        if runner.spark is not None:
            stop_spark(runner.spark)
    host["speed_after"] = host_speed()

    if args.trace and metrics is not None:
        from replay import add_eventlog_metrics

        add_eventlog_metrics(os.path.join(run_dir, "eventlog"), metrics)
        trace_path = os.path.join(WORK, f"trace-{run_id}.json")
        tracer.dump(trace_path, host=host, per_layer=metrics,
                    replays=getattr(runner, "replays", None))
        print(f"crawlbench: spans written to {os.path.relpath(trace_path, ROOT)}")
    print(json.dumps({"crawlbench": {
        "workload": args.workload, "seed": args.seed, "host": host,
        "details": runner.details(),
        "span_s": span_totals(tracer),
        "fail_ratio": runner.failed / max(1, runner.attempted),
        "problems": runner.problems,
    }}))
    shutil.rmtree(run_dir, ignore_errors=True)
    if metrics is None:
        print("crawlbench: FAILED: " + "; ".join(runner.problems), file=sys.stderr)
        return 1
    units = PER_LAYER if args.trace else END_TO_END
    correct = not runner.problems
    print(json.dumps({
        "correct": correct,
        "attempted": max(1, runner.attempted),
        "failed": runner.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    if not correct:
        print("crawlbench: FAILED: " + "; ".join(runner.problems), file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
