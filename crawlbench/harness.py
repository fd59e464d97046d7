"""Shared run plumbing: the work directory, the Spark session the
benchmark starts and stops, and the base runner that counts operations
and correctness checks."""

from __future__ import annotations

import os
import time

from tracing import Tracer, descendants

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".crawlbench")

# the workload's set-up step is repeated this many times; setup_s uses
# the median
SETUP_REPEATS = 3


def spark_conf(run_dir: str, trace: bool) -> dict:
    conf = {"spark.ui.showConsoleProgress": "false"}
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def alive(pid: int) -> bool:
    """Running (a zombie has ended and only awaits its reaper)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session, then the JVM gateway and the Python workers it
    forked, and wait until every one of those processes has ended."""
    from pyspark import SparkContext

    pids = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.terminate()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if alive(p)]
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def first_line(e: BaseException) -> str:
    lines = str(e).strip().splitlines()
    return lines[0][:300] if lines else ""


class OpFailed(Exception):
    """An engine call failed; already counted by ``Runner.op``."""


class Runner:
    """One benchmark run: set-up, the timed closed loop, correctness
    checks and (traced runs) the per-layer measurements. Subclasses
    implement ``setup``, ``timed_loop``, ``end_to_end``, ``per_layer``
    and ``details``."""

    def __init__(self, args, host, run_dir, tracer: Tracer):
        self.args = args
        self.host = host
        self.run_dir = run_dir
        self.tracer = tracer
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.problems = []

    def start_session(self):
        from pycrawler_spark.session import get_spark

        with self.tracer.span("session.get_spark") as rec:
            self.spark = get_spark(
                app_name=f"crawlbench-{self.args.workload}",
                master=f"local[{self.host['effective_cpus']}]",
                extra_conf=spark_conf(self.run_dir, bool(self.args.trace)),
            )
        self.get_spark_s = Tracer.seconds(rec)
        return self.spark

    def op(self, name, fn):
        """One counted operation inside a span; a raised error counts
        as a failed operation."""
        self.attempted += 1
        try:
            with self.tracer.span(name) as rec:
                rec["result"] = fn()
            return rec
        except Exception as e:
            self.failed += 1
            self.problems.append(f"{name}: {type(e).__name__}: {first_line(e)}")
            raise OpFailed(name) from e

    def check(self, name, ok: bool, detail) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(f"check {name} failed: {detail}")
