"""Measurement plumbing for the crawl benchmark: spans, process-tree
RSS sampling, plan fingerprints (the anti-pruning guard) and per-step
executor metrics from Spark's event log.

Spans are recorded by the benchmark around its own calls into the
engine; nothing inside the engine is instrumented.
"""

from __future__ import annotations

import contextlib
import glob
import io
import json
import os
import re
import threading
import time
from collections import Counter
from typing import Dict, List, Optional

from metrics import EVENTLOG_FIELDS


class Tracer:
    """In-memory spans: (id, name, start, end, parent, run_id). Spans
    nest by call structure; ``dump`` writes them as JSON at exit."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: List[Dict] = []
        self._stack: List[int] = []
        self._t0 = time.monotonic()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.monotonic() - self._t0,
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic() - self._t0
            self._stack.pop()

    @staticmethod
    def seconds(rec: Dict) -> float:
        return rec["end"] - rec["start"]

    def dump(self, path: str, **extra) -> None:
        with open(path, "w") as f:
            # default=str: a span may hold a call's result (Spark
            # schemas, wave stats)
            json.dump({"run_id": self.run_id, "spans": self.spans, **extra}, f, indent=1,
                      default=str)


# ---- memory -----------------------------------------------------------------

def descendants(root: int) -> List[int]:
    """Pids of every descendant of ``root`` (the driver JVM and the
    Python workers it forks), read from /proc."""
    children: Dict[int, List[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out: List[int] = []
    stack = list(children.get(root, []))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, []))
    return out


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of every descendant of ``root`` (the driver JVM
    and the Python workers it forks), read from the cheap per-process
    counters. A child that shares its parent's executable is a fork:
    it counts only once it execs something else, except Python
    workers, whose anonymous memory is their own."""
    total = 0
    procs = descendants(root)
    exe = {}
    for pid in [root, *procs]:
        try:
            exe[pid] = os.readlink(f"/proc/{pid}/exe")
        except OSError:
            pass
    for pid in procs:
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{pid}/status") as f:
                status = dict(line.split(":", 1) for line in f if ":" in line)
        except (OSError, IndexError, ValueError):
            continue
        forked = exe.get(pid) is not None and exe.get(pid) == exe.get(ppid)
        if forked and "python" not in exe[pid]:
            continue
        field = "RssAnon" if forked else "VmRSS"
        total += int(status.get(field, "0 kB").split()[0]) * 1024
    return total


class MemSampler:
    """Peak of ``tree_rss_bytes(os.getpid())`` while active."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: Optional[threading.Thread] = None

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval)

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


# ---- plan fingerprints --------------------------------------------------------

# operator nodes a pruned plan (e.g. count() over a projection) loses
GUARDED_NODES = (
    "ArrowEvalPython", "BatchEvalPython", "FlatMapCoGroupsInPandas",
    "FlatMapGroupsInPandas", "MapInPandas", "Window", "Sort", "Exchange",
    "SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
    "BroadcastNestedLoopJoin", "CartesianProduct",
)
_NODE_RE = re.compile(r"^[\s:|+\-*]*([A-Za-z]+)\s.*\(\d+\)")


def _tree_lines(plan: str) -> List[str]:
    """Tree lines of the (initial) physical plan in an
    ``explain("formatted")`` text: the ``Initial Plan`` section of an
    executed adaptive plan, else the whole physical plan tree."""
    marker = "== Initial Plan ==" if "== Initial Plan ==" in plan else "== Physical Plan =="
    body = plan.split(marker, 1)[1].split("\n")[1:]
    out = []
    for line in body:
        if not line.strip():
            break
        out.append(line)
    return out


def fingerprint(plan: str) -> Dict[str, int]:
    counts: Counter = Counter()
    for line in _tree_lines(plan):
        m = _NODE_RE.match(line)
        if m and m.group(1) in GUARDED_NODES:
            counts[m.group(1)] += 1
    return dict(sorted(counts.items()))


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def execution_plan(spark, after_id: int) -> str:
    """Physical plan text of the last root SQL execution with an id
    above ``after_id``: the action just run. The last, not the first:
    building some DataFrames already runs jobs (eager local
    checkpoints). Spark's SQL status store keeps the plan with or
    without the web UI."""
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    best = None
    for i in range(execs.size()):
        e = execs.apply(i)
        eid = e.executionId()
        if eid > after_id and e.rootExecutionId() == eid and (
            best is None or eid > best.executionId()
        ):
            best = e
    if best is None:
        raise RuntimeError(f"no SQL execution recorded after {after_id}")
    return best.physicalPlanDescription()


def last_execution_id(spark) -> int:
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return max((execs.apply(i).executionId() for i in range(execs.size())), default=-1)


class PlanGuardError(AssertionError):
    pass


@contextlib.contextmanager
def layer(spark, tracer: Tracer, name: str, **attrs):
    """Span ``name`` that is also the Spark job group of every job
    started inside it, so the event log attributes their tasks."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        with tracer.span(name, **attrs) as rec:
            yield rec
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def guarded_noop(spark, df, tracer: Tracer, name: str, **attrs) -> Dict:
    """Materialize ``df`` into the ``noop`` sink inside ``layer(name)``
    and assert that the executed plan keeps every guarded operator node
    of ``df``'s full plan, with equal counts. Both fingerprints are kept
    on the returned span."""
    want = fingerprint(formatted_plan(df))
    before = last_execution_id(spark)
    with layer(spark, tracer, name, **attrs) as rec:
        df.write.format("noop").mode("overwrite").save()
    got = fingerprint(execution_plan(spark, before))
    rec["plan"] = {"full": want, "executed": got}
    if got != want:
        raise PlanGuardError(f"{name}: executed plan lost operators: full={want} executed={got}")
    return rec


# ---- event log ----------------------------------------------------------------



def eventlog_by_group(log_dir: str) -> Dict[str, Dict[str, float]]:
    """Sum task metrics per job group over every event log in
    ``log_dir`` (read after the session stopped, so the log is
    complete)."""
    stage_group: Dict[int, str] = {}
    out: Dict[str, Dict[str, float]] = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    tm = ev.get("Task Metrics")
                    if not group or not tm:
                        continue
                    acc = out.setdefault(group, dict.fromkeys(EVENTLOG_FIELDS, 0.0))
                    rd = tm.get("Shuffle Read Metrics", {})
                    acc["executor_run_s"] += tm.get("Executor Run Time", 0) / 1000.0
                    acc["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
                    acc["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                        "Local Bytes Read", 0
                    )
                    acc["shuffle_write_bytes"] += tm.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    acc["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0
                    )
    return out
