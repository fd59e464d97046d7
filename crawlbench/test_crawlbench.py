"""Tests for the benchmark itself (not the engine's suite):

    python -m pytest crawlbench -q

The Spark tests run a crawl on a tiny corpus with ``local[2]``; the
bench-shape pin runs the pure-Python simulator for ~1.5 minutes.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import types

import pytest

from harness import ROOT

sys.path.insert(0, ROOT)

import metrics  # noqa: E402
import workloads as W  # noqa: E402

TINY = dict(n_hosts=3, pages_per_host=12, mega_factor=2, branching=3)


def _tree_digest(path):
    h = hashlib.sha256()
    for base, _dirs, files in sorted(os.walk(path)):
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(base, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def test_same_seed_same_corpus_bytes(tmp_path):
    a = W.corpus(str(tmp_path / "a"), "crawl_bfs", 5)
    b = W.corpus(str(tmp_path / "b"), "crawl_bfs", 5)
    c = W.corpus(str(tmp_path / "c"), "crawl_bfs", 6)
    da, db, dc = (_tree_digest(os.path.dirname(p["pages"])) for p in (a, b, c))
    assert da == db
    assert da != dc


def test_metric_names_and_units_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == metrics.PER_LAYER
    assert [m["name"] for m in bench["end_to_end"]] == list(metrics.END_TO_END)


def test_refuses_more_cores_than_affinity():
    import run

    with pytest.raises(SystemExit):
        run.host_settings(len(os.sched_getaffinity(0)) + 1)


def test_seen_plan_rule():
    """The engine's rule: semi-join once the found history exceeds 4x
    the last link wave's finds, bloom once it also exceeds the
    threshold; final-depth waves probe nothing."""
    from replay import seen_plans

    cfg = W.crawl_config("crawl_polite_incremental")
    stats = [
        {"wave_id": 1, "depth": 0, "found": 138},
        {"wave_id": 2, "depth": 1, "found": 124},
        {"wave_id": 3, "depth": 1, "found": 0},
        {"wave_id": 4, "depth": 2, "found": 0},
        {"wave_id": 6, "depth": 0, "found": 46},
        {"wave_id": 7, "depth": 1, "found": 43},
    ]
    plans = {p["wave_id"]: p for p in seen_plans(stats, cfg)}
    assert not plans[2]["use_semi"] and not plans[4]["link"]
    assert not plans[6]["use_semi"]  # 262 <= 4 x 124
    assert plans[7]["use_semi"] and plans[7]["use_bloom"]  # 308 > 4 x 46, > 128
    bfs = W.crawl_config("crawl_bfs")
    big = [{"wave_id": 1, "depth": 0, "found": 200},
           {"wave_id": 2, "depth": 1, "found": 4800},
           {"wave_id": 3, "depth": 2, "found": 0}]
    assert not any(p["use_bloom"] or p["use_semi"] for p in seen_plans(big, bfs))


@pytest.mark.parametrize("workload", ["crawl_bfs", "crawl_polite_incremental"])
def test_oracle_is_deterministic(workload):
    assert W.expected_fetches(workload, 3) == W.expected_fetches(workload, 3)


def test_simulator_pins_bench_shape_counts():
    """The oracle behind crawl_bfs's check, at bench.py's crawl-gate
    shape and seed 42, gives the pinned 347,137 scheduled / 347,088
    extracted URLs."""
    from pycrawler_spark.simulator import simulate
    from pycrawler_spark.sources.corpus import generate_corpus

    pages, seeds, _ = generate_corpus(
        seed=42, n_hosts=48, pages_per_host=7300, mega_factor=2, branching=84
    )
    sim = simulate({p["url"]: p["html"] for p in pages}, seeds,
                   W.CrawlConfig(depth=2, max_urls=100_000))
    assert sum(1 for f in sim.fetches if f[3] == 1) == 347_137
    assert sum(len(v) - 1 for v in sim.inserted.values()) == 347_088


# ---- with Spark ----------------------------------------------------------------


@pytest.fixture(scope="module")
def tiny_run(tmp_path_factory):
    """A traced crawl_bfs run on a tiny corpus: set-up, one timed job
    (verified) and the layer replays."""
    from crawl import CrawlRunner
    from harness import stop_spark
    from tracing import Tracer

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    saved = W.WORKLOADS["crawl_bfs"]
    W.WORKLOADS["crawl_bfs"] = (TINY, saved[1])
    work = tmp_path_factory.mktemp("bench")
    args = types.SimpleNamespace(workload="crawl_bfs", seed=4, seconds=0, trace=1)
    host = {"cpus": [0, 1], "effective_cpus": 2}
    r = CrawlRunner(args, host, str(work), Tracer("test"))
    try:
        import crawl

        crawl.WORK = str(work)
        r.setup()
        r.timed_loop()
        out = r.per_layer()
        yield r, out
    finally:
        W.WORKLOADS["crawl_bfs"] = saved
        if r.spark is not None:
            stop_spark(r.spark)


def test_tiny_run_is_correct(tiny_run, tmp_path):
    r, out = tiny_run
    assert r.problems == []
    assert out["plans.crawl.waves"] == 3
    assert out["operators.seen.bloom_semi_waves"] == 0
    r.tracer.dump(str(tmp_path / "trace.json"), per_layer=out, replays=r.replays)
    spans = json.loads((tmp_path / "trace.json").read_text())["spans"]
    assert {"plans.crawl.run", "fetch_join", "dedup_budget_kernel"} <= {s["name"] for s in spans}


def test_check_fails_on_wrong_expected_count(tiny_run):
    r, _ = tiny_run
    failed = r.failed
    r.want_inserted += 1
    try:
        r.verify(r.engine, r.jobs[-1])
    finally:
        r.want_inserted -= 1
    assert r.failed == failed + 2  # inserted and found
    assert any("inserted" in p for p in r.problems)
    r.problems.clear()
    r.failed = failed


def test_replay_fetch_join_rows_equal_wave_hits(tiny_run):
    r, _ = tiny_run
    stats = {s["wave_id"]: s for s in r.jobs[-1]["stats"]}
    assert len(r.replays) == 2
    for rec in r.replays:
        assert rec["hits"] == stats[rec["wave_id"]]["hits"]
    link = r.replays[0]
    assert link["found"] == link["found_in_run"]


def test_plan_guard_catches_pruned_plan(tiny_run):
    """count() over a windowed projection drops the Window node: its
    executed plan's fingerprint differs from the full plan's, while a
    guarded noop write keeps every node."""
    from pyspark.sql import Window, functions as F

    from tracing import (Tracer, execution_plan, fingerprint, formatted_plan,
                         guarded_noop, last_execution_id)

    r, _ = tiny_run
    spark = r.spark
    df = spark.range(100).withColumn(
        "rk", F.row_number().over(Window.partitionBy(F.col("id") % 3).orderBy("id"))
    )
    full = fingerprint(formatted_plan(df))
    assert full.get("Window") == 1
    before = last_execution_id(spark)
    df.count()
    assert "Window" not in fingerprint(execution_plan(spark, before))
    span = guarded_noop(spark, df, Tracer("t"), "guard_test")
    assert span["plan"]["executed"] == full
