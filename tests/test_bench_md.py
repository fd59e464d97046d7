"""bench.py's BENCH.md writer: it fills only the marked table block,
from a result dict (canned here: no Spark, no crawl)."""

import pytest

import bench


def _crawl(cores, wall, ups, steady):
    return {"cores": cores, "wall_sec": wall, "scheduled": 347137,
            "extracted": 347088, "urls_per_sec": ups,
            "steady_urls_per_sec": steady, "host_capacity_before": 15.2,
            "steady_wave": {"wave_id": 3, "scheduled": 339000,
                            "found": 0, "wall_sec": 41.5}}


def _ops(cores, k):
    names = (bench.OPS_PAIR + bench.OPS_SCALED + bench.OPS_CORRECTED
             + bench.OPS_MEGA + bench.OPS_MAPONLY + ["spark_shuffle_ideal"])
    out = {n: round(k * (i + 1), 3) for i, n in enumerate(names)}
    out.update(cores=cores, stream_crawl_urls_per_sec=1000.0 / k,
               host_capacity_before=15.0, host_bandwidth_before=12.1)
    return out


def _result():
    ops = {"small": _ops(1, 4.0), "big": _ops(4, 1.25), "small_rerun": _ops(1, 4.4)}
    return {
        "metric": "crawl steady-state scaling efficiency, N -> 4N",
        "value": 0.812, "unit": "efficiency", "effective_cpus": 4,
        "cpus": {"small": [0], "big": [0, 1, 2, 3]},
        "small": _crawl(1, 301.5, 2302.4, 3912.7),
        "big": _crawl(4, 95.1, 7299.8, 12708.3),
        "crawl_scaling_efficiency": 0.793,
        "crawl_steady_scaling_efficiency": 0.812,
        "crawl_steady_scaling_pair_effs": [0.812],
        "crawl_steady_scaling_efficiency_median": 0.812,
        "host_raw_cpu_scaling_ceiling": 0.91,
        "crawl_counts_match_r4": True,
        "ops": {**ops, "pair_effs": bench.ops_pair_effs(ops)},
        "priority": {"cores": 4, "priority_crawl_fifo_wall_sec": 30.1,
                     "priority_crawl_fifo_urls_per_sec": 2100.0,
                     "priority_crawl_fifo_waves": 7,
                     "priority_crawl_priority_wall_sec": 31.0,
                     "priority_crawl_priority_urls_per_sec": 2040.0,
                     "priority_crawl_priority_waves": 7,
                     "priority_crawl_overhead_pct": 2.9,
                     "priority_fetch_set_parity": True},
    }


def test_write_bench_md_fills_only_the_marker_block(tmp_path):
    md = tmp_path / "BENCH.md"
    head = "# BENCH\n\nHand-kept prose before.\n\n"
    tail = "\n\nHand-kept prose after.\n"
    md.write_text(f"{head}{bench.BEGIN}\nstale table\n{bench.END}{tail}")
    result = _result()
    bench.write_bench_md(result, str(md))
    text = md.read_text()
    assert text.startswith(head + bench.BEGIN) and text.endswith(bench.END + tail)
    block = text[len(head):-len(tail)]
    assert "stale table" not in block
    assert "| local[1] | 301.5 | 347137 | 347088 | 2302.4 | 3912.7 | 15.2 |" in block
    assert "| local[4] | 95.1 |" in block
    assert "**0.812**" in block and "| crawl_counts_match_r4 | True |" in block
    # operator pair: 4.0 s at local[1] vs 1.25 s at local[4] -> 0.8
    assert "| asof_join_x32 (replicated input) | 20.0 / 22.0 s | 6.25 s" in block
    assert "| 0.8 / 0.88 (med 0.84) |" in block
    assert "| priority (PageRank) | 31.0 | 2040.0 | 7 |" in block
    # a second run replaces the block instead of appending one
    bench.write_bench_md(result, str(md))
    assert md.read_text() == text

    # skipped pairs render as one line each
    result.update(ops=None, priority=None)
    bench.write_bench_md(result, str(md))
    assert "Operator pairs: skipped" in md.read_text()
    assert "Priority pair: skipped" in md.read_text()


def test_write_bench_md_refuses_a_file_without_markers(tmp_path):
    md = tmp_path / "BENCH.md"
    md.write_text("# BENCH\nno markers\n")
    with pytest.raises(ValueError, match="markers"):
        bench.write_bench_md(_result(), str(md))
    assert md.read_text() == "# BENCH\nno markers\n"


def test_main_prints_the_rendered_result(monkeypatch, capsys):
    """main() glue with the pinned subprocess runs replaced by canned
    worker outputs: the printed JSON carries the gate, the S-B-S
    operator bracket and the priority pair, and is what BENCH.md
    renders."""
    import json

    canned = _result()
    workers = {"--crawl-worker": {1: canned["small"], 4: canned["big"]},
               "--ops-worker": {1: canned["ops"]["small"], 4: canned["ops"]["big"]},
               "--priority-worker": {4: canned["priority"]}}
    calls, rendered = [], []

    def run_pinned(cpus, worker, timeout):
        calls.append((worker, list(cpus)))
        return workers[worker][len(cpus)]

    monkeypatch.setattr(bench, "scale_cpus", lambda: ([0], [0, 1, 2, 3]))
    monkeypatch.setattr(bench, "run_pinned", run_pinned)
    monkeypatch.setattr(bench, "wait_for_quiet_window", lambda pool: 16.0)
    monkeypatch.setattr(bench, "host_raw_scaling_ceiling", lambda s, b: 0.91)
    monkeypatch.setattr(bench, "record_history", lambda result: None)
    monkeypatch.setattr(bench, "write_bench_md", rendered.append)
    for k in ("SPARK_GRAFT_SKIP_OPS_SCALING", "SPARK_GRAFT_SKIP_PRIORITY"):
        monkeypatch.delenv(k, raising=False)
    bench.main()
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == json.loads(json.dumps(rendered[0]))
    # one clean (>= 0.8) crawl pair, then small / big / small operator runs
    assert calls == [("--crawl-worker", [0]), ("--crawl-worker", [0, 1, 2, 3]),
                     ("--ops-worker", [0]), ("--ops-worker", [0, 1, 2, 3]),
                     ("--ops-worker", [0]), ("--priority-worker", [0, 1, 2, 3])]
    # steady 12708.3 / 3912.7 over 4x cores
    assert out["value"] == out["crawl_steady_scaling_efficiency"] == 0.812
    assert out["crawl_counts_match_r4"] is True
    assert out["ops"]["pair_effs"]["asof_join_x"] == [0.8, 0.8]
    assert out["priority"]["priority_fetch_set_parity"] is True
