"""Per-wave Spark job-count pin.

Each crawl wave submits a fixed set of Spark jobs (scheduling probes,
checkpoints, broadcast builds, the concurrent fetch / frontier / seen /
tasks / lineage writes, AQE map stages). A refactor of the wave loop
must not add or drop any of them, so the count of jobs every wave
submits is pinned here on the small verify corpus (5 hosts x 10 pages),
once in atomic-depth mode and once with politeness + robots (the
scheduler path, several sub-waves per depth).
"""

from __future__ import annotations

from pycrawler_spark.config import CrawlConfig
from pycrawler_spark.plans.crawl import CrawlEngine
from pycrawler_spark.sources.corpus import write_corpus

# (depth, exhausted, jobs submitted) per wave, in run() order
ATOMIC_PIN = [(0, False, 36), (1, False, 29), (2, False, 13)]
POLITE_PIN = [
    (0, False, 44), (0, True, 12),
    (1, False, 41), (1, True, 12),
    (2, False, 23), (2, True, 12),
]


def _wave_job_counts(spark, eng):
    """(depth, exhausted, jobs) per ``_run_wave`` call, following the
    same depth loop as ``run()``. Jobs are the status tracker's job ids
    that appear across the call, read after the listener bus drains."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()
    scheduler = eng.cfg.politeness or eng.cfg.obey_robots
    out = []
    for depth in range(eng.cfg.depth + 1):
        while True:
            bus.waitUntilEmpty()
            before = set(tracker.getJobIdsForGroup())
            stats = eng._run_wave(eng._load_manifest(), depth)
            bus.waitUntilEmpty()
            jobs = len(set(tracker.getJobIdsForGroup()) - before)
            out.append((depth, bool(stats.get("exhausted")), jobs))
            if stats.get("exhausted") or not scheduler:
                break
    return out


def _engine(spark, tmp_path, name, **cfg):
    pages, seeds, robots = write_corpus(
        str(tmp_path / "c"), seed=99, n_hosts=5, pages_per_host=10,
        mega_factor=3,
    )
    eng = CrawlEngine(
        spark, str(tmp_path / "job"), CrawlConfig(depth=2, max_urls=15, **cfg),
        job=name,
    )
    eng.init_job(
        spark.read.parquet(seeds), pages,
        robots=spark.read.parquet(robots) if cfg.get("obey_robots") else None,
    )
    return eng


def test_atomic_wave_job_counts(spark, tmp_path):
    eng = _engine(spark, tmp_path, "jobs-atomic")
    assert _wave_job_counts(spark, eng) == ATOMIC_PIN


def test_polite_wave_job_counts(spark, tmp_path):
    eng = _engine(spark, tmp_path, "jobs-polite", politeness=True,
                  obey_robots=True)
    assert _wave_job_counts(spark, eng) == POLITE_PIN

