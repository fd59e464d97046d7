"""Workload definitions for the crawl benchmark: corpus shapes, crawl
configurations, the cached seeded corpus, and the correctness oracles.

Everything here is load generation or checking; nothing in this module
is timed. The engine is driven only through its public surface
(``sources.corpus``, ``plans.crawl.CrawlEngine``, ``simulator``).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import urllib.robotparser
from typing import Dict, Iterable, List, Set, Tuple

from pycrawler_spark.config import CrawlConfig
from pycrawler_spark.simulator import simulate
from pycrawler_spark.sources.corpus import generate_corpus, write_corpus

# Wide fan-out BFS: the same corpus generator and crawl config as the
# bench.py crawl gate (depth 2, non-binding budget), shrunk from 48 x
# 7300 pages x branching 84 so one run fits the per-run time budget.
# The final depth-2 wave (~4.6k pages) is the largest; the depth-1
# wave (~200 pages, ~4.6k links found) is the largest link wave.
BFS_SHAPE = dict(n_hosts=8, pages_per_host=600, mega_factor=2, branching=24)
BFS_CFG = dict(depth=2, max_urls=100_000)

# Listen-mode polite crawl: phase 1 crawls the first POLITE_PHASE1
# seed ranks with politeness + robots, phase 2 adds the rest with
# add_seeds() and runs again, then compact(). The per-host budget is
# 20 pages per wave (wave_interval 120 s / 6 s per page); max_urls=40
# caps each task so that depth 1 (~23 pages per host) takes two
# sub-waves and depth 2 one. bloom_auto_threshold is lowered from
# 50_000 so the phase-2 depth-1 sub-waves probe their ~300-key seen
# history through the bloom + semi-join path (the default threshold
# needs a 50k-link history: several minutes per run). 350 pages per
# host keeps every redirect target outside the robots-disallowed /p7*
# paths, which the oracle requires.
POLITE_SHAPE = dict(n_hosts=8, pages_per_host=350, mega_factor=2, branching=20)
POLITE_PHASE1 = 6
POLITE_CFG = dict(
    depth=2, max_urls=40, politeness=True, obey_robots=True,
    wave_interval_ms=120_000, bloom_auto_threshold=128,
)

WORKLOADS = {
    "crawl_bfs": (BFS_SHAPE, BFS_CFG),
    "crawl_polite_incremental": (POLITE_SHAPE, POLITE_CFG),
}

# bump when the corpus generator changes, so cached corpora under the
# work directory are not reused (the shape is part of the cache key)
CORPUS_REV = 1


def crawl_config(workload: str) -> CrawlConfig:
    return CrawlConfig(**WORKLOADS[workload][1])


def corpus(workdir: str, workload: str, seed: int) -> Dict[str, str]:
    """Write (once per workload and seed) the seeded corpus and return
    its parquet paths. A crashed write leaves only a temp directory,
    never a half-written cache entry."""
    shape = WORKLOADS[workload][0]
    tag = "-".join(f"{k}{v}" for k, v in sorted(shape.items()))
    d = os.path.join(workdir, "corpus", f"{workload}-s{seed}-{tag}-r{CORPUS_REV}")
    if not os.path.isdir(d):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        write_corpus(tmp, seed=seed, **shape)
        os.replace(tmp, d)
    return {
        "pages": os.path.join(d, "pages.parquet"),
        "seeds": os.path.join(d, "seeds.parquet"),
        "robots": os.path.join(d, "robots.parquet"),
    }


def fetch_digest(rows: Iterable[Tuple]) -> str:
    """Order-insensitive digest of a fetch set."""
    lines = sorted("\x01".join(str(v) for v in r) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def _disallowed(robots: List[Dict]):
    """url -> True when the host's robots rules disallow it, parsed with
    the same ``urllib.robotparser`` rules the scheduler applies."""
    parsers = {}
    for r in robots:
        p = urllib.robotparser.RobotFileParser()
        p.parse(r["rules"].splitlines())
        parsers[r["host"]] = p

    def check(url: str) -> bool:
        host = url.split("://", 1)[-1].split("/", 1)[0]
        p = parsers.get(host)
        return p is not None and not p.can_fetch("*", url)

    return check


def expected_fetches(workload: str, seed: int) -> Tuple[Set[Tuple], int]:
    """The fetch set ``(task_id, url, depth, code)`` the engine must
    produce, and the number of frontier rows it must insert, from the
    pure-Python reference simulator on the same seed's corpus.

    Politeness only splits depth levels into sub-waves and must not
    change any set (the engine's parity suite pins that). Robots
    blocking is applied on the simulator side by removing disallowed
    pages from the corpus it sees, so they yield no links, and by
    expecting code -3 for every requested disallowed url. That mapping
    is exact only while no redirect stub points INTO a disallowed path,
    which is checked here rather than assumed.
    """
    shape, cfg_kw = WORKLOADS[workload]
    cfg = CrawlConfig(**cfg_kw)
    pages, seeds, robots = generate_corpus(seed=seed, **shape)
    html = {p["url"]: p["html"] for p in pages}
    blocked = (lambda u: False) if not cfg.obey_robots else _disallowed(robots)
    if cfg.obey_robots:
        for p in pages:
            if b'http-equiv="refresh" content="0;url=' in p["html"]:
                target = p["html"].split(b"content=\"0;url=", 1)[1].split(b'"')[0]
                t = target.decode()
                host = p["url"].split("://", 1)[1].split("/", 1)[0]
                full = t if "://" in t else f"https://{host}{t}"
                if blocked(full):
                    raise ValueError(f"redirect {p['url']} -> disallowed {full}")
        html = {u: h for u, h in html.items() if not blocked(u)}
    sim = simulate(html, seeds, cfg.copy())
    want = {
        (t, u, d, cfg.code_robots_blocked if blocked(u) else c)
        for (t, u, d, rep, c) in sim.fetches
        if rep == 1
    }
    inserted = sum(len(v) - 1 for v in sim.inserted.values())
    return want, inserted
