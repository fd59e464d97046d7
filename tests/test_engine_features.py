"""Feature-level engine tests: login-seed injection parity (M4),
repetitions (O3), FIRST_AND_LAST (O5), robots blocking, requests
derivation (M3/M6), resume idempotence (T3)."""

import pytest
from pyspark.sql import functions as F

from pycrawler_spark.config import CrawlConfig
from pycrawler_spark.plans.crawl import CrawlEngine
from pycrawler_spark.simulator import simulate
from pycrawler_spark.sources.corpus import generate_corpus, write_corpus


def _run_both(spark, tmp_path, cfg, corpus_kw=None, robots=False,
              engine_url_filters=None, sim_url_filters=None):
    kw = dict(seed=42, n_hosts=4, pages_per_host=10, mega_factor=2)
    kw.update(corpus_kw or {})
    pages_p, seeds_p, robots_p = write_corpus(str(tmp_path / "c"), **kw)
    pages, seeds, _ = generate_corpus(**kw)
    sim = simulate({p["url"]: p["html"] for p in pages}, seeds, cfg.copy(),
                   url_filters=sim_url_filters)
    eng = CrawlEngine(spark, str(tmp_path / "job"), cfg.copy(), job="t",
                      url_filters=engine_url_filters)
    eng.init_job(
        spark.read.parquet(seeds_p),
        pages_p,
        robots=spark.read.parquet(robots_p) if robots else None,
    )
    eng.run()
    return eng, sim


def _visits(eng):
    rows = eng.table("fetches").select(
        "task_id", "url", "depth", "seq", "repetition"
    ).collect()
    by_task = {}
    for r in sorted(rows, key=lambda r: (r.task_id, r.depth, r.seq, r.repetition)):
        by_task.setdefault(r.task_id, []).append((r.url, r.depth, r.repetition))
    return by_task


def _seen(eng):
    got = {}
    for r in eng.table("seen").collect():
        got.setdefault(r.task_id, set()).add(r.url_norm)
    return got


def test_login_injection_parity(spark, tmp_path):
    cfg = CrawlConfig(depth=2, max_urls=30, login_seed_injection=True)
    eng, sim = _run_both(spark, tmp_path, cfg)
    assert _visits(eng) == sim.visits
    assert _seen(eng) == {t: s for t, s in sim.seen.items() if s}
    # injected URLs actually fetched (as corpus misses)
    urls = {r.url for r in eng.table("fetches").collect()}
    assert any(u.endswith("/login/") for u in urls)
    assert any("google.com/search" in u for u in urls)


def test_repetitions_parity(spark, tmp_path):
    cfg = CrawlConfig(depth=1, max_urls=10, repetitions=3)
    eng, sim = _run_both(spark, tmp_path, cfg)
    assert _visits(eng) == sim.visits
    reps = eng.table("fetches").groupBy("repetition").count().collect()
    assert {r.repetition for r in reps} == {1, 2, 3}


def test_resheaders_json_queryable(spark, tmp_path):
    """K1 fidelity: fetches carry the corpus-provided response headers
    as a JSON string column (reference SaveURL.py:71-72), so the
    get_json_object pattern works on engine output; rows without a
    stored response (misses, stubs) carry null."""
    cfg = CrawlConfig(depth=1, max_urls=20)
    eng, _ = _run_both(spark, tmp_path, cfg)
    f = eng.table("fetches")
    assert "resheaders" in f.columns
    ok = f.filter(F.col("code") == 200).withColumn(
        "server", F.get_json_object("resheaders", "$.server")
    )
    servers = {r.server for r in ok.select("server").distinct().collect()}
    assert servers <= {"nginx", "apache", "caddy", None}
    assert servers & {"nginx", "apache", "caddy"}
    # misses have no response -> null headers
    assert (
        eng.table("fetches")
        .filter((F.col("code") < 0) & F.col("resheaders").isNotNull())
        .count()
        == 0
    )


def test_custom_url_filter_parity(spark, tmp_path):
    """F6 pluggable filter-out hook (Module.py:23-24,
    CollectUrls.py:101-102): the same predicate — 'drop URLs whose
    path contains p1' — expressed as a Column predicate in the engine
    and a plain-Python ParsedUrl predicate in the simulator must yield
    identical crawls (the filter applies after F3-F5 and BEFORE the
    seen check, so filtered URLs are never seen-added)."""
    cfg = CrawlConfig(depth=2, max_urls=30)
    eng, sim = _run_both(
        spark, tmp_path, cfg,
        engine_url_filters=[lambda link: link["path"].rlike("p1")],
        sim_url_filters=[lambda link: __import__("re").search("p1", link.path) is not None],
    )
    assert _visits(eng) == sim.visits
    assert _seen(eng) == {t: s for t, s in sim.seen.items() if s}
    # the filter actually bit: no url with 'p1' in its PATH was ever
    # frontier-inserted (depth-0 seed rows have path '/' or '')
    import urllib.parse

    paths = {urllib.parse.urlsplit(r.url).path
             for r in eng.table("frontier").collect()}
    assert not any("p1" in p for p in paths), paths
    # and links that p1-pages would have contributed are really gone:
    # the unfiltered parity fixture (other tests) does insert p1 pages
    assert any("p2" in p or "p3" in p for p in paths)


def test_first_and_last_parity(spark, tmp_path):
    cfg = CrawlConfig(depth=2, max_urls=6, first_and_last=True)
    eng, sim = _run_both(spark, tmp_path, cfg, corpus_kw={"branching": 5})
    assert _visits(eng) == sim.visits
    assert _seen(eng) == {t: s for t, s in sim.seen.items() if s}


def test_robots_blocking(spark, tmp_path):
    """Even-numbered hosts disallow /p7; with obey_robots the engine
    marks those rows code -3 and never fetches them."""
    cfg = CrawlConfig(depth=3, max_urls=50, obey_robots=True)
    eng, _ = _run_both(spark, tmp_path, cfg, robots=True)
    blocked = eng.table("fetches").filter(F.col("code") == -3).collect()
    assert blocked, "expected robots-blocked rows"
    for r in blocked:
        assert r.url.endswith("/p7")
    # blocked urls appear exactly once and were never fetched with 200
    ok = eng.table("fetches").filter(
        (F.col("code") == 200) & F.col("url").isin([r.url for r in blocked])
    ).count()
    assert ok == 0


def test_requests_and_media(spark, tmp_path):
    cfg = CrawlConfig(depth=1, max_urls=10, collect_requests=True,
                      instrument_media=True)
    eng, _ = _run_both(spark, tmp_path, cfg)
    reqs = eng.table("requests")
    types = {r.resource_type for r in reqs.select("resource_type").distinct().collect()}
    assert {"document", "image", "script", "stylesheet"} <= types
    # navigation rows match fetched pages with code 200
    nav = reqs.filter(F.col("navigation")).count()
    ok = eng.table("fetches").filter(F.col("code") == 200).count()
    assert nav == ok
    # M6: image rows intercepted with constant pixel body, others not
    img = reqs.filter(F.col("resource_type") == "image").collect()
    assert img and all(r.intercepted and bytes(r.body) for r in img)
    other = reqs.filter(F.col("resource_type") != "image").collect()
    assert all(not r.intercepted and r.body is None for r in other)


def test_resume_recomputes_interrupted_wave(spark, tmp_path):
    """Kill-after-partial-write: drop the manifest commit of the last
    wave, resume, re-run -> identical fetch set (T3 exactly-once)."""
    import json
    import os
    import shutil

    cfg = CrawlConfig(depth=2, max_urls=20)
    eng, sim = _run_both(spark, tmp_path, cfg)
    before = {(r.task_id, r.url, r.depth, r.repetition, r.code)
              for r in eng.table("fetches").collect()}

    # simulate a crash during the last wave: roll the manifest back one
    # committed wave but leave its (now orphan) directories on disk
    mpath = os.path.join(str(tmp_path / "job"), "manifest.json")
    m = json.load(open(mpath))
    dropped = m["waves"].pop()
    m["next_wave"] = dropped["wave_id"]
    json.dump(m, open(mpath, "w"))

    eng2 = CrawlEngine(spark, str(tmp_path / "job"), cfg.copy(), job="t")
    eng2.resume()
    for t in dropped["tables"]:
        assert not os.path.isdir(
            os.path.join(str(tmp_path / "job"), t, f"wave={dropped['wave_id']:05d}")
        )
    # continue the crawl from the rolled-back state
    depth = dropped["depth"]
    while depth <= cfg.depth:
        m2 = eng2._load_manifest()
        s = eng2._run_wave(m2, depth)
        if s.get("exhausted"):
            depth += 1
    after = {(r.task_id, r.url, r.depth, r.repetition, r.code)
             for r in eng2.table("fetches").collect()}
    assert after == before


def test_politeness_preserves_order_and_sets(spark, tmp_path):
    """Politeness sub-waves split a depth level across waves but must
    preserve per-task visit order (seq-prefix property) and the final
    frontier/seen state — the simulator knows nothing about politeness,
    so equality proves the splitting is semantically invisible."""
    cfg = CrawlConfig(depth=2, max_urls=25, politeness=True,
                      wave_interval_ms=18000)  # 3 pages/host/wave
    eng, sim = _run_both(spark, tmp_path, cfg)
    assert _visits(eng) == sim.visits
    assert _seen(eng) == {t: s for t, s in sim.seen.items() if s}
    # politeness actually split depths into multiple waves
    waves = eng._load_manifest()["waves"]
    depths = [w["depth"] for w in waves if w["depth"] >= 0]
    assert len(depths) > len(set(depths)), "expected sub-waves"


def test_compaction_preserves_state_and_future_ingest(spark, tmp_path):
    """compact() merges per-wave deltas into one snapshot without
    changing table contents; a later streamed seed ingest still crawls
    only its own rows."""
    import os

    cfg = CrawlConfig(depth=2, max_urls=20)
    kw = dict(seed=42, n_hosts=4, pages_per_host=10, mega_factor=2)
    pages_p, seeds_p, _ = write_corpus(str(tmp_path / "c"), **kw)
    full = spark.read.parquet(seeds_p)
    eng = CrawlEngine(spark, str(tmp_path / "job"), cfg.copy(), job="t")
    eng.init_job(full.filter(F.col("rank") <= 3), pages_p)
    eng.run()

    def snap(e):
        return {
            "frontier": {tuple(r) for r in e.table("frontier")
                         .select("task_id", "url", "depth", "repetition", "seq")
                         .collect()},
            "seen": {tuple(r) for r in e.table("seen").collect()},
            "fetches": {tuple(r) for r in e.table("fetches")
                        .select("task_id", "url", "depth", "repetition",
                                "code", "seq").collect()},
        }

    before = snap(eng)
    n_dirs_before = len(os.listdir(str(tmp_path / "job" / "frontier")))
    out = eng.compact()
    assert out["frontier"] > 0
    n_dirs_after = len(os.listdir(str(tmp_path / "job" / "frontier")))
    assert n_dirs_after == 1 < n_dirs_before
    assert snap(eng) == before

    # streamed-in seeds after compaction: only the new tasks crawl
    n_old = eng.table("fetches").filter(F.col("task_id").isin([1, 2, 3])).count()
    eng.add_seeds(full.filter(F.col("rank") > 3))
    eng.run()
    assert eng.table("fetches").filter(
        ~F.col("task_id").isin([1, 2, 3])
    ).count() > 0
    # old tasks were not refetched
    assert eng.table("fetches").filter(
        F.col("task_id").isin([1, 2, 3])
    ).count() == n_old


def test_crawl_delay_caps_host_budget(spark):
    """T7/north rule: a robots Crawl-delay tightens the per-host
    per-wave cap to wave_interval/delay; hosts without a delay keep
    the politeness budget."""
    from pycrawler_spark.operators.scheduler import schedule_wave

    rows = [
        (1, f"https://{h}/p{i}", f"https://{h}/p{i}", h, 1, 1, i, None)
        for h in ("a.com", "b.org")
        for i in range(12)
    ]
    free = spark.createDataFrame(
        [(r[0], r[1], r[2], r[3], r[4], r[6], r[7]) for r in rows],
        "task_id long, url string, url_norm string, host string, "
        "depth int, seq long, from_url string",
    )
    robots = spark.createDataFrame(
        [("a.com", "User-agent: *\nCrawl-delay: 2\n", 2.0)],
        "host string, rules string, crawl_delay double",
    )
    sched = schedule_wave(
        free, robots, host_budget=1000, obey_robots=True,
        wave_interval_ms=10_000,
    ).toPandas()
    a = sched[sched.host == "a.com"]
    b = sched[sched.host == "b.org"]
    # 10 s / 2 s delay -> 5 fetches of a.com per wave, seq-prefix order
    assert int(a.granted.sum()) == 5
    assert sorted(a[a.granted].seq) == [0, 1, 2, 3, 4]
    assert int(b.granted.sum()) == 12
    assert not a.blocked.any() and not b.blocked.any()


def test_failed_wave_shuts_down_writer_pool(spark, tmp_path):
    """A write failing inside a wave must propagate out of run() only
    after the wave's writer pool has shut down, so a manifest-replay
    retry never races orphan background writers on the same wave
    directories."""
    import threading

    import pytest as _pytest

    from pycrawler_spark.config import CrawlConfig
    from pycrawler_spark.plans.crawl import CrawlEngine
    from pycrawler_spark.sources.corpus import write_corpus

    pages_p, seeds_p, _ = write_corpus(
        str(tmp_path / "c"), seed=11, n_hosts=2, pages_per_host=4
    )
    eng = CrawlEngine(
        spark, str(tmp_path / "job"), CrawlConfig(depth=1, max_urls=10),
        job="poolfail",
    )
    eng.init_job(spark.read.parquet(seeds_p), pages_p)

    calls = []

    def failing_write_seen(seen, wave, n_files=None):
        calls.append(threading.current_thread().name)
        raise RuntimeError("injected seen-write failure")

    eng._write_seen = failing_write_seen
    with _pytest.raises(RuntimeError, match="injected seen-write failure"):
        eng.run()
    assert calls and calls[0].startswith("crawl-wave"), calls
    alive = [t.name for t in threading.enumerate()
             if t.name.startswith("crawl-wave") and t.is_alive()]
    assert not alive, f"writer threads left running after failure: {alive}"
    # the failed wave never committed
    assert [w["kind"] for w in eng._load_manifest()["waves"]] == ["seeds"]


def test_resume_drops_interrupted_compaction(spark, tmp_path):
    """A crash inside compact() leaves <table>/_compact_tmp behind; it
    was never committed, so resume() removes it and the table reads."""
    import os
    import shutil

    cfg = CrawlConfig(depth=1, max_urls=10)
    pages_p, seeds_p, _ = write_corpus(
        str(tmp_path / "c"), seed=11, n_hosts=2, pages_per_host=4
    )
    eng = CrawlEngine(spark, str(tmp_path / "job"), cfg, job="compactcrash")
    eng.init_job(spark.read.parquet(seeds_p), pages_p)
    eng.run()
    seen_dir = tmp_path / "job" / "seen"
    before = {tuple(r) for r in eng.table("seen").collect()}
    # a half-written compaction snapshot
    tmp = seen_dir / "_compact_tmp"
    shutil.copytree(seen_dir / "wave=00001", tmp)

    eng2 = CrawlEngine(spark, str(tmp_path / "job"), cfg, job="compactcrash")
    eng2.resume()
    assert not os.path.exists(tmp)
    assert {tuple(r) for r in eng2.table("seen").collect()} == before


def test_manifest_records_extraction_modes(spark, tmp_path):
    from pycrawler_spark.config import CrawlConfig
    from pycrawler_spark.plans.crawl import CrawlEngine
    from pycrawler_spark.sources.corpus import write_corpus

    pages_p, seeds_p, _ = write_corpus(
        str(tmp_path / "c"), seed=13, n_hosts=2, pages_per_host=4
    )
    eng = CrawlEngine(
        spark, str(tmp_path / "job"), CrawlConfig(depth=0, max_urls=5),
        job="modes",
    )
    eng.init_job(spark.read.parquet(seeds_p), pages_p)
    modes = eng._load_manifest()["extraction_modes"]
    assert modes["tokenize"] in ("nltk-wordnet", "morphy-approx")
    assert modes["meta_headers"] in ("bs4", "regex")
    assert modes["psl"]  # shipped-subset or a dat path


def test_slim_link_struct_matches_full(spark, tmp_path):
    """Without F6 filters the wave ships the 6-field slim link struct;
    with any filter registered it ships the full 11-field one. Crawl
    results must be identical (a no-op filter forces the full path)."""
    from pycrawler_spark.config import CrawlConfig
    from pycrawler_spark.plans.crawl import CrawlEngine
    from pycrawler_spark.sources.corpus import write_corpus

    pages_p, seeds_p, _ = write_corpus(
        str(tmp_path / "c"), seed=31, n_hosts=4, pages_per_host=8,
        mega_factor=2,
    )

    def run(tag, filters):
        eng = CrawlEngine(
            spark, str(tmp_path / tag), CrawlConfig(depth=2, max_urls=12),
            job=tag, url_filters=filters,
        )
        eng.init_job(spark.read.parquet(seeds_p), pages_p)
        eng.run()
        rows = eng.table("fetches").select(
            "task_id", "url", "url_norm", "depth", "seq", "code",
        ).collect()
        return sorted(tuple(r) for r in rows)

    from pyspark.sql import functions as F2

    noop = lambda link: F2.lit(False)  # filters out nothing -> full struct
    assert run("slim", None) == run("full", [noop])


def test_kernel_fast_path_matches_loop(spark):
    """The vectorized no-exhaustion kernel path must emit EXACTLY the
    sequential fold's rows (ranks included) on a frame with cross-group
    duplicates, persistent-seen hits, and FIRST_AND_LAST ordering."""
    import pandas as pd

    from pycrawler_spark.config import CrawlConfig
    from pycrawler_spark.operators import links as L

    rows = []
    # two parent groups; links with dups within group, across groups,
    # and against the persistent seen set
    rows.append((1, "parent", 0, -1, "https://s/p0", "https://s/p0", None, None, 100))
    for i, (u, n) in enumerate([
        ("https://s/a", "https://s/a"),
        ("https://s/b", "https://s/b"),
        ("https://s/a2", "https://s/a"),     # dup within group
        ("https://s/seen", "https://s/seen"),  # in persistent seen
    ]):
        rows.append((1, "link", 0, i, u, n, "s", f"k{i:02d}", 100))
    rows.append((1, "parent", 1, -1, "https://s/p1", "https://s/p1", None, None, 100))
    for i, (u, n) in enumerate([
        ("https://s/b", "https://s/b"),      # dup across groups
        ("https://s/c", "https://s/c"),
        ("https://s/d", "https://s/d"),
        ("https://s/e", "https://s/e"),
        ("https://s/f", "https://s/f"),
        ("https://s/g", "https://s/g"),
        ("https://s/h", "https://s/h"),
    ]):
        rows.append((1, "link", 1, i, u, n, "s", f"q{9 - i}", 100))  # reversed skeys
    cols = "task_id long, kind string, parent_seq long, pos int, url string, url_norm string, host string, skey string, budget long"
    cand = spark.createDataFrame(rows, cols)
    seen = spark.createDataFrame(
        [(1, "https://s/seen")], "task_id long, url_norm string"
    )

    def run(cfg):
        out = L.dedup_budget_kernel(cand, seen, cfg).collect()
        return sorted(tuple(r) for r in out)

    for fal in (False, True):
        cfg = CrawlConfig(first_and_last=fal)
        fast = run(cfg)
        L.FORCE_SLOW_KERNEL = True
        try:
            slow = run(cfg)
        finally:
            L.FORCE_SLOW_KERNEL = False
        assert fast == slow, f"first_and_last={fal}"
        assert any(r[1] == "link" and r[7] for r in fast)  # inserted links exist


def test_priority_mode_reorders_politeness_subwaves(spark, tmp_path):
    """Engine pass-through of the opt-in priority scheduler (r4):
    with politeness sub-waves, set_priority() pulls high-priority
    depth-1 URLs into the FIRST sub-wave of their depth even though
    FIFO (seq) order would schedule them last; the overall fetched
    SET is unchanged — priority only reorders grants."""
    kw = dict(seed=42, n_hosts=2, pages_per_host=10, mega_factor=2)
    pages_p, seeds_p, _ = write_corpus(str(tmp_path / "c"), **kw)
    cfg = CrawlConfig(depth=1, max_urls=25, politeness=True,
                      wave_interval_ms=18000)  # 3 pages/host/wave

    def run(priority_rows):
        tag = "prio" if priority_rows else "fifo"
        eng = CrawlEngine(spark, str(tmp_path / f"job_{tag}"), cfg.copy(),
                          job=tag)
        eng.init_job(spark.read.parquet(seeds_p), pages_p)
        if priority_rows:
            eng.set_priority(spark.createDataFrame(
                priority_rows, "url_norm string, priority double"))
        eng.run()
        return eng.table("fetches").select(
            "wave_id", "url_norm", "host", "depth", "seq").collect()

    fifo = run(None)
    # per host: the depth-1 row with the HIGHEST seq — under FIFO it is
    # granted in the last sub-wave of its depth
    last_by_host = {}
    first_wave_d1 = {}
    for r in fifo:
        if r.depth == 1:
            cur = last_by_host.get(r.host)
            if cur is None or r.seq > cur.seq:
                last_by_host[r.host] = r
            w = first_wave_d1.get(r.host)
            first_wave_d1[r.host] = (
                r.wave_id if w is None else min(w, r.wave_id))
    assert any(last_by_host[h].wave_id > first_wave_d1[h]
               for h in last_by_host), "fixture must span sub-waves"

    prio = run([(r.url_norm, 1.0) for r in last_by_host.values()])
    prio_wave = {r.url_norm: r.wave_id for r in prio if r.depth == 1}
    prio_first = {}
    for r in prio:
        if r.depth == 1:
            w = prio_first.get(r.host)
            prio_first[r.host] = (
                r.wave_id if w is None else min(w, r.wave_id))
    for h, row in last_by_host.items():
        assert prio_wave[row.url_norm] == prio_first[h], (
            f"{row.url_norm} not pulled into host {h}'s first sub-wave")
    # same fetched set either way
    assert {(r.url_norm, r.depth) for r in fifo} == \
           {(r.url_norm, r.depth) for r in prio}
