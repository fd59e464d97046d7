"""Layer replay for the traced run: one committed wave's inputs are
rebuilt from the job's tables (``CrawlEngine.table``) and pushed
through the engine's public layer functions one step at a time, each
step materialized into the ``noop`` sink under its own span and Spark
job group:

    schedule_wave (polite) -> fetch join -> page-features UDF
    -> candidate_links -> relevant_seen -> dedup_budget_kernel

Each step reads the previous step's output from an eager local
checkpoint taken outside the span, so a span times one layer only.
The engine's wave loop overlaps the fetch write with the link chain,
so replay times add up to more than the wave's wall time.
"""

from __future__ import annotations

from typing import Dict, List

from pyspark.sql import Observation, functions as F

from pycrawler_spark.functions.udfs import (
    normalize_url_udf,
    page_features_nolinks_udf,
    page_features_resolve_slim_udf,
)
from pycrawler_spark.operators.links import candidate_links, dedup_budget_kernel
from pycrawler_spark.operators.scheduler import schedule_wave
from pycrawler_spark.operators.seen import build_bloom, might_contain_filter, relevant_seen
import workloads as W
from metrics import EVENTLOG_FIELDS
from tracing import Tracer, eventlog_by_group, guarded_noop, layer

WAVE_COLS = ["task_id", "url", "url_norm", "host", "depth", "seq"]


def seen_plans(stats: List[Dict], cfg) -> List[Dict]:
    """Per wave, the seen-probe plan the engine chose, recomputed from
    run()'s stats with the rule in ``CrawlEngine._run_wave_body``: the
    semi-join runs once the found-link history exceeds 4x the last
    link wave's finds, the bloom prefilter on top of it once the history
    exceeds ``bloom_auto_threshold``."""
    out = []
    history = last = 0
    for s in stats:
        link = s["depth"] < cfg.depth and cfg.recursive
        semi = link and history > 4 * max(1, last)
        out.append({
            "wave_id": s["wave_id"], "link": link, "use_semi": semi,
            "use_bloom": semi and history > cfg.bloom_auto_threshold,
        })
        history += s["found"]
        if s["found"] > 0:
            last = s["found"]
    return out


def _observed(df, **aggs):
    obs = Observation()
    return df.observe(obs, *[a.alias(k) for k, a in aggs.items()]), obs


def _tasks_dim(eng, fetches, frontier, wave_id: int, max_urls: int):
    """The tasks snapshot a wave started from: one row per task, with
    the budget left after the frontier rows inserted by earlier waves
    (the engine spends budget per found link and clamps at 0, so the
    remainder is ``max(0, max_urls - inserted)``)."""
    tasks = eng.table("tasks").select(
        "task_id", "job", "scheme", "site", "landing_url", "landing_origin", "host"
    ).dropDuplicates(["task_id"])
    parents = fetches.filter(F.col("wave_id") < wave_id).select(
        "task_id", F.col("url").alias("from_url")
    ).distinct()
    spent = (
        frontier.filter(F.col("depth") >= 1)
        .join(parents, ["task_id", "from_url"], "left_semi")
        .groupBy("task_id").count()
    )
    return tasks.join(spent, "task_id", "left").select(
        *tasks.columns,
        F.greatest(F.lit(max_urls) - F.coalesce(F.col("count"), F.lit(0)), F.lit(0))
        .cast("int").alias("budget"),
    )


def replay_wave(r, stat: Dict, kind: str, plan: Dict, seen_pre, out: Dict) -> Dict:
    """Replay one wave (``kind`` 'links' or 'final') and add its layer
    times and counts to ``out``. Returns the replay's record."""
    spark, eng, cfg, tr = r.spark, r.engine, r.cfg, r.tracer
    wave_id, depth = stat["wave_id"], stat["depth"]
    cores = r.host["effective_cpus"]
    rec = {"wave_id": wave_id, "depth": depth, "kind": kind, "plan": plan, "steps": {}}
    fetches = eng.table("fetches").filter(F.col("repetition") == 1)
    frontier = eng.table("frontier").filter(F.col("repetition") == 1)

    def step(name, df, **aggs):
        df, obs = _observed(df, **aggs) if aggs else (df, None)
        span = guarded_noop(spark, df, tr, name, wave_id=wave_id)
        rec["steps"][name] = {"s": Tracer.seconds(span), "plan": span["plan"]}
        return Tracer.seconds(span), (obs.get if obs else {})

    if r.polite:
        done = fetches.filter(
            (F.col("wave_id") < wave_id) & (F.col("depth") == depth)
        ).select("task_id", "url_norm").distinct()
        free = frontier.filter(F.col("depth") == depth).join(
            done, ["task_id", "url_norm"], "left_anti"
        )
        sched = schedule_wave(free, r.robots, cfg.host_wave_budget, cfg.obey_robots,
                              wave_interval_ms=cfg.wave_interval_ms)
        secs, got = step("schedule_wave", sched,
                         granted=F.sum(F.col("granted").cast("long")),
                         blocked=F.sum(F.col("blocked").cast("long")))
        out["operators.scheduler.schedule_wave_s"] += secs
        out["operators.scheduler.granted"] += got["granted"] or 0
        out["operators.scheduler.blocked"] += got["blocked"] or 0
        rec["granted"] = got["granted"] or 0
        r.check("replay_granted", rec["granted"] == stat["scheduled"],
                f"wave {wave_id}: {rec['granted']} granted, run() scheduled {stat['scheduled']}")

    # fetch join: corpus scan + broadcast join of the wave's resolved
    # urls (a miss keeps a null url_final, so it probes but never
    # matches, as in the wave)
    wave = fetches.filter(
        (F.col("wave_id") == wave_id) & (F.col("code") != cfg.code_robots_blocked)
    ).select(*WAVE_COLS, "url_final")
    pages = spark.read.parquet(r.paths["pages"]).select(
        F.col("url").alias("url_final"), "html", "warc_ts",
        F.col("headers").alias("resheaders"),
    )
    n_sched = stat["scheduled"]
    joined = pages.join(
        F.broadcast(wave) if n_sched <= cfg.broadcast_wave_max_rows else wave, "url_final"
    )
    if n_sched < cfg.udf_balance_max_rows:
        joined = joined.repartition(spark.sparkContext.defaultParallelism * 2)
    secs, got = step("fetch_join", joined, n=F.count(F.lit(1)))
    out["plans.crawl.fetch_join_s"] += secs
    rec["hits"] = got["n"]
    r.check("replay_hits", rec["hits"] == stat["hits"],
            f"wave {wave_id}: fetch join {rec['hits']} rows, run() hits {stat['hits']}")
    joined = joined.localCheckpoint(eager=True)

    # extraction UDF over the joined pages
    pf = (page_features_resolve_slim_udf(F.col("html"), F.col("url_final"))
          if kind == "links" else page_features_nolinks_udf(F.col("html")))
    feats = joined.select(*WAVE_COLS, "url_final", pf.alias("pf"))
    secs, _ = step("page_features", feats)
    out[f"functions.udfs.page_features_{kind}_s"] += secs
    out[f"functions.udfs.us_per_page_{kind}"] = secs * cores * 1e6 / max(1, rec["hits"])
    if kind != "links":
        return rec

    hits = feats.select(
        *WAVE_COLS, "url_final",
        F.when(F.col("url_final") == F.col("url"), F.col("url_norm"))
        .otherwise(normalize_url_udf(F.col("url_final"))).alias("final_norm"),
        F.col("pf.links").alias("links"),
    ).localCheckpoint(eager=True)
    tasks_dim = _tasks_dim(eng, fetches, frontier, wave_id, cfg.max_urls)
    cands = candidate_links(hits, tasks_dim, cfg)
    secs, got = step("candidate_links", cands,
                     n=F.sum((F.col("kind") == "link").cast("long")))
    out["operators.links.candidate_links_s"] += secs
    out["operators.links.candidates"] += got["n"] or 0
    cands = cands.localCheckpoint(eager=True)

    seen_all = seen_pre
    if r.polite and "sbucket" in seen_all.columns:
        # the engine prunes the seen read to this wave's task buckets
        bks = [x[0] for x in wave.select(
            F.pmod("task_id", F.lit(cfg.seen_buckets)).cast("int")).distinct().collect()]
        seen_all = seen_all.filter(F.col("sbucket").isin(bks))
    seen_all = seen_all.localCheckpoint(eager=True)
    n_in = seen_all.count()
    with layer(spark, tr, "relevant_seen", wave_id=wave_id) as span:
        rel = relevant_seen(seen_all, cands, use_bloom=plan["use_bloom"],
                            use_semi=plan["use_semi"], fpp=cfg.bloom_fpp)
        _, got = step("relevant_seen.noop", rel, n=F.count(F.lit(1)))
    out["operators.seen.relevant_seen_s"] += Tracer.seconds(span)
    out["operators.seen.seen_rows_in"] += n_in
    out["operators.seen.seen_rows_out"] += got["n"]
    if plan["use_bloom"]:
        keys = cands.select("url_norm").distinct()
        bloom = build_bloom(keys, "url_norm", n_items=max(1024, keys.count()), fpp=cfg.bloom_fpp)
        passed = might_contain_filter(seen_all, bloom, "url_norm").count()
        out["operators.seen.bloom_pass_ratio"] = passed / max(1, n_in)
        out["operators.seen.bloom_false_pos"] += passed - got["n"]
    rel = rel.localCheckpoint(eager=True)

    secs, got = step("dedup_budget_kernel", dedup_budget_kernel(cands, rel, cfg),
                     found=F.sum((F.col("kind") == "link").cast("long")))
    out["operators.links.dedup_budget_kernel_s"] += secs
    rec["found"] = got["found"] or 0
    rec["found_in_run"] = stat["found"]
    return rec


def seen_before(r, stat: Dict):
    """The seen history a link wave at depth d probed, rebuilt from the
    final seen table: every row of the tasks that finished before it
    (phase-1 tasks, when the wave belongs to phase 2), plus the rows of
    the wave's own tasks whose key is a frontier row at depth <= d,
    i.e. written by shallower waves. Exact while the budget does not
    truncate a shallower wave's finds, which holds for the waves
    replayed here."""
    seen = r.engine.table("seen")
    keys = r.engine.table("frontier").filter(
        (F.col("repetition") == 1) & (F.col("depth") <= stat["depth"])
    ).select("task_id", "url_norm").distinct()
    active = seen.join(keys, ["task_id", "url_norm"], "left_semi")
    if not r.polite or stat["phase"] == 1:
        return active
    done = F.col("task_id") <= W.POLITE_PHASE1
    return seen.filter(done).unionByName(active.filter(~done))


def replay_workload(r, job: Dict, out: Dict) -> List[Dict]:
    """crawl_bfs: its largest link wave and its final wave.
    crawl_polite_incremental: its first phase-2 link wave that probes
    seen through bloom + semi-join."""
    cfg, stats = r.cfg, job["stats"]
    for i, s in enumerate(stats):
        s["phase"] = 1 if i < job["phase2_start"] else 2
    plans = {p["wave_id"]: p for p in seen_plans(stats, cfg)}
    if r.polite:
        phase2 = [s for s in stats if s["phase"] == 2 and plans[s["wave_id"]]["link"]]
        target = next((s for s in phase2 if plans[s["wave_id"]]["use_bloom"]), phase2[0])
        return [replay_wave(r, target, "links", plans[target["wave_id"]],
                            seen_before(r, target), out)]
    link = max((s for s in stats if s["depth"] < cfg.depth), key=lambda s: s["scheduled"])
    final = max((s for s in stats if s["depth"] == cfg.depth), key=lambda s: s["scheduled"])
    return [
        replay_wave(r, link, "links", plans[link["wave_id"]], seen_before(r, link), out),
        replay_wave(r, final, "final", plans[final["wave_id"]], None, out),
    ]


def add_eventlog_metrics(log_dir: str, out: Dict) -> None:
    """Per replay step, executor run time, GC, shuffle bytes and spill
    summed over the step's job group (``relevant_seen`` includes the
    bloom-build jobs it starts)."""
    for group, acc in eventlog_by_group(log_dir).items():
        step = group.split(".")[0]
        for field in EVENTLOG_FIELDS:
            key = f"spark.{step}.{field}"
            if key in out:
                out[key] += acc[field]
