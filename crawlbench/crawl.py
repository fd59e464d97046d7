"""The crawl workloads: set-up, the timed closed loop of crawl jobs, the
correctness check of every job against the reference simulator, and
the metrics.

Timed calls are the engine's public job API: ``CrawlEngine.run``,
``add_seeds`` and ``compact``. ``init_job`` is set-up.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from pyspark.sql import functions as F

import replay
import workloads as W
from harness import SETUP_REPEATS, WORK, Runner
from metrics import JOB_TABLES, PER_LAYER
from pycrawler_spark.plans.crawl import CrawlEngine
from tracing import MemSampler, Tracer


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(base, f))
    return total


class CrawlRunner(Runner):
    def setup(self):
        args = self.args
        spark = self.start_session()
        with self.tracer.span("corpus"):
            self.paths = W.corpus(WORK, args.workload, args.seed)
        self.cfg = W.crawl_config(args.workload)
        self.seeds = spark.read.parquet(self.paths["seeds"])
        self.robots = spark.read.parquet(self.paths["robots"]) if self.cfg.obey_robots else None
        self.polite = args.workload == "crawl_polite_incremental"
        if self.polite:
            self.phase1 = self.seeds.filter(F.col("rank") <= W.POLITE_PHASE1)
            self.phase2 = self.seeds.filter(F.col("rank") > W.POLITE_PHASE1)
        else:
            self.phase1 = self.seeds
        self.n_jobs = 0
        self.engine = CrawlEngine(spark, self._job_dir(), self.cfg, job="bench")
        # the first init_job also warms the JVM and the Python workers
        init = [self.init_job(self.engine) for _ in range(SETUP_REPEATS)]
        self.init_job_s = statistics.median(init)
        self.setup_s = self.get_spark_s + self.init_job_s
        # reference result for this seed (pure Python, untimed)
        with self.tracer.span("oracle"):
            self.want, self.want_inserted = W.expected_fetches(args.workload, args.seed)

    def _job_dir(self):
        return os.path.join(self.run_dir, f"job{self.n_jobs}")

    def init_job(self, eng) -> float:
        rec = self.op("plans.crawl.init_job",
                      lambda: eng.init_job(self.phase1, self.paths["pages"], robots=self.robots))
        return Tracer.seconds(rec)

    def crawl_job(self, eng):
        """The timed calls of one crawl job; returns their spans, the
        wave stats and the table sizes before compaction."""
        job = {"calls": [], "stats": []}
        with MemSampler() as mem:
            rec = self.op("plans.crawl.run", eng.run)
            job["calls"].append(rec)
            job["stats"] += rec["result"]
            job["phase2_start"] = len(job["stats"])
            if self.polite:
                job["calls"].append(self.op("plans.crawl.add_seeds",
                                            lambda: eng.add_seeds(self.phase2)))
                rec = self.op("plans.crawl.run", eng.run)
                job["calls"].append(rec)
                job["stats"] += rec["result"]
            job["bytes_written"] = {
                t: dir_bytes(os.path.join(eng.workdir, t)) for t in JOB_TABLES
            }
            if self.polite:
                rec = self.op("plans.crawl.compact", eng.compact)
                job["calls"].append(rec)
                job["compact_bytes_rewritten"] = sum(
                    dir_bytes(os.path.join(eng.workdir, t, "wave=00000"))
                    for t in rec["result"]
                )
        job["peak_mem"] = mem.peak
        job["job_bytes"] = dir_bytes(eng.workdir)
        return job

    def verify(self, eng, job) -> None:
        """Correctness, outside the timed calls: the job's fetch set
        against the simulator, and the run() counters against it."""
        rows = [
            tuple(r)
            for r in eng.table("fetches").filter(F.col("repetition") == 1)
            .select("task_id", "url", "depth", "code").collect()
        ]
        got = set(rows)
        stats = job["stats"]
        sched = sum(s["scheduled"] for s in stats)
        blocked = sum(s["blocked"] for s in stats)
        inserted = sum(s["inserted"] for s in stats)
        found = sum(s["found"] for s in stats)
        job["fetch_digest"] = W.fetch_digest(got)
        job["counts"] = {"scheduled": sched, "blocked": blocked,
                         "inserted": inserted, "found": found}
        self.check("fetch_set", got == self.want,
                   f"{len(got - self.want)} unexpected, e.g. {sorted(got - self.want)[:3]}; "
                   f"{len(self.want - got)} missing, e.g. {sorted(self.want - got)[:3]}")
        self.check("no_refetch", len(rows) == len(got), f"{len(rows)} rows, {len(got)} distinct")
        self.check("scheduled", sched + blocked == len(self.want),
                   f"scheduled+blocked {sched + blocked} != {len(self.want)}")
        self.check("inserted", inserted == self.want_inserted,
                   f"{inserted} != {self.want_inserted}")
        if not self.polite:
            # non-binding budget: every found link is inserted
            self.check("found", found == self.want_inserted, f"{found} != {self.want_inserted}")

    def timed_loop(self):
        self.jobs = []
        t0 = time.monotonic()
        while True:
            if self.jobs:
                self.n_jobs += 1
                shutil.rmtree(self.engine.workdir, ignore_errors=True)
                self.engine = CrawlEngine(self.spark, self._job_dir(), self.cfg, job="bench")
                self.init_job(self.engine)
            job = self.crawl_job(self.engine)
            self.verify(self.engine, job)
            self.jobs.append(job)
            if time.monotonic() - t0 >= self.args.seconds:
                break

    @staticmethod
    def job_s(job) -> float:
        return sum(Tracer.seconds(c) for c in job["calls"])

    def end_to_end(self):
        return {
            "setup_s": self.setup_s,
            "op_s": statistics.median(self.job_s(j) for j in self.jobs),
            "step_s_p50": statistics.median(
                s["wall_sec"] for j in self.jobs for s in j["stats"]
            ),
        }

    def per_layer(self):
        job = self.jobs[-1]
        stats = job["stats"]
        out = dict.fromkeys(PER_LAYER, 0.0)

        def call_s(name):
            return sum(Tracer.seconds(c) for c in job["calls"] if c["name"] == name)

        tot = {k: sum(s[k] for s in stats)
               for k in ("scheduled", "hits", "misses", "blocked", "found", "inserted")}
        big = max(stats, key=lambda s: s["scheduled"] + s["found"])
        out.update({
            "session.get_spark_s": self.get_spark_s,
            "session.peak_mem_mb": job["peak_mem"] / 2**20,
            "trace.op_s": self.job_s(job),
            "plans.crawl.init_job_s": self.init_job_s,
            "plans.crawl.run_s": call_s("plans.crawl.run"),
            "plans.crawl.add_seeds_s": call_s("plans.crawl.add_seeds"),
            "plans.crawl.compact_s": call_s("plans.crawl.compact"),
            "plans.crawl.waves": len(stats),
            "plans.crawl.wave_floor_s": min(s["wall_sec"] for s in stats),
            **{f"plans.crawl.{k}": v for k, v in tot.items()},
            "plans.crawl.hit_ratio": tot["hits"] / max(1, tot["scheduled"]),
            "plans.crawl.inserted_per_found": tot["inserted"] / max(1, tot["found"]),
            "plans.crawl.urls_per_s": (tot["scheduled"] + tot["found"]) / self.job_s(job),
            "plans.crawl.steady_urls_per_s": (big["scheduled"] + big["found"]) / big["wall_sec"],
            "plans.crawl.job_bytes_per_url": job["job_bytes"] / tot["scheduled"],
            **{f"plans.crawl.bytes_written.{t}": b for t, b in job["bytes_written"].items()},
            "plans.crawl.compact_bytes_rewritten": job.get("compact_bytes_rewritten", 0),
            "operators.seen.bloom_semi_waves": sum(
                1 for p in replay.seen_plans(stats, self.cfg) if p["use_bloom"]
            ),
        })
        self.replays = replay.replay_workload(self, job, out)
        return out

    def details(self):
        return [{"counts": j.get("counts"), "fetch_digest": j.get("fetch_digest"),
                 "waves": [(s["depth"], s["scheduled"], s["found"], s["wall_sec"])
                           for s in j["stats"]]} for j in getattr(self, "jobs", [])]
