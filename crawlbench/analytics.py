"""The analytics workload: the headline queries of
``__spark_entry__.queries()`` over the fixed seed-42 sf0.01 tables
bundled in ``data/sf0.01`` (the seed argument does not change them).

Set-up loads the input tables. The warm-up pass collects every query
and compares its rows with the query's DuckDB oracle, hashed as
``scripts/check_oracles.py`` does; it also records each query's full
executed plan. Each timed pass then writes every query to the
``noop`` sink, and the anti-pruning guard requires the executed plan
to keep the guarded operator nodes of the collected one.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

import duckdb

import __spark_entry__ as entry
from harness import HERE, ROOT, SETUP_REPEATS, Runner
from metrics import HEADLINE, PER_LAYER, QUERY_LAYERS
from tracing import MemSampler, Tracer, execution_plan, fingerprint, last_execution_id, layer

sys.path.insert(0, os.path.join(ROOT, "scripts"))
from check_oracles import canon  # noqa: E402

DATA = os.path.join(HERE, "data", "sf0.01")
TABLES = ("region", "nation", "supplier", "part", "lineitem", "events",
          "documents", "embeddings")
LAYER_OF = {q: layer_ for layer_, qs in QUERY_LAYERS.items() for q in qs}
MIN_PASSES = 2


def oracle_sql(query: str) -> str:
    """The query's DuckDB oracle SQL. ``entry.oracle_sql()`` builds
    every oracle, one of which reads data outside the bundled tables,
    so the headline oracles are built one by one (``q11_...`` ->
    ``_o11``)."""
    return getattr(entry, "_o" + query.split("_")[0][1:])()


class AnalyticsRunner(Runner):
    def setup(self):
        spark = self.start_session()
        self.queries = entry.queries()
        loads = []
        for _ in range(SETUP_REPEATS):
            rec = self.op("analytics.load", lambda: {
                t: spark.read.parquet(os.path.join(DATA, f"{t}.parquet")).schema
                for t in TABLES
            })
            loads.append(Tracer.seconds(rec))
        self.setup_s = self.get_spark_s + statistics.median(loads)
        with self.tracer.span("analytics.warmup") as rec:
            self.warmup()
        self.warmup_s = Tracer.seconds(rec)

    def warmup(self):
        """Collect every query once (cold) and check its rows against
        the DuckDB oracle; keep the fingerprint of its full plan."""
        spark = self.spark
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
        self.full_plans = {}
        for q in HEADLINE:
            before = last_execution_id(spark)
            rec = self.op(f"warmup.{q}", lambda q=q: self._collect(q))
            rows, cols = rec.pop("result")
            self.full_plans[q] = fingerprint(execution_plan(spark, before))
            spark.catalog.clearCache()
            res = con.execute(oracle_sql(q))
            want_cols = [d[0] for d in res.description]
            want = res.fetchall()
            ok = sorted(cols) == sorted(want_cols) and len(rows) == len(want) and (
                canon([tuple(r) for r in rows], cols) == canon(want, want_cols)
            )
            self.check(f"oracle.{q}", ok,
                       f"{q}: spark {len(rows)} rows {sorted(cols)}, "
                       f"duckdb {len(want)} rows {sorted(want_cols)}")
        con.close()

    def _collect(self, q):
        df = self.queries[q](self.spark, DATA)
        return df.collect(), df.columns

    def one_pass(self):
        """Every headline query into the noop sink, in its own span and
        job group; returns the per-query walls."""
        spark = self.spark
        walls = {}
        for q in HEADLINE:
            before = last_execution_id(spark)
            with layer(spark, self.tracer, f"analytics.{q}") as rec:
                self.queries[q](spark, DATA).write.format("noop").mode("overwrite").save()
            walls[q] = Tracer.seconds(rec)
            got = fingerprint(execution_plan(spark, before))
            rec["plan"] = {"full": self.full_plans[q], "executed": got}
            self.check(f"plan_guard.{q}", got == self.full_plans[q],
                       f"{q}: executed plan lost operators: full={self.full_plans[q]} "
                       f"executed={got}")
            spark.catalog.clearCache()
        return walls

    def timed_loop(self):
        """At least MIN_PASSES passes: single sub-second queries swing
        by 15-30% between passes, their per-query medians less."""
        self.passes = []
        t0 = time.monotonic()
        with MemSampler() as mem:
            while len(self.passes) < MIN_PASSES or time.monotonic() - t0 < self.args.seconds:
                self.passes.append(self.one_pass())
        self.peak_mem = mem.peak

    def query_s(self, q) -> float:
        return statistics.median(p[q] for p in self.passes)

    def op_s(self) -> float:
        """One pass, each query at its median over the passes."""
        return sum(self.query_s(q) for q in HEADLINE)

    def end_to_end(self):
        return {
            "setup_s": self.setup_s,
            "op_s": self.op_s(),
            "step_s_p50": statistics.median(s for p in self.passes for s in p.values()),
        }

    def per_layer(self):
        out = dict.fromkeys(PER_LAYER, 0.0)
        out.update({
            "session.get_spark_s": self.get_spark_s,
            "session.peak_mem_mb": self.peak_mem / 2**20,
            "trace.op_s": self.op_s(),
            "analytics.warmup_s": self.warmup_s,
            **{
                f"{LAYER_OF[q]}.{q}_s": self.query_s(q) for q in HEADLINE
            },
        })
        return out

    def details(self):
        return [{q: round(s, 3) for q, s in p.items()} for p in getattr(self, "passes", [])]
