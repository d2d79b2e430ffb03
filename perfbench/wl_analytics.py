"""``analytics_api``: the read side -- analysts' gates and dashboard requests.

One operation is either one analytics gate, built through
``__spark_entry__.queries()`` (the registry) and executed into the ``noop``
sink, or one dashboard request through ``wsgi_app``.  A pass runs every gate
and every route once, in a seed-permuted order; the timed region runs
``--seconds / 10`` passes, at least two.  The untimed warm-up pass before it
collects every gate, runs it once into the sink, and calls every route once.
After the run, each collected gate is compared with its DuckDB
``oracle_sql()`` twin using ``compare`` from ``scripts/check_oracle.py``.
Every response is checked; later responses must equal the warm-up one.
"""

from __future__ import annotations

import random
from pathlib import Path

import gen
from api import ROUTES, SPAN, ApiClient
from common import Tracer

# single-pass gates: TPC-H-shaped aggregation and three-way join with top-k,
# and the DeFi hourly volume, rolling window and MEV scoring.  Their warm
# latencies sit close together, so the median of a pass does not jump
# between gates from run to run.
GATES = (
    "pricing_summary", "shipping_priority", "transfer_volume_hourly",
    "rolling_p90", "mev_scores",
)
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")


def _exchanges(plan_text: str) -> int:
    return sum(1 for line in plan_text.splitlines()
               if "Exchange " in line and "ReusedExchange" not in line)


class AnalyticsApi:
    name = "analytics_api"
    unit = "operation"
    pass_len = len(GATES) + len(ROUTES)
    trace_ops = pass_len

    def timed_ops(self, seconds: float) -> int:
        """Whole passes, at least two; a pass takes 6 to 12 s on a 4-core
        host."""
        return self.pass_len * max(2, round(seconds / 10))

    def __init__(self, work: Path, seed: int):
        self.work = work
        self.seed = seed
        self.sf_dir = work / "tables"
        self.order = list(GATES) + list(ROUTES)
        random.Random(seed).shuffle(self.order)
        self.api = ApiClient()
        self.failures: list[str] = []
        self.persisted: list[tuple[int, int]] = []
        self.exchanges: list[int] = []
        self.collected: dict = {}

    def generate(self) -> None:
        gen.write_tables(self.sf_dir, self.seed)

    def untimed_pass(self, spark) -> int:
        """Collect every gate, run it once as the timed operation does, and
        call every route once: the warm-up, and the results the checks
        compare against."""
        import __spark_entry__

        queries = __spark_entry__.queries()
        for gate in GATES:
            try:
                self.collected[gate] = queries[gate](spark, str(self.sf_dir)).toPandas()
                self._gate(spark, -1, gate, Tracer())
            except Exception as exc:  # a failing gate is a result, not a crash
                self.failures.append(f"{gate}: raised {type(exc).__name__}: {exc}")
        for route in ROUTES:
            err = self.api.check(route, *self.api.call(spark, route))
            if err:
                self.failures.append(err)
        return len(GATES) + len(ROUTES)

    def op(self, spark, i: int, tracer: Tracer) -> int:
        item = self.order[i % len(self.order)]
        if item in SPAN:
            with tracer.span(i, SPAN[item]):
                status, payload = self.api.call(spark, item)
            err = self.api.check(item, status, payload)
            if err:
                self.failures.append(err)
            return 1
        return self._gate(spark, i, item, tracer)

    def _gate(self, spark, i: int, gate: str, tracer: Tracer) -> int:
        import __spark_entry__

        with tracer.span(i, "construct"):
            df = __spark_entry__.queries()[gate](spark, str(self.sf_dir))
        if tracer.traced:
            jsc = spark.sparkContext._jsc
            frames = jsc.getPersistentRDDs()
            info = jsc.sc().getRDDStorageInfo()
            self.persisted.append((frames.size(), sum(r.memSize() + r.diskSize() for r in info)))
            with tracer.span(i, "plan"):
                plan = df._jdf.queryExecution().executedPlan().toString()
            self.exchanges.append(_exchanges(plan))
        with tracer.span(i, "execute"):
            df.write.mode("overwrite").format("noop").save()
        return 1

    def verify(self) -> None:
        """Compare each collected gate with its DuckDB oracle."""
        import duckdb

        import __spark_entry__
        from scripts.check_oracle import compare

        oracles = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir / t}.parquet'")
            for gate, got in self.collected.items():
                try:
                    r = compare(got, con.execute(oracles[gate]).fetchdf())
                except Exception as exc:  # a failing check is a result, not a crash
                    self.failures.append(f"{gate}: oracle raised {type(exc).__name__}: {exc}")
                    continue
                if not r["value_match"]:
                    self.failures.append(f"{gate}: oracle mismatch rows={r['rows']} "
                                         f"{r.get('detail', '')}")
        finally:
            con.close()

    def per_layer(self, tracer: Tracer, groups: dict, run: dict) -> dict[str, float]:
        from eventlog import GroupStats, covered_seconds

        ops = len(tracer.durations("construct"))

        def total(name: str) -> GroupStats:
            acc = GroupStats()
            for gid, _, _ in tracer.windows(name):
                if gid in groups:
                    acc.add(groups[gid])
            return acc

        con, ex = total("construct"), total("execute")
        plan = total("plan")
        allg = GroupStats()
        for g in (con, plan, ex):
            allg.add(g)
        gap = sum((b - a) - covered_seconds(groups.get(gid, GroupStats()).intervals, a, b)
                  for gid, a, b in tracer.windows("construct"))
        out = {
            "registry.construct_s": sum(tracer.durations("construct")) / ops,
            "registry.construct_jobs": con.jobs / ops,
            "registry.construct_gap_s": gap / ops,
            "plans.plan_s": sum(tracer.durations("plan")) / ops,
            "plans.exchanges": sum(self.exchanges) / ops,
            "registry.execute_s": sum(tracer.durations("execute")) / ops,
            "registry.execute_jobs": ex.jobs / ops,
            "operators.persisted_frames": sum(f for f, _ in self.persisted) / ops,
            "operators.persisted_bytes": sum(b for _, b in self.persisted) / ops,
        }
        for key, attr in (("registry.stages", "stages"),
                          ("registry.stages_skipped", "stages_skipped"),
                          ("registry.tasks", "tasks"),
                          ("registry.task_failures", "task_failures"),
                          ("registry.executor_run_s", "executor_run_s"),
                          ("registry.executor_cpu_s", "executor_cpu_s"),
                          ("registry.gc_s", "gc_s"),
                          ("registry.shuffle_read_bytes", "shuffle_read_bytes"),
                          ("registry.shuffle_write_bytes", "shuffle_write_bytes"),
                          ("registry.spill_bytes", "spill_bytes"),
                          ("sources.input_bytes", "input_bytes"),
                          ("operators.kernel_rows", "kernel_rows"),
                          ("operators.kernel_bytes", "kernel_bytes"),
                          ("functions.udf_rows", "udf_rows"),
                          ("functions.udf_bytes", "udf_bytes")):
            out[key] = getattr(allg, attr) / ops
        out.update(self._serving_layer(tracer, groups))
        return out

    @staticmethod
    def _serving_layer(tracer: Tracer, groups: dict) -> dict[str, float]:
        from eventlog import GroupStats, covered_seconds

        out: dict[str, float] = {}
        jobs, gap, n = 0, 0.0, 0
        for name in SPAN.values():
            d = tracer.durations(name)
            out[f"serving.{name}_s"] = sum(d) / len(d)
            for gid, a, b in tracer.windows(name):
                g = groups.get(gid, GroupStats())
                jobs += g.jobs
                gap += (b - a) - covered_seconds(g.intervals, a, b)
                n += 1
        out["serving.jobs_per_request"] = jobs / n
        out["serving.gap_s"] = gap / n
        return out

