"""History-query phase: registry entries over the generated tables,
executed into the JVM-side ``noop`` sink. The cold pass collects each
result for the DuckDB oracle check and runs each entry once more,
untimed; the warm passes after it are timed."""

from __future__ import annotations

import json
import os
import time

import checks
from procs import mean, median

# Message-history entries over ``events``, and pipeline entries whose cost
# sits in driver-side construction, execution or joins. Each workload runs
# half of the mix; entries that read the ingest-artifact cache are left out.
MIX = {
    "shared_topic": {
        "events": ["r29_dedup_exact_latest", "s5_session_window"],
        "pipeline": ["e_centroid_assign", "flagship_revenue_by_nation"],
    },
    "topic_per_conn": {
        "events": ["r_funnel_sequence", "s_rate_limit_sliding"],
        "pipeline": ["r11_tpch_q1_agg", "tpch_q3_shipping_priority"],
    },
}


class Queries:
    def __init__(self, ctx):
        self.ctx = ctx
        self.groups = MIX[ctx.workload["name"]]
        self.entries = [n for g in self.groups.values() for n in g]
        self.results: dict = {}
        self.timings: dict[str, list[dict]] = {n: [] for n in self.entries}

    def cold_pass(self) -> None:
        from pulsar_beam_spark.queries import REGISTRY

        for name in self.entries:
            self._group(name, "cold")
            self.results[name] = REGISTRY[name].spark(self.ctx.spark, self.ctx.sf_dir).toPandas()
        # one untimed noop pass more: the first timed pass after the
        # collect alone still ran 1.3-2x slower than the ones after it
        for name in self.entries:
            self._group(name, "cold")
            REGISTRY[name].spark(self.ctx.spark, self.ctx.sf_dir).write.format("noop") \
                .mode("overwrite").save()

    def _group(self, name: str, p) -> None:
        self.ctx.spark.sparkContext.setJobGroup(f"perfbench:{name}:{p}", name)

    def warm_pass(self, p: int) -> None:
        """Untraced: construct + noop write, the span bench.py times.
        Traced: construct, plan and execute are timed apart."""
        from pulsar_beam_spark.queries import REGISTRY

        spark, sf = self.ctx.spark, self.ctx.sf_dir
        for name in self.entries:
            self._group(name, p)
            t0 = time.perf_counter()
            df = REGISTRY[name].spark(spark, sf)
            t1 = time.perf_counter()
            if self.ctx.trace:
                df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
            self.timings[name].append({"construct_s": t1 - t0, "plan_s": t2 - t1,
                                       "execute_s": t3 - t2, "total_s": t3 - t0})

    def metrics(self) -> dict:
        return {f"{g}_queries_s": sum(median([t["total_s"] for t in self.timings[n]])
                                      for n in names)
                for g, names in self.groups.items()}

    def check(self) -> list[str]:
        import duckdb

        from pulsar_beam_spark.queries import REGISTRY
        from pulsar_beam_spark.sources.tables import TABLES

        errs = []
        con = duckdb.connect()
        try:
            con.execute(f"SET threads={self.ctx.conns}")
            con.execute(f"SET temp_directory='{self.ctx.rd.sub('duckdb')}'")
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.ctx.sf_dir}/{t}.parquet')")
            for name in self.entries:
                want = con.execute(REGISTRY[name].oracle).fetchdf()
                errs += checks.check_query(name, self.results[name], want)
        finally:
            con.close()
        return errs

    def layers(self, eventlog_dir: str) -> tuple[dict, dict]:
        """Per-group layer figures (means over warm passes) and the
        per-entry detail they sum, from the timings and the event log."""
        per_entry = {n: {k: mean([t[k] for t in ts]) for k in ("construct_s", "plan_s", "execute_s")}
                     for n, ts in self.timings.items()}
        passes = len(next(iter(self.timings.values())))
        for n, v in _event_log(eventlog_dir).items():
            if n in per_entry:
                per_entry[n].update({k: x / passes for k, x in v.items()})
        out = {}
        for g, names in self.groups.items():
            for k in ("construct_s", "plan_s", "execute_s", "jobs", "stages",
                      "shuffle_write_bytes", "executor_cpu_s"):
                out[f"queries.{g}.{k}"] = sum(per_entry[n].get(k, 0) for n in names)
        return out, per_entry


def _event_log(eventlog_dir: str) -> dict[str, dict]:
    """Jobs, completed stages, shuffle bytes written and executor CPU per
    entry over the warm passes, from Spark's JSON event log."""
    stage_job: dict[int, str] = {}
    out: dict[str, dict] = {}
    paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(eventlog_dir) for f in fs
                   if f.startswith(("events_", "local-", "app-")))
    for path in paths:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (e.get("Properties") or {}).get("spark.jobGroup.id", "")
                    parts = group.split(":")
                    if len(parts) != 3 or parts[0] != "perfbench" or parts[2] == "cold":
                        continue
                    acc = out.setdefault(parts[1], {"jobs": 0, "stages": 0,
                                                    "shuffle_write_bytes": 0, "executor_cpu_s": 0.0})
                    acc["jobs"] += 1
                    for s in e["Stage IDs"]:
                        stage_job[s] = parts[1]
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    name = stage_job.get(info["Stage ID"])
                    if name is None:
                        continue
                    acc = out[name]
                    acc["stages"] += 1
                    for a in info.get("Accumulables", []):
                        if a.get("Name") == "internal.metrics.shuffle.write.bytesWritten":
                            acc["shuffle_write_bytes"] += int(a["Value"])
                        elif a.get("Name") == "internal.metrics.executorCpuTime":
                            acc["executor_cpu_s"] += int(a["Value"]) / 1e9
    return out
