#!/usr/bin/env python
"""Per-query profiler (optimization round 11, guide §1).

For each named query: runs it once warm (after a throwaway warm-up run),
captures wall time, the number of Spark jobs/stages it launched, the
per-stage executor-run-time / shuffle bytes attribution from the UI REST
API, the generated classes Janino compiled and the milliseconds that took
(per invocation, warm-ups included: a warm run that still compiles means
the codegen cache is thrashing), and writes `.explain("formatted")` to
plans/r11/<name>_<tag>.txt.

Usage:
    python tools/profile_query.py q_dbscan q_hits [--tag before] [--runs 2]

The REST snapshot is diffed around the timed run so only this query's
jobs/stages are attributed. Timing methodology matches bench.py
(df.count() as the action) so numbers are comparable; an optional
--noop flag times a noop write instead (guide §1.4) to show how much of
the wall is result-collection.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nyc_taxi_lakehouse_spark.plans.ckpt import release_run_checkpoints
from nyc_taxi_lakehouse_spark.registry import all_queries
from nyc_taxi_lakehouse_spark.session import codegen_stats, get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _rest(spark, path):
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}/{path}") as r:
        return json.load(r)


def _since(spark, before):
    count, ms = codegen_stats(spark)
    return count - before[0], ms - before[1]


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    tag = "profile"
    runs = 2
    use_noop = "--noop" in sys.argv
    for a in sys.argv[1:]:
        if a.startswith("--tag="):
            tag = a.split("=", 1)[1]
        if a.startswith("--runs="):
            runs = int(a.split("=", 1)[1])
    specs = all_queries()
    spark = get_spark(app_name="profile")
    spark.sparkContext.setLogLevel("WARN")
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()
    outdir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                          "plans", os.environ.get("PLANS_ROUND", "r12"))
    os.makedirs(outdir, exist_ok=True)

    for name in args:
        fn = specs[name].fn
        # Warm-up runs (parquet footers, broadcast first-touch).
        wall, compiles = [], []
        for _ in range(max(1, runs - 1)):
            c0 = codegen_stats(spark)
            t0 = time.perf_counter()
            df = fn(spark, SF_DIR)
            df.count()
            wall.append(time.perf_counter() - t0)
            compiles.append(_since(spark, c0))
            release_run_checkpoints()
        stages_before = {s["stageId"] for s in _rest(spark, "stages")}
        jobs_before = {j["jobId"] for j in _rest(spark, "jobs")}
        spark.sparkContext.setJobDescription(f"profile:{name}")
        c0 = codegen_stats(spark)
        t0 = time.perf_counter()
        df = fn(spark, SF_DIR)
        if use_noop:
            df.write.format("noop").mode("overwrite").save()
        else:
            df.count()
        wall.append(time.perf_counter() - t0)
        compiles.append(_since(spark, c0))
        spark.sparkContext.setJobDescription(None)
        # Plan capture from THIS run's frame (pre-release so lineage is live).
        plan_txt = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        release_run_checkpoints()
        jobs = [j for j in _rest(spark, "jobs") if j["jobId"] not in jobs_before]
        stages = [s for s in _rest(spark, "stages") if s["stageId"] not in stages_before]
        stages.sort(key=lambda s: -(s.get("executorRunTime") or 0))
        tot_run = sum(s.get("executorRunTime") or 0 for s in stages)
        tot_cpu = sum(s.get("executorCpuTime") or 0 for s in stages) / 1e6
        tot_sw = sum(s.get("shuffleWriteBytes") or 0 for s in stages)
        tot_in = sum(s.get("inputBytes") or 0 for s in stages)
        lines = [
            f"# profile {name} tag={tag} sf_dir={SF_DIR} action={'noop' if use_noop else 'count'}",
            f"# walls={['%.3f' % w for w in wall]} jobs={len(jobs)} stages={len(stages)} "
            f"executorRunTime={tot_run/1e3:.2f}s cpuTime={tot_cpu/1e3:.2f}s "
            f"shuffleWrite={tot_sw/1e6:.1f}MB input={tot_in/1e6:.1f}MB",
            f"# janino compiles={[n for n, _ in compiles]} "
            f"compile_ms={['%.0f' % ms for _, ms in compiles]}",
        ]
        for s in stages[:15]:
            lines.append(
                f"#   stage {s['stageId']}: run={s.get('executorRunTime',0)/1e3:.2f}s "
                f"tasks={s.get('numCompleteTasks')} "
                f"in={(s.get('inputBytes') or 0)/1e6:.1f}MB "
                f"sw={(s.get('shuffleWriteBytes') or 0)/1e6:.1f}MB "
                f"sr={(s.get('shuffleReadBytes') or 0)/1e6:.1f}MB  "
                f"{(s.get('name') or '')[:90]}"
            )
        hdr = "\n".join(lines)
        print(hdr, flush=True)
        with open(os.path.join(outdir, f"{name}_{tag}.txt"), "w") as f:
            f.write(hdr + "\n\n" + plan_txt + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
