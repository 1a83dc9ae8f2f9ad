"""The benchmark's two workloads.

Each workload generates its inputs from the seed and evaluates its DuckDB
oracle before Spark starts (``prepare``), warms the session on its own ops
(``warm``, part of set-up), then runs whole cycles until the
time is up (``measure``). An op is one timed call into the package; its
output is checked against the oracle after the window closes.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import gen
import oracle

# The nine endpoints of the serving API (operators/serving.py), six rounds
# of them a pass (54 requests: five samples beyond p90, not two), with one
# heavy analytics query after the third round and one after the sixth:
# q_dbscan (driver-scheduled jobs) and q_dedup_chargram (checkpointed,
# shuffle-heavy).
SERVING = ["q_recent_orders", "q_zone_metrics", "q_hourly_timeseries", "q_type_impact",
           "q_demand_prediction", "q_realtime_activity", "q_dashboard_stats",
           "q_peak_hour", "q_top_zones"]
HEAVY = ["q_dbscan", "q_dedup_chargram"]
MIX = [q for heavy in HEAVY for q in SERVING * 3 + [heavy]]


class Ctx:
    """What a workload needs from the run: the session, the registry, the
    tracer and the run's private root directory."""

    def __init__(self, spark, queries, tracer, stats, root, seed, scale, corrupt):
        self.spark, self.queries, self.tracer, self.stats = spark, queries, tracer, stats
        self.root, self.seed, self.scale = root, seed, scale
        self.corrupt_left = corrupt  # results to tamper with (smoke test)
        self.pinned_max = 0
        self.released = 0

    def tamper(self, rows: list) -> list:
        """Drop a row of the next ``corrupt_left`` results, so the smoke
        test can see a wrong result counted as a failure."""
        if self.corrupt_left > 0:
            self.corrupt_left -= 1
            return rows[:-1]
        return rows


class Op:
    __slots__ = ("name", "ms", "ok", "error", "result", "stats")

    def __init__(self, name):
        self.name, self.ms, self.ok, self.error = name, 0.0, True, None
        self.result, self.stats = None, {}


# --- serving_analytics ------------------------------------------------------

class QueryLoop:
    """Closed loop, one client, no think time: round-robin over ``names``,
    each request ``fn(spark, dir).collect()`` as the serving endpoint does."""

    def __init__(self, names: list[str], tables: list[str], default_scale: float):
        self.names, self.tables = names, tables
        self.default_scale = default_scale
        self.expected: dict = {}
        self.calls = 0

    def prepare(self, ctx: Ctx) -> None:
        self.data = os.path.join(ctx.root, "data")
        gen.star_schema(self.data, ctx.scale, ctx.seed, self.tables)
        self.expected = oracle.query_digests(self.data, ctx.queries,
                                              list(dict.fromkeys(self.names)))

    def warm(self, ctx: Ctx) -> None:
        # One cold call of every query, then one more round of the serving
        # queries: their second call still runs ~25% slow while the JIT
        # catches up. A heavy query's second call, the first timed one, is
        # within the spread of its later calls.
        for n in list(dict.fromkeys(self.names)) + SERVING:
            op = self._invoke(ctx, n)
            if op.error:
                raise RuntimeError(f"warm-up {n}: {op.error}")

    def measure(self, ctx: Ctx, seconds: float) -> list[Op]:
        ops: list[Op] = []
        t0 = time.perf_counter()
        # whole passes only, so every run has the same mix of requests
        while time.perf_counter() - t0 < seconds or len(ops) % len(self.names):
            ops.append(self._invoke(ctx, self.names[len(ops) % len(self.names)]))
        for op in ops:
            if op.error is None:
                cols, rows = op.result
                got = oracle.digest(cols, ctx.tamper(rows))
                op.ok = got == self.expected[op.name]
                if not op.ok:
                    op.error = f"result {got} != oracle {self.expected[op.name]}"
            op.result = None
        return ops

    def latency_ops(self, ops: list[Op]) -> list[Op]:
        """The serving requests: the latency a dashboard user sees."""
        return [o for o in ops if o.name in SERVING]

    def cycle_s(self, ops: list[Op]) -> float:
        """One pass over the query list: the sum of each request's median."""
        return sum(statistics.median(o.ms for o in ops if o.name == n) / 1e3
                   for n in self.names)

    def cycles(self, ops: list[Op]) -> float:
        return len(ops) / len(self.names)

    def _invoke(self, ctx: Ctx, name: str) -> Op:
        from nyc_taxi_lakehouse_spark.plans.ckpt import (
            persistent_rdd_count, release_run_checkpoints)

        op = Op(name)
        spec = ctx.queries[name]
        sc, tr = ctx.spark.sparkContext, ctx.tracer
        self.calls += 1
        group = f"{name}#{self.calls}"
        try:
            with tr.span("op", op=name) as sp:
                t0 = time.perf_counter()
                if tr.enabled:
                    sc.setJobGroup(group + "/construct", name)
                with tr.span("operators.construct", query=name):
                    df = spec.fn(ctx.spark, self.data)
                t1, w1 = time.perf_counter(), time.time()
                if tr.enabled:
                    sc.setJobGroup(group + "/action", name)
                with tr.span("operators.action", query=name):
                    rows = df.collect()
                t2, w2 = time.perf_counter(), time.time()
            op.ms = (t2 - t0) * 1e3
            op.result = (df.columns, rows)
        except Exception as e:  # a failed request is counted, the loop goes on
            op.ok, op.error = False, f"{type(e).__name__}: {e}"
        finally:
            if tr.enabled:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            ctx.released += release_run_checkpoints()
            pinned = persistent_rdd_count(ctx.spark)
            ctx.pinned_max = max(ctx.pinned_max, pinned)
        if op.error is None and pinned:
            op.ok, op.error = False, f"{pinned} RDDs still persisted after release"
        if tr.enabled and op.error is None:
            cjobs = ctx.stats.group_jobs(group + "/construct")
            ajobs = ctx.stats.group_jobs(group + "/action")
            st = ctx.stats.summarize(cjobs + ajobs, ctx.stats.stages_of_jobs(cjobs + ajobs),
                                     window=(w1, w2))
            st.update(construct_s=t1 - t0, action_s=t2 - t1, wall_s=t2 - t0,
                      construct_jobs=len(cjobs))
            op.stats = st
            sp["attrs"].update(st)
        return op


# --- lake_day ---------------------------------------------------------------

LAKE_PARAMS = {"increments": 2, "envelope_files": 2, "update_share": 0.2,
               "delete_share": 0.1, "dirty_share": 0.02}


class LakeDay:
    """The reference's day on the lake: incremental ingest with a control-
    table watermark and a mart refresh per increment, Debezium files drained
    by the CDC MERGE and by the windowed aggregate (one micro-batch per
    file), compaction of every table, the CTAS daily summary, then reads of
    the final tables."""

    default_scale = 0.005

    def prepare(self, ctx: Ctx) -> None:
        self.inputs = gen.lake_inputs(os.path.join(ctx.root, "inputs"), ctx.scale,
                                      ctx.seed, **LAKE_PARAMS)
        self.expected = oracle.lake_expectations(self.inputs["increments"],
                                                 self.inputs["envelopes"])
        self.days = 0
        self.written_mb, self.live_mb = [], []

    def warm(self, ctx: Ctx) -> None:
        ops, _ = self._day(ctx, self.inputs)
        failed = [o for o in ops if o.error]
        if failed:
            raise RuntimeError(f"warm-up {failed[0].name}: {failed[0].error}")

    def measure(self, ctx: Ctx, seconds: float) -> list[Op]:
        ops: list[Op] = []
        self.day_walls: list[float] = []
        self.written_mb, self.live_mb = [], []
        while sum(self.day_walls) < seconds or not self.day_walls:
            day_ops, wall = self._day(ctx, self.inputs)
            self.day_walls.append(wall)
            for op in day_ops:
                table = op.name.removeprefix("read_")
                if op.error is None and table in self.expected:
                    cols, rows = op.result
                    got = oracle.digest(cols, ctx.tamper(rows))
                    op.ok = got == self.expected[table]
                    if not op.ok:
                        op.error = f"result {got} != oracle {self.expected[table]}"
                op.result = None
            ops += day_ops
        return ops

    def latency_ops(self, ops: list[Op]) -> list[Op]:
        """Every step of the day."""
        return ops

    def cycle_s(self, ops: list[Op]) -> float:
        return statistics.median(self.day_walls)

    def cycles(self, ops: list[Op]) -> float:
        return len(self.day_walls)

    def _day(self, ctx: Ctx, inputs: dict) -> tuple[list[Op], float]:
        from pyspark.sql import functions as F

        from nyc_taxi_lakehouse_spark.lake import ControlTable, LakeTable
        from nyc_taxi_lakehouse_spark.pipelines import (
            build_daily_summary, ingest_facts, refresh_mart)
        from nyc_taxi_lakehouse_spark.streaming.cdc import run_cdc_merge, run_cdc_pipeline

        import spans

        spark, tr = ctx.spark, ctx.tracer
        if tr.enabled:
            Lake, Control = spans.traced_tables(tr, ctx.stats)
        else:
            Lake, Control = LakeTable, ControlTable
        self.days += 1
        day = os.path.join(ctx.root, f"day-{self.days}")
        src, cdc_in = os.path.join(day, "src"), os.path.join(day, "cdc_in")
        os.makedirs(os.path.join(src, "lineitem.parquet"))
        os.makedirs(cdc_in)
        part = ["ship_year", "ship_month"]
        facts = Lake(spark, os.path.join(day, "facts"), part)
        mart = Lake(spark, os.path.join(day, "mart"), part)
        cdc = Lake(spark, os.path.join(day, "cdc"), ["event_type"])
        summary = Lake(spark, os.path.join(day, "summary"))
        control = Control(spark, os.path.join(day, "control"))
        sink = os.path.join(day, "window_sink")
        tables = [facts, mart, cdc, summary]
        ops: list[Op] = []
        stop = []

        def step(name, fn):
            op = Op(name)
            ops.append(op)
            if stop:
                op.ok, op.error = False, "skipped after an earlier failure"
                return
            before = ctx.stats.counters() if tr.enabled else None
            try:
                with tr.span("op", op=name) as sp:
                    t0 = time.perf_counter()
                    op.result = fn()
                    op.ms = (time.perf_counter() - t0) * 1e3
                if before is not None:
                    op.stats = ctx.stats.window(before)
                    sp["attrs"].update(op.stats)
            except Exception as e:  # the rest of the day depends on this step
                op.ok, op.error = False, f"{type(e).__name__}: {e}"
                stop.append(name)

        arrival = [0.0]

        def land(paths, dest):
            # The file source replays files in modification-time order, the
            # stand-in for a topic's offsets: give each arrival its own tick.
            for p in paths:
                target = os.path.join(dest, os.path.basename(p))
                shutil.copy(p, target)
                arrival[0] = max(arrival[0] + 0.01, time.time())
                os.utime(target, (arrival[0], arrival[0]))

        def ingest():
            with tr.span("pipelines.ingest") as sp:
                n = ingest_facts(spark, src, facts, control)
                if sp is not None:
                    sp["attrs"]["rows"] = n
            return n

        prev_wm = [None]

        def refresh():
            batch = facts.read()
            if prev_wm[0] is not None:
                batch = batch.filter(F.col("l_shipdate") > F.lit(prev_wm[0]))
            months = sorted(tuple(r) for r in
                            batch.select("ship_year", "ship_month").distinct().collect())
            pred = " OR ".join(f"(ship_year = {y} AND ship_month = {m})" for y, m in months)
            rollup = (facts.read().filter(pred)
                      .groupBy("ship_year", "ship_month", "l_returnflag")
                      .agg(F.count("*").alias("n_lines"),
                           F.sum(F.col("l_extendedprice").cast("decimal(28,2)"))
                           .cast("double").alias("revenue")))
            with tr.span("pipelines.refresh_mart"):
                refresh_mart(mart, rollup, months)
            prev_wm[0] = control.get_watermark("lineitem")

        def drain():
            with tr.span("streaming.merge"):
                run_cdc_merge(spark, cdc_in, cdc, os.path.join(day, "ckpt_merge"))

        def window():
            with tr.span("streaming.window"):
                run_cdc_pipeline(spark, cdc_in, sink, os.path.join(day, "ckpt_window"))

        def compact():
            return sum(t.compact() for t in (facts, mart, cdc))

        def daily_summary():
            with tr.span("pipelines.summary"):
                build_daily_summary(spark, facts, summary)

        def read(make):
            def run():
                df = make()
                return df.columns, df.collect()
            return run

        day_before = ctx.stats.counters()
        t0 = time.perf_counter()
        for inc in inputs["increments"]:
            land([inc], os.path.join(src, "lineitem.parquet"))
            step("ingest", ingest)
            step("refresh_mart", refresh)
        land(inputs["envelopes"], cdc_in)
        step("cdc_merge", drain)
        step("cdc_window", window)
        step("compact", compact)
        step("daily_summary", daily_summary)
        step("read_facts", read(lambda: _facts_fingerprint(facts.read())))
        step("read_mart", read(lambda: mart.read().select(
            "ship_year", "ship_month", "l_returnflag", "n_lines", "revenue")))
        step("read_summary", read(summary.read))
        step("read_cdc", read(cdc.read))
        step("read_window", read(lambda: spark.read.parquet(sink).drop("approx_users")))
        wall = time.perf_counter() - t0
        # write amplification: bytes every stage of the day wrote (staging
        # copies, rewrites, checkpoints' data files) over the live bytes left
        self.written_mb.append(ctx.stats.window(day_before)["output_mb"])
        self.live_mb.append(sum(sum(spans.data_files(p).values())
                                for p in [t.path for t in tables] + [sink, control.path]) / 2**20)
        shutil.rmtree(day, ignore_errors=True)
        return ops, wall


def _facts_fingerprint(df):
    from pyspark.sql import functions as F

    return df.groupBy("ship_year", "ship_month").agg(
        F.count("*").alias("n"),
        F.sum("order_key").alias("s_order"),
        F.sum("part_key").alias("s_part"),
        F.sum("l_suppkey").alias("s_supp"),
        F.sum(F.col("l_quantity").cast("bigint")).alias("s_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(28,2)")).alias("s_price"),
        F.sum(F.col("l_discount").cast("decimal(10,2)")).alias("s_disc"),
        F.sum(F.col("l_tax").cast("decimal(10,2)")).alias("s_tax"),
        F.countDistinct("l_shipdate").alias("n_days"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("n_returned"),
        F.sum(F.when(F.col("l_linestatus") == "F", 1).otherwise(0)).alias("n_final"),
    )


WORKLOADS = {
    "lake_day": LakeDay,
    "serving_analytics": lambda: QueryLoop(
        MIX, ["nation", "customer", "orders", "lineitem", "events", "documents"], 0.01),
}
