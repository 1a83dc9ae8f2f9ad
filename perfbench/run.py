"""Lakehouse benchmark: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload lake_day --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``;
every output is checked against DuckDB over the same inputs. The last line
of stdout is ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics (from spans
and Spark's status store) with ``--trace 1``. The line before it records
the host, the source, the seed and the workload's metrics by their
workload-specific names. The exit code is nonzero when any op failed or
returned a wrong result.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s", "driver_mem_mb": "MB", "p50_ms": "ms", "p90_ms": "ms",
    "cycle_s": "s", "cpu_s": "s",
}

OPERATOR_TOTALS = {
    "construct_s": "s", "construct_jobs": "count", "action_s": "s", "jobs": "count",
    "stages": "count", "tasks": "count", "driver_idle_s": "s", "executor_run_s": "s",
    "executor_cpu_s": "s", "shuffle_write_mb": "MB", "shuffle_read_mb": "MB",
    "spill_mb": "MB", "input_mb": "MB",
}
PER_QUERY = {"wall_s": "s", "construct_s": "s", "jobs": "count", "driver_idle_s": "s",
             "executor_run_s": "s"}


def per_layer_units() -> dict[str, str]:
    from workloads import MIX

    units = {"session.start_s": "s", "registry.load_s": "s",
             "sources.load_s": "s", "sources.calls": "count"}
    units.update({f"operators.{k}": u for k, u in OPERATOR_TOTALS.items()})
    for q in dict.fromkeys(MIX):
        units.update({f"operators.{q}.{k}": u for k, u in PER_QUERY.items()})
    units.update({
        "plans.ckpt.released": "count", "plans.ckpt.pinned_after_release": "count",
        "pipelines.ingest_s": "s", "pipelines.refresh_mart_s": "s",
        "pipelines.summary_s": "s", "pipelines.rows_ingested": "count",
        "lake.append_s": "s", "lake.delete_where_s": "s", "lake.merge_upsert_s": "s",
        "lake.compact_s": "s", "lake.commits": "count", "lake.jobs_per_commit": "ratio",
        "lake.files_added": "count", "lake.files_removed": "count",
        "lake.partitions_rewritten": "count", "lake.bytes_written_mb": "MB",
        "lake.live_mb": "MB", "lake.write_amp": "ratio",
        "streaming.batches": "count", "streaming.rows_in": "count",
        "streaming.batch_p50_ms": "ms", "streaming.batch_max_ms": "ms",
        "streaming.state_rows_peak": "count", "streaming.merge_s": "s",
        "streaming.drain_s": "s",
        "trace.cycle_s": "s", "trace.p50_ms": "ms", "trace.bookkeeping_s": "s",
    })
    return units


def _vmhwm_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _reset_python_peak() -> None:
    """Start the Python driver's high-water mark afresh (input generation
    and the oracles ran in this process before the measured window)."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def _driver_mem(spark) -> dict:
    """The driver's memory in MB: the Python process's high-water mark since
    ``_reset_python_peak`` (collected results land here), the JVM heap still
    live after a full collection (persisted RDD blocks, broadcasts, status
    records: what the run left behind), and the JVM's non-heap memory in use
    (metaspace, code cache, direct buffers). Garbage the collector has not
    reclaimed yet, and heap it merely keeps committed, are not counted: they
    follow the collector's pacing, not the program. Spark's ContextCleaner
    drops shuffle and broadcast state only after a collection has found
    its owner unreachable, so one collection leaves a varying share of that
    state behind; four, half a second apart, settle it."""
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    python = _vmhwm_mb()
    for i in range(4):
        if i:
            time.sleep(0.5)  # the cleaner thread runs between collections
        jvm.java.lang.System.gc()  # a full, stop-the-world collection under G1
    heap = mf.getMemoryMXBean().getHeapMemoryUsage().getUsed()
    nonheap = mf.getMemoryMXBean().getNonHeapMemoryUsage().getUsed()
    buffers = sum(b.getMemoryUsed() for b in mf.getPlatformMXBeans(
        jvm.java.lang.Class.forName("java.lang.management.BufferPoolMXBean")))
    return {"python_hwm_mb": python, "jvm_heap_live_mb": heap / 2**20,
            "jvm_nonheap_mb": (nonheap + buffers) / 2**20}


def _processes() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, CPU ticks used, reaped children included)."""
    procs = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we looked
            continue
        procs[int(pid)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    return procs


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _descendants(procs: dict) -> set[int]:
    tree, frontier = set(), {os.getpid()}
    while frontier:
        tree |= frontier
        frontier = {p for p, (ppid, _) in procs.items() if ppid in frontier} - tree
    return tree - {os.getpid()}


def _tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every descendant (the
    JVM and its Python workers)."""
    procs = _processes()
    tree = _descendants(procs) | {os.getpid()}
    return sum(procs[p][1] for p in tree if p in procs) / os.sysconf("SC_CLK_TCK")


def _steal_jiffies() -> tuple[int, int]:
    """(stolen, total) jiffies of all CPUs so far, from /proc/stat."""
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:9]]
    return cpu[7], sum(cpu)


def _source_id() -> dict:
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=CHECKOUT, capture_output=True,
                             text=True, timeout=10).stdout.strip() or None
    except OSError:
        sha = None
    h = hashlib.sha1()
    pkg = os.path.join(CHECKOUT, "nyc_taxi_lakehouse_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for n in sorted(files):
            if n.endswith(".py"):
                with open(os.path.join(d, n), "rb") as f:
                    h.update(n.encode() + f.read())
    return {"git_sha": sha, "package_sha1": h.hexdigest()}


def _pin_environment(work: str) -> int:
    """Pin the session the way the test tier does (one executor slot per
    CPU) and keep every temporary file, the JVM's included, under ``work``.
    Must run before the package is imported: it reads these at import."""
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        "TZ": "UTC",
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_PYTHON": sys.executable,
    })
    tempfile.tempdir = None
    time.tzset()
    return nproc


def _quantile(values: list[float], q: int) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched and the Python workers the
    JVM started, and wait until each has ended."""
    from pyspark import SparkContext

    children = _descendants(_processes())
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 10
    while children and time.time() < deadline:
        children = {p for p in children if _alive(p)}
        time.sleep(0.05)
    for p in children:  # orphaned workers that outlived the JVM
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def run(args) -> int:
    work = os.path.join(CHECKOUT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        nproc = _pin_environment(work)
        load_before = os.getloadavg()
        import spans
        from workloads import WORKLOADS, Ctx

        wl = WORKLOADS[args.workload]()
        t = time.perf_counter()
        from nyc_taxi_lakehouse_spark.session import get_spark

        spark = get_spark(
            app_name="perfbench", warehouse_dir=os.path.join(work, "warehouse"),
            extra_conf={"spark.ui.enabled": "false", "spark.ui.showConsoleProgress": "false"})
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t
        t = time.perf_counter()
        from nyc_taxi_lakehouse_spark.registry import all_queries

        queries = all_queries()
        registry_s = time.perf_counter() - t

        tracer = spans.Tracer(enabled=False)
        ctx = Ctx(spark, queries, tracer, spans.SparkStats(spark, tracer), work,
                  args.seed, args.scale or wl.default_scale, args.corrupt)
        t = time.perf_counter()
        wl.prepare(ctx)  # input generation and oracle evaluation: not set-up
        prepare_s = time.perf_counter() - t
        wl.warm(ctx)
        setup_s = time.perf_counter() - T_START - prepare_s

        recorder = None
        if args.trace:
            recorder = spans.StreamRecorder()
            spark.streams.addListener(recorder.listener)
            _trace_sources(tracer, queries)
            tracer.enabled = True
            ctx.released = ctx.pinned_max = 0
        _reset_python_peak()
        cpu0, steal0 = _tree_cpu_s(), _steal_jiffies()
        with tracer.span("workload", workload=args.workload, seed=args.seed):
            ops = wl.measure(ctx, args.seconds)
        tracer.enabled = False
        cpu_s = (_tree_cpu_s() - cpu0) / (wl.cycles(ops) or 1)
        steal1 = _steal_jiffies()
        steal_pct = 100 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])

        mem = _driver_mem(spark)
        latencies = [o.ms for o in wl.latency_ops(ops) if o.ok]
        failed = [o for o in ops if not o.ok]
        for name in dict.fromkeys(o.name for o in ops):
            mine = [o.ms for o in ops if o.name == name]
            print(f"# {name}: n={len(mine)} median_ms={statistics.median(mine):.1f}",
                  file=sys.stderr)
        for o in failed[:5]:
            print(f"# FAILED {o.name}: {o.error}", file=sys.stderr)
        e2e = {
            "setup_s": setup_s,
            "driver_mem_mb": sum(mem.values()),
            "p50_ms": _quantile(latencies, 50) if latencies else 0.0,
            "p90_ms": _quantile(latencies, 90) if latencies else 0.0,
            "cycle_s": wl.cycle_s(ops) if latencies else 0.0,
            "cpu_s": cpu_s,
        }
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "scale": ctx.scale, "nproc": nproc,
            "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
            "cpu_steal_pct": steal_pct,
            "prepare_s": prepare_s, "attempted": len(ops), "failed": len(failed),
            "error_rate": len(failed) / len(ops), **_source_id(),
            **{k: e2e[k] for k in ("setup_s", "driver_mem_mb")}, **mem,
            **_named(args.workload, e2e, wl, ops),
        }
        if args.trace:
            recorder.settle()
            metrics = _layer_metrics(wl, ops, ctx, tracer, recorder, session_s, registry_s, e2e)
            units = per_layer_units()
            tracer.write(os.path.join(CHECKOUT, ".perfbench", "traces",
                                      f"{args.workload}-seed{args.seed}.json"))
        else:
            metrics, units = e2e, END_TO_END
        print(json.dumps({"run": record}))
        print(json.dumps({
            "correct": not failed, "attempted": len(ops), "failed": len(failed),
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }))
        return 1 if failed else 0
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def _named(workload: str, e2e: dict, wl, ops) -> dict:
    """The workload's end-to-end metrics under the names of the day's and
    the read path's own views: a lake day, serving reads, heavy analytics."""
    from workloads import HEAVY

    if workload == "lake_day":
        written, live = statistics.median(wl.written_mb), statistics.median(wl.live_mb)
        return {"day_s": e2e["cycle_s"], "write_amp": written / live if live else 0.0}
    serving = [o.ms for o in wl.latency_ops(ops) if o.ok]
    heavy = {q: [o.ms for o in ops if o.ok and o.name == q] for q in HEAVY}
    if not serving or not all(heavy.values()):
        return {}
    return {"read_p50_ms": e2e["p50_ms"], "read_p90_ms": e2e["p90_ms"],
            "reads_per_s": len(serving) / (sum(serving) / 1e3),
            "analytics_s": sum(statistics.median(v) for v in heavy.values()) / 1e3}


def _trace_sources(tracer, queries: dict) -> None:
    """Record a span around every ``load_tables`` call, wherever the
    package bound it: module globals, and the closures of SQL-registered
    queries."""
    from nyc_taxi_lakehouse_spark.sources import tables

    orig = tables.load_tables

    def load_tables(*args, **kwargs):
        with tracer.span("sources.load"):
            return orig(*args, **kwargs)

    for mod in list(sys.modules.values()):
        if (getattr(mod, "__name__", "").startswith("nyc_taxi_lakehouse_spark")
                and getattr(mod, "load_tables", None) is orig):
            mod.load_tables = load_tables
    for spec in queries.values():
        code, cells = spec.fn.__code__, spec.fn.__closure__ or ()
        for name, cell in zip(code.co_freevars, cells):
            if name == "load_tables" and cell.cell_contents is orig:
                cell.cell_contents = load_tables


def _layer_metrics(wl, ops, ctx, tracer, recorder, session_s, registry_s, e2e) -> dict:
    """Per-layer metrics of the traced window, per cycle (one lake day, one
    pass over the workload's queries) unless named otherwise."""
    from workloads import MIX

    m = dict.fromkeys(per_layer_units(), 0.0)
    cycles = wl.cycles(ops) or 1
    m["session.start_s"], m["registry.load_s"] = session_s, registry_s
    m["sources.load_s"] = tracer.total("sources.load") / cycles
    m["sources.calls"] = tracer.count("sources.load") / cycles

    qops = [o for o in ops if "construct_jobs" in o.stats]
    for k in OPERATOR_TOTALS:
        m[f"operators.{k}"] = sum(o.stats[k] for o in qops) / cycles
    for q in dict.fromkeys(MIX):
        mine = [o.stats for o in qops if o.name == q]
        for k in PER_QUERY if mine else ():
            m[f"operators.{q}.{k}"] = statistics.median(s[k] for s in mine)
    m["plans.ckpt.released"] = ctx.released / cycles
    m["plans.ckpt.pinned_after_release"] = ctx.pinned_max

    for name, key in [("pipelines.ingest", "ingest_s"), ("pipelines.refresh_mart",
                      "refresh_mart_s"), ("pipelines.summary", "summary_s")]:
        m[f"pipelines.{key}"] = tracer.total(name) / cycles
    m["pipelines.rows_ingested"] = tracer.attr_sum("pipelines.ingest", "rows") / cycles

    for op in ("append", "delete_where", "merge_upsert", "compact"):
        m[f"lake.{op}_s"] = tracer.total(f"lake.{op}") / cycles
    commits = [s["attrs"] for s in tracer.spans if s["attrs"].get("commit")]
    m["lake.commits"] = len(commits) / cycles
    m["lake.jobs_per_commit"] = (sum(c["jobs"] for c in commits) / len(commits)) if commits else 0.0
    for k in ("files_added", "files_removed", "partitions_rewritten"):
        m[f"lake.{k}"] = sum(c[k] for c in commits) / cycles
    if getattr(wl, "written_mb", None):
        m["lake.bytes_written_mb"] = statistics.median(wl.written_mb)
        m["lake.live_mb"] = statistics.median(wl.live_mb)
        m["lake.write_amp"] = m["lake.bytes_written_mb"] / m["lake.live_mb"]

    batches = recorder.batches
    if batches:
        ms = [b["ms"] for b in batches]
        m["streaming.batches"] = len(batches) / cycles
        m["streaming.rows_in"] = sum(b["rows"] for b in batches) / cycles
        m["streaming.batch_p50_ms"] = statistics.median(ms)
        m["streaming.batch_max_ms"] = max(ms)
        m["streaming.state_rows_peak"] = max(b["state_rows"] for b in batches)
    m["streaming.merge_s"] = tracer.total("streaming.merge") / cycles
    m["streaming.drain_s"] = tracer.total("streaming.window") / cycles

    m["trace.cycle_s"], m["trace.p50_ms"] = e2e["cycle_s"], e2e["p50_ms"]
    m["trace.bookkeeping_s"] = tracer.bookkeeping_s / cycles
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["lake_day", "serving_analytics"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=None,
                    help="scale factor of the generated inputs (default: the workload's)")
    ap.add_argument("--corrupt", type=int, default=0,
                    help="tamper with this many checked results (smoke test)")
    args = ap.parse_args(argv)
    sys.path[:0] = [HERE, CHECKOUT]
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
