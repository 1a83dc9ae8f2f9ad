"""Spans, Spark status-store accounting and traced table wrappers.

Everything here lives on the benchmark side of the package boundary: spans
are recorded around calls into the package, Spark's own job/stage records
are read through py4j, and the lake layer is observed through subclasses of
``LakeTable``/``ControlTable`` that the benchmark hands to the package.
Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time


class Tracer:
    """In-memory span recorder. Disabled, ``span`` yields at once and
    records nothing, so the untraced run pays one generator frame per op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._lock = threading.Lock()
        self.bookkeeping_s = 0.0  # time spent reading Spark stats for spans

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        with self._lock:
            parent = self._stack[-1]["id"] if self._stack else None
            sp = {"id": len(self.spans), "parent": parent, "name": name,
                  "start": time.time(), "end": None, "attrs": dict(attrs)}
            self.spans.append(sp)
            self._stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            with self._lock:
                self._stack.remove(sp)

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)

    def attr_sum(self, name: str, key: str) -> float:
        return sum(s["attrs"].get(key, 0) for s in self.spans if s["name"] == name)

    def write(self, path: str) -> None:
        """Write every span with its self time: its duration minus the part
        of that interval its child spans cover."""
        children: dict[int | None, list[dict]] = {}
        for s in self.spans:
            children.setdefault(s["parent"], []).append(s)
        out = []
        for s in self.spans:
            covered = _union_length(
                [(c["start"], c["end"]) for c in children.get(s["id"], [])],
                s["start"], s["end"])
            out.append(dict(s, self_s=(s["end"] - s["start"]) - covered))
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(out, f, default=str)


def _union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class SparkStats:
    """Job and stage records from Spark's status store, read through py4j.

    Works with the UI disabled. Queries are scoped by a unique job group per
    invocation; lake and streaming calls (whose jobs may run on the stream
    thread) are scoped by the scheduler's job/stage id counters, which only
    ever grow, taken before and after the call. Read stats right after the
    call: the store keeps only the newest ``spark.ui.retainedStages``.
    """

    def __init__(self, spark, tracer: Tracer):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._dag = jsc.dagScheduler()
        self._tracker = self.sc.statusTracker()
        self._tracer = tracer

    def counters(self) -> tuple[int, int]:
        return self._dag.nextJobId(), self._dag.nextStageId()

    def group_jobs(self, group: str) -> list[int]:
        return sorted(self._tracker.getJobIdsForGroup(group))

    def stages_of_jobs(self, job_ids) -> list[int]:
        ids: set[int] = set()
        for j in job_ids:
            seq = self._store.job(j).stageIds()
            ids.update(seq.apply(i) for i in range(seq.size()))
        return sorted(ids)

    def summarize(self, job_ids, stage_ids, window=None) -> dict:
        """Totals over the given stages (skipped stages excluded). With
        ``window=(t0, t1)`` also the part of the window no stage was
        running in: driver-side time (planning, scheduling, Python)."""
        from py4j.protocol import Py4JJavaError

        t = time.perf_counter()
        out = {"jobs": len(job_ids), "stages": 0, "tasks": 0, "executor_run_s": 0.0,
               "executor_cpu_s": 0.0, "input_mb": 0.0, "output_mb": 0.0,
               "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0}
        intervals = []
        for sid in stage_ids:
            try:
                sd = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted from the store or never submitted
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numTasks()
            out["executor_run_s"] += sd.executorRunTime() / 1e3
            out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            out["input_mb"] += sd.inputBytes() / 2**20
            out["output_mb"] += sd.outputBytes() / 2**20
            out["shuffle_read_mb"] += sd.shuffleReadBytes() / 2**20
            out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
            out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 2**20
            if window and sd.submissionTime().isDefined() and sd.completionTime().isDefined():
                intervals.append((sd.submissionTime().get().getTime() / 1e3,
                                  sd.completionTime().get().getTime() / 1e3))
        if window:
            t0, t1 = window
            out["driver_idle_s"] = (t1 - t0) - _union_length(intervals, t0, t1)
        self._tracer.bookkeeping_s += time.perf_counter() - t
        return out

    def window(self, before: tuple[int, int]) -> dict:
        """Totals over every job and stage started since ``before``."""
        jobs, stages = self.counters()
        return self.summarize(range(before[0], jobs), range(before[1], stages))


def data_files(root: str) -> dict[str, int]:
    """Parquet data files under ``root`` (relative path -> bytes)."""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet") and not n.startswith((".", "_")):
                p = os.path.join(d, n)
                out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out


def traced_tables(tracer: Tracer, stats: SparkStats):
    """``LakeTable``/``ControlTable`` subclasses that record a span per
    method call. The outermost mutating call on a table is one commit: it
    also records the Spark jobs it launched and the data files it added and
    removed, so nested calls (refresh_where -> delete_where + append) are
    not counted twice."""
    from nyc_taxi_lakehouse_spark.lake import ControlTable, LakeTable

    depth = threading.local()

    def wrap(method, name: str, commit: bool):
        def call(self, *args, **kwargs):
            level = getattr(depth, "n", 0)
            outer = commit and level == 0
            if outer:
                t = time.perf_counter()
                before_files, before = data_files(self.path), stats.counters()
                tracer.bookkeeping_s += time.perf_counter() - t
            depth.n = level + 1
            try:
                with tracer.span(name, table=os.path.basename(self.path)) as sp:
                    result = method(self, *args, **kwargs)
                    if outer:
                        t = time.perf_counter()
                        after_files, (jobs_after, _) = data_files(self.path), stats.counters()
                        removed = [f for f in before_files if f not in after_files]
                        sp["attrs"].update(
                            commit=1, jobs=jobs_after - before[0],
                            files_added=sum(1 for f in after_files if f not in before_files),
                            files_removed=len(removed),
                            partitions_rewritten=len({os.path.dirname(f) for f in removed}),
                        )
                        tracer.bookkeeping_s += time.perf_counter() - t
                    return result
            finally:
                depth.n = level
        return call

    lake_methods = {"append": True, "delete_where": True, "refresh_where": True,
                    "merge_upsert": True, "compact": True, "read": False,
                    "txn_version": False, "txn_commit": False}
    traced_lake = type("TracedLakeTable", (LakeTable,), {
        m: wrap(getattr(LakeTable, m), f"lake.{m}", c) for m, c in lake_methods.items()})
    traced_control = type("TracedControlTable", (ControlTable,), {
        "get_watermark": wrap(ControlTable.get_watermark, "lake.get_watermark", False),
        "set_watermark": wrap(ControlTable.set_watermark, "lake.set_watermark", True),
    })
    return traced_lake, traced_control


class StreamRecorder:
    """Collects micro-batch progress from Spark's streaming listener bus:
    batch durations, input rows and state-store rows per batch."""

    def __init__(self):
        from pyspark.sql.streaming.listener import StreamingQueryListener

        rec = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                with rec._lock:
                    rec.started += 1

            def onQueryProgress(self, event):
                p = event.progress
                state = sum(int(s.numRowsTotal) for s in (p.stateOperators or []))
                with rec._lock:
                    rec.batches.append({
                        "rows": int(p.numInputRows),
                        "ms": float((p.durationMs or {}).get("triggerExecution", 0)),
                        "state_rows": state,
                    })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with rec._lock:
                    rec.terminated += 1

        self._lock = threading.Lock()
        self.listener = _Listener()
        self.batches: list[dict] = []
        self.started = 0
        self.terminated = 0

    def settle(self, timeout: float = 10.0) -> None:
        """Wait until every started query's termination was delivered: the
        listener bus is ordered, so all its progress events arrived too."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            with self._lock:
                if self.terminated >= self.started:
                    return
            time.sleep(0.02)
