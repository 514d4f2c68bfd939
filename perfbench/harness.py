"""Measurement plumbing: spans, Spark status-store readings, summaries.

Nothing here changes what the library does. Spans are recorded from the
benchmark's side of each call into a library module; Spark job, stage
and SQL metrics are read after each op from the driver's status stores,
which stay populated with the web UI disabled.
"""

from __future__ import annotations

import contextlib
import math
import statistics
import time

_NULL = contextlib.nullcontext()


class Tracer:
    """In-memory span recorder. With ``on`` false every call is a no-op
    returning a shared null context, so untraced runs pay one attribute
    check per span. A span is [name, start, end, parent span, op id]."""

    def __init__(self, on: bool):
        self.on = on
        self.spans: list[list] = []
        self._stack: list[list] = []
        self.op = None

    def span(self, name: str):
        return self._span(name) if self.on else _NULL

    @contextlib.contextmanager
    def _span(self, name: str):
        rec = [name, time.time(), None, self._stack[-1] if self._stack else None, self.op]
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield
        finally:
            self._stack.pop()
            rec[2] = time.time()

    def op_spans(self, op_id) -> list[list]:
        return [s for s in self.spans if s[4] == op_id]

    @staticmethod
    def self_times(spans: list[list]) -> dict[str, float]:
        """Self time per span name (seconds): duration minus children."""
        child: dict[int, float] = {}
        for s in spans:
            if s[3] is not None:
                child[id(s[3])] = child.get(id(s[3]), 0.0) + s[2] - s[1]
        out: dict[str, float] = {}
        for s in spans:
            out[s[0]] = out.get(s[0], 0.0) + (s[2] - s[1]) - child.get(id(s), 0.0)
        return out


def overlap(a0: float, a1: float, intervals: list[tuple[float, float]]) -> float:
    return sum(max(0.0, min(a1, b1) - max(a0, b0)) for b0, b1 in intervals)


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, -math.inf
    for b0, b1 in sorted(intervals):
        if b1 <= end:
            continue
        total += b1 - max(b0, end)
        end = b1
    return total


def merge(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for b0, b1 in sorted(intervals):
        if out and b0 <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b1)
        else:
            out.append([b0, b1])
    return [(a, b) for a, b in out]


class SparkProbe:
    """Reads one job group's jobs, stages and task metrics from the
    driver's AppStatusStore (py4j), after draining the listener bus."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.store = self._jsc.statusStore()

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def end(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def read(self, group: str) -> dict:
        self._jsc.listenerBus().waitUntilEmpty(10_000)
        out = {"jobs": 0, "stages": 0, "tasks": 0, "task_cpu_ms": 0.0, "gc_ms": 0.0,
               "shuffle_mb": 0.0, "spill_mb": 0.0, "input_rows": 0, "intervals": []}
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            job = self.store.job(jid)
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                out["intervals"].append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            ids = job.stageIds()
            for i in range(ids.size()):
                try:
                    st = self.store.lastStageAttempt(ids.apply(i))
                except Exception:  # stage never attempted (skipped)
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["task_cpu_ms"] += st.executorCpuTime() / 1e6
                out["gc_ms"] += st.jvmGcTime()
                out["shuffle_mb"] += st.shuffleWriteBytes() / 1e6
                out["spill_mb"] += st.diskBytesSpilled() / 1e6
                # records, not bytes: the Parquet reader reports almost
                # no bytesRead for local files
                out["input_rows"] += st.inputRecords()
        return out


_PY_METRICS = ("pythonNumRowsReceived", "pythonDataSent", "pythonDataReceived")


def python_node_metrics(df) -> tuple[int, float]:
    """Rows and MB exchanged with Python workers by the Arrow exec nodes
    of ``df``'s executed plan (SQL metrics of the final AQE plan)."""
    rows, nbytes = 0, 0
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        metrics = node.metrics()
        if metrics.contains(_PY_METRICS[0]):
            rows += metrics.apply(_PY_METRICS[0]).value()
            nbytes += metrics.apply(_PY_METRICS[1]).value() + metrics.apply(_PY_METRICS[2]).value()
        kids = node.children()
        for i in range(kids.size()):
            stack.append(kids.apply(i))
    return rows, nbytes / 1e6


def stream_progress(query) -> dict:
    """Micro-batch machinery of one finished stream, from recentProgress."""
    out = {"trigger_ms": 0.0, "add_batch_ms": 0.0, "wal_commit_ms": 0.0, "planning_ms": 0.0,
           "batches_data": 0, "batches_nodata": 0, "state_rows": 0, "state_mb": 0.0}
    for p in query.recentProgress:
        d = p.get("durationMs", {})
        out["trigger_ms"] += d.get("triggerExecution", 0)
        out["add_batch_ms"] += d.get("addBatch", 0)
        out["wal_commit_ms"] += d.get("walCommit", 0)
        out["planning_ms"] += d.get("queryPlanning", 0)
        if p.get("numInputRows", 0) > 0:
            out["batches_data"] += 1
        else:
            out["batches_nodata"] += 1
    last = query.recentProgress[-1] if query.recentProgress else {}
    for s in last.get("stateOperators", []):
        out["state_rows"] += s.get("numRowsTotal", 0)
        out["state_mb"] += s.get("memoryUsedBytes", 0) / 1e6
    return out


def calib_ms(reps: int = 5) -> float:
    """Machine canary: median time of a fixed pure-Python CPU loop."""
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        acc = 0
        for i in range(200_000):
            acc += i * i % 7
        times.append((time.perf_counter() - t) * 1e3)
    return statistics.median(times)


def geomean(xs) -> float:
    xs = list(xs)
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def drift(samples: list[tuple[str, float]]) -> float:
    """Latency in the last tenth of the timed window over the first
    tenth, each op normalised by its type's median first."""
    med: dict[str, float] = {}
    for name in {n for n, _ in samples}:
        med[name] = statistics.median(v for n, v in samples if n == name)
    norm = [v / med[n] for n, v in samples]
    k = max(1, len(norm) // 10)
    return statistics.median(norm[-k:]) / statistics.median(norm[:k])
