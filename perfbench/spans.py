"""Spans around the benchmark's calls into each library layer.

A span records (name, start, end, parent, run id). When tracing is on,
each leaf span also runs its Spark work under its own job group and, once
the call returns, reads what Spark already records for those jobs:

- task metrics per stage from the application status store (CPU time,
  GC time, input/output/shuffle/spill bytes, task count, the longest task
  over the median one);
- SQL metrics per plan node of every SQL execution started inside the
  span (e.g. ``pythonBootTime`` .. ``pythonDataReceived`` on MapInArrow),
  read as raw accumulator values;
- bytes written through the Hadoop local file system (RDD checkpoints).

Nothing inside the library is instrumented. Spans stay in memory and are
written out once, by ``dump``.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager

# SQL metric descriptions (Spark 4.1 PythonSQLMetrics and write metrics)
PY_BOOT = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_TOTAL = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
OUT_ROWS = "number of output rows"
FILES_WRITTEN = "number of written files"


class Span:
    __slots__ = ("name", "layer", "start", "end", "parent", "run_id", "span_id", "spark")

    def __init__(self, name: str, layer: str, parent: int | None, run_id: str, span_id: int):
        self.name = name
        self.layer = layer
        self.parent = parent
        self.run_id = run_id
        self.span_id = span_id
        self.start = time.perf_counter()
        self.end = self.start
        self.spark: dict | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def to_json(self) -> dict:
        return {
            "span_id": self.span_id,
            "name": self.name,
            "layer": self.layer,
            "parent": self.parent,
            "run_id": self.run_id,
            "start": self.start,
            "end": self.end,
            "spark": self.spark,
        }


class Tracer:
    """Records spans; with ``spark_metrics`` it also attaches the Spark
    task and SQL metrics of each leaf span's jobs."""

    def __init__(self, spark, run_id: str, spark_metrics: bool):
        self.spark = spark
        self.run_id = run_id
        self.spark_metrics = spark_metrics
        self.spans: list[Span] = []
        self.bookkeeping_s = 0.0  # time spent reading metrics, not in any span
        self._ids = itertools.count(1)
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, layer: str = ""):
        parent = self._stack[-1].span_id if self._stack else None
        s = Span(name, layer, parent, self.run_id, next(self._ids))
        leaf = bool(layer) and self.spark_metrics
        if leaf:
            before = self._begin(s)
            s.start = time.perf_counter()
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)
            if leaf:
                t0 = time.perf_counter()
                s.spark = self._collect(s, before)
                self.bookkeeping_s += time.perf_counter() - t0

    # -- Spark metrics ----------------------------------------------------
    def _jsc(self):
        return self.spark.sparkContext._jsc.sc()

    def _fs_bytes_written(self) -> int:
        jvm = self.spark.sparkContext._jvm
        it = jvm.org.apache.hadoop.fs.FileSystem.getAllStatistics().iterator()
        total = 0
        while it.hasNext():
            st = it.next()
            if st.getScheme() == "file":
                total += st.getBytesWritten()
        return total

    def _last_execution_id(self) -> int:
        ex = self.spark._jsparkSession.sharedState().statusStore().executionsList()
        n = ex.size()
        return ex.apply(n - 1).executionId() if n else -1

    def _begin(self, s: Span) -> dict:
        sc = self.spark.sparkContext
        self._jsc().listenerBus().waitUntilEmpty()
        sc.setJobGroup(f"perfbench-{self.run_id}-{s.span_id}", s.name)
        return {"exec": self._last_execution_id(), "fs": self._fs_bytes_written()}

    def _collect(self, s: Span, before: dict) -> dict:
        sc = self.spark.sparkContext
        jsc = self._jsc()
        jsc.listenerBus().waitUntilEmpty()
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        out = {
            "jobs": 0,
            "stages": 0,
            "tasks": 0,
            "cpu_s": 0.0,
            "gc_s": 0.0,
            "input_bytes": 0,
            "output_bytes": 0,
            "shuffle_write_bytes": 0,
            "spill_disk_bytes": 0,
            "spill_memory_bytes": 0,
            "task_max_over_median": 0.0,
            "fs_bytes_written": self._fs_bytes_written() - before["fs"],
            "sql": {},
        }
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        gw = sc._gateway
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        seen = set()
        for jid in tracker.getJobIdsForGroup(f"perfbench-{self.run_id}-{s.span_id}"):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # skipped stages never reach the store
                    continue
                if str(st.status().toString()) != "COMPLETE":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["input_bytes"] += st.inputBytes()
                out["output_bytes"] += st.outputBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_disk_bytes"] += st.diskBytesSpilled()
                out["spill_memory_bytes"] += st.memoryBytesSpilled()
                if st.numTasks() > 1:
                    dist = store.taskSummary(sid, st.attemptId(), q)
                    if dist.isDefined():
                        run = dist.get().executorRunTime()
                        med, top = run.apply(0), run.apply(1)
                        if med > 0:
                            out["task_max_over_median"] = max(
                                out["task_max_over_median"], top / med
                            )
        out["sql"] = self._sql_metrics(before["exec"])
        return out

    def _sql_metrics(self, after_exec: int) -> dict:
        """{"<node>|<metric>": raw summed value} over the SQL executions
        started after ``after_exec``. Timing metrics are in ms."""
        jvm = self.spark.sparkContext._jvm
        acc = jvm.org.apache.spark.util.AccumulatorContext
        store = self.spark._jsparkSession.sharedState().statusStore()
        ex = store.executionsList()
        sums: dict[str, float] = {}
        for i in range(ex.size() - 1, -1, -1):
            e = ex.apply(i)
            eid = e.executionId()
            if eid <= after_exec:
                break
            values = store.executionMetrics(eid)
            nodes = store.planGraph(eid).allNodes().iterator()
            while nodes.hasNext():
                node = nodes.next()
                mets = node.metrics().iterator()
                while mets.hasNext():
                    m = mets.next()
                    a = acc.get(m.accumulatorId())
                    if a.isDefined():
                        v = float(a.get().value())
                    else:  # the plan was collected: parse the rendered total
                        txt = values.get(m.accumulatorId())
                        v = _parse_rendered(txt.get() if txt.isDefined() else "")
                    key = f"{node.name()}|{m.name()}"
                    sums[key] = sums.get(key, 0.0) + v
        return sums

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": [s.to_json() for s in self.spans]}, f, indent=1)


_UNITS = {
    "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6,
    "B": 1.0, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}


def _parse_rendered(txt: str) -> float:
    """First number of a rendered SQL metric ("12.3 MiB", "1.2 s", "500",
    or "total (min, med, max ...)\\n12.3 MiB (...)") in raw units."""
    line = txt.split("\n")[-1].strip() if txt else ""
    parts = line.split(" ")
    if not parts or not parts[0]:
        return 0.0
    try:
        v = float(parts[0].replace(",", ""))
    except ValueError:
        return 0.0
    unit = parts[1] if len(parts) > 1 else ""
    return v * _UNITS.get(unit, 1.0)


def sql_sum(spans: list[Span], node_prefix: str, metric: str) -> float:
    """Sum of one SQL metric over the nodes whose name starts with
    ``node_prefix`` (empty: every node), across ``spans``."""
    total = 0.0
    for s in spans:
        for key, v in (s.spark or {}).get("sql", {}).items():
            node, name = key.split("|", 1)
            if name == metric and node.startswith(node_prefix):
                total += v
    return total
