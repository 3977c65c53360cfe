"""Per-layer collection for the traced run, entirely from outside the package.

Three sources, none of which needs the Spark UI or a change to the program:

- spans the benchmark records around each call it makes into a layer's
  public function (``get_session``, ``catalog.load_table``, a registered
  query's builder, the ``noop`` write, ``mr.submit``);
- Spark's status stores, read before and after each operation: the core
  ``AppStatusStore`` for jobs, stages and task metrics, and the SQL store
  for per-node metrics (sort, aggregate and the Python exec nodes);
- a ``StreamingQueryListener`` the benchmark registers for micro-batch
  progress.

Jobs, stages and SQL executions are found by id: ids only grow, while the
stores keep a bounded tail (the last 1000 jobs), so a list-size delta can
go negative. ``executorCpuTime`` leaves out the Python workers and pipe
subprocesses, so task (run) time is reported beside it.
"""

from __future__ import annotations

import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

MB = 1024 * 1024

# SQL node metric name -> per-layer metric it adds to (values in s or MB).
NODE_METRICS = {
    "sort time": "exec.sort_s",
    "time in aggregation build": "exec.agg_build_s",
    "time to run Python workers": "operators.python_run_s",
    "time to start Python workers": "operators.python_start_s",
    "time to initialize Python workers": "operators.python_init_s",
    "data sent to Python workers": "operators.python_sent_mb",
    "data returned from Python workers": "operators.python_returned_mb",
    "size of files read": "scan.files_mb",
}
_SEP = "\u0001"

# as Spark renders them (Utils.msDurationToString, Utils.bytesToString)
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1 / MB, "KiB": 1 / 1024, "MiB": 1.0, "GiB": 1024.0, "TiB": 1024.0 * 1024,
}


def parse_metric(text: str) -> float:
    """Value of a rendered SQL metric, in s for timings and MB for sizes.

    The store renders ``"12 ms"`` for one task and
    ``"total (min, med, max ...)\\n1.3 s (322 ms, ...)"`` for several; the
    total is the first value on the last line."""
    line = text.strip().splitlines()[-1]
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1.0)


class Spans:
    """Wall-time spans recorded around the benchmark's calls into layers."""

    def __init__(self) -> None:
        self.totals: dict[str, float] = defaultdict(float)

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.totals[name] += time.perf_counter() - t0

    def take(self) -> dict[str, float]:
        out = dict(self.totals)
        self.totals.clear()
        return out


class StreamListener:
    """Accumulates micro-batch progress of every streaming query. Events
    arrive on the gateway's callback threads, hence the lock."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self._lock = threading.Lock()
        self.started = 0
        self.terminated = 0
        self.counts: dict[str, float] = defaultdict(float)
        self._last_state: dict[str, tuple[float, float]] = {}

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                with outer._lock:
                    outer.started += 1

            def onQueryProgress(self, event):
                with outer._lock:
                    outer._progress(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with outer._lock:
                    outer.terminated += 1

        self._listener = _Listener()
        self._spark = spark
        spark.streams.addListener(self._listener)

    def _progress(self, p) -> None:
        d = p.durationMs or {}
        c = self.counts
        c["streaming.batches"] += 1
        c["streaming.input_rows"] += p.numInputRows or 0
        c["streaming.trigger_s"] += d.get("triggerExecution", 0) / 1000
        c["streaming.add_batch_s"] += d.get("addBatch", 0) / 1000
        c["streaming.planning_s"] += d.get("queryPlanning", 0) / 1000
        c["streaming.log_commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1000
        rows = mem = 0.0
        for op in p.stateOperators or ():
            c["streaming.state_commit_s"] += (op.commitTimeMs or 0) / 1000
            rows += op.numRowsTotal or 0
            mem += op.memoryUsedBytes or 0
        # state size is a level, not a flow: keep each query's latest
        self._last_state[str(p.id)] = (rows, mem / MB)

    def settle(self, timeout: float = 10.0) -> None:
        """Wait until every started query's events have been delivered (the
        listener bus is asynchronous; termination is posted last)."""
        deadline = time.monotonic() + timeout
        while self.terminated < self.started and time.monotonic() < deadline:
            time.sleep(0.01)

    def take(self) -> dict[str, float]:
        self.settle()
        with self._lock:
            out = dict(self.counts)
            out["streaming.state_rows"] = sum(r for r, _ in self._last_state.values())
            out["streaming.state_mb"] = sum(m for _, m in self._last_state.values())
            self.counts.clear()
            self._last_state.clear()
        return out

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)


class StatusProbe:
    """Reads the core and SQL status stores between operations."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        jvm = spark._jvm
        self._seq = jvm.scala.jdk.javaapi.CollectionConverters
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._no_status = jvm.java.util.ArrayList()
        self._persistent = sc._jsc.getPersistentRDDs
        self.next_job = self._next_job()
        self.next_execution = self._next_execution(0)
        self.last_stage = -1

    def _next_job(self) -> int:
        """Id the next job will get; waits until the stores have caught up
        with every job submitted so far (the listener bus is asynchronous)."""
        self._jsc.listenerBus().waitUntilEmpty()
        return self._jsc.dagScheduler().numTotalJobs()

    def _next_execution(self, start: int) -> int:
        i = start
        while not self._sql.execution(i).isEmpty():
            i += 1
        return i

    def skip(self) -> None:
        """Leave out everything run so far (the benchmark's own probes:
        listing the session's tables runs a job)."""
        self.next_job = self._next_job()
        self.next_execution = self._next_execution(self.next_execution)

    def persisted_rdds(self) -> int:
        return len(self._persistent())

    def _stage(self, stage_id: int) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        seq = self._store.stageData(stage_id, False, self._no_status, False, self._no_quantiles)
        for s in self._seq.asJava(seq):
            if str(s.status()) == "SKIPPED":
                continue
            out["exec.stages"] += 1
            out["exec.tasks"] += s.numCompleteTasks()
            out["exec.task_s"] += s.executorRunTime() / 1000
            out["exec.jvm_cpu_s"] += s.executorCpuTime() / 1e9
            out["exec.gc_s"] += s.jvmGcTime() / 1000
            out["exec.input_mb"] += s.inputBytes() / MB
            out["exec.shuffle_write_mb"] += s.shuffleWriteBytes() / MB
            out["exec.shuffle_read_mb"] += s.shuffleReadBytes() / MB
            out["exec.spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / MB
            out["exec.shuffle_write_time_s"] += s.shuffleWriteTime() / 1e9
            out["exec.fetch_wait_s"] += s.shuffleFetchWaitTime() / 1000
            out["output_mb"] += s.outputBytes() / MB
        return out

    def _node_metrics(self, execution: int):
        """(metric name, rendered value) of every plan node of an SQL
        execution. Scala collections are rendered to one string per node,
        so the walk costs one gateway call per node, not per metric."""
        values = {}
        for item in self._sql.executionMetrics(execution).mkString(_SEP).split(_SEP):
            if " -> " in item:
                acc, value = item.split(" -> ", 1)
                values[acc] = value
        graph = self._sql.planGraph(execution)
        for node in self._seq.asJava(graph.allNodes()):
            for metric in node.metrics().mkString(_SEP).split(_SEP):
                if metric.startswith("SQLPlanMetric("):
                    name, acc, _ = metric[len("SQLPlanMetric(") : -1].rsplit(",", 2)
                    if acc in values:
                        yield name, values[acc]

    def collect(self, mr_job: bool = False) -> dict[str, float]:
        """Everything the stores recorded since the previous call."""
        end = self._next_job()
        out: dict[str, float] = defaultdict(float)
        tracker = self._sc.statusTracker()
        seen: set[int] = set()
        for job_id in range(self.next_job, end):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            out["exec.jobs"] += 1
            # a job lists the shuffle stages it reuses under their old ids:
            # count each stage once, in the window it first appears
            stages = [
                (sid, self._stage(sid))
                for sid in sorted(info.stageIds)
                if sid > self.last_stage and sid not in seen
            ]
            seen.update(sid for sid, _ in stages)
            for sid, st in stages:
                for k, v in st.items():
                    if k != "output_mb":
                        out[k] += v
            if mr_job:
                ran = [st for _, st in stages if st.get("exec.stages")]
                # last stage: sort + reducer pipe + write; the one before:
                # mapper pipe + md5 partitioning; any earlier stage only
                # reshuffles the input
                if ran:
                    out["mr.jobs"] += 1
                    out["mr.stages"] += len(ran)
                    out["mr.reduce_task_s"] += ran[-1].get("exec.task_s", 0)
                    out["mr.output_mb"] += ran[-1].get("output_mb", 0)
                if len(ran) > 1:
                    out["mr.map_task_s"] += ran[-2].get("exec.task_s", 0)
                for st in ran[:-2]:
                    out["mr.input_shuffle_mb"] += st.get("exec.shuffle_write_mb", 0)
        self.next_job = end
        self.last_stage = max(seen, default=self.last_stage)
        end = self._next_execution(self.next_execution)
        for ex in range(self.next_execution, end):
            for name, value in self._node_metrics(ex):
                key = NODE_METRICS.get(name)
                if key is not None:
                    out[key] += parse_metric(value)
        self.next_execution = end
        return out


def host_steal_ticks() -> int:
    """Cumulative steal time of all CPUs, in clock ticks (/proc/stat)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8])
