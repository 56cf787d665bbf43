"""Per-layer observation of one benchmark operation, from outside the program.

Nothing here calls into ``pipelinejobs_indexer_spark``: every number is
read from Spark's own bookkeeping around the op, in the traced run only.

* Spark scheduler and executors: jobs whose ids were allocated between
  op start and op end (ops run one at a time, so this time window is
  exact, and it also catches micro-batch jobs that run on a streaming
  thread, which a thread-local job group would miss), their executed
  stages and those stages' task metrics, read from the JVM status store.
* Catalyst: ``QueryExecution.tracker().phases()`` of the executed frame.
* streaming.core: a ``StreamingQueryListener`` registered by the
  benchmark, plus the ``stream_out_*`` sink views left in the catalog.
* The Python edge: SQL metrics of the Python exec nodes of every SQL
  execution that started in the op window.
"""

from __future__ import annotations

import re

from pyspark.sql.streaming import StreamingQueryListener

# SQL metric descriptions of Spark's Python exec nodes (PythonSQLMetrics).
_PY_METRICS = {
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
    "number of output rows": "python.rows_received",
    "time to start Python workers": "python.boot_ms",
    "time to initialize Python workers": "python.init_ms",
    "time to run Python workers": "python.total_ms",
}
_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_MS = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}
_NODE = re.compile(r'label="(?:<br>)?<b>[^<]*</b><br><br>(.*?)"\s+tooltip=')
_TOTAL = "total (min, med, max (stageId: taskId))"

# The per-op layer metrics, each with its unit; BENCHMARK.json lists the
# same names under "per_layer".
OP_METRICS = {
    "query.construct_s": "s",
    "spark.action_s": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.core_utilization": "ratio",
    "spark.input_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "streaming.batches": "count",
    "streaming.input_rows": "rows",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.state_rows": "rows",
    "streaming.state_memory_bytes": "bytes",
    "streaming.sink_views_alive": "count",
    "python.boot_ms": "ms",
    "python.init_ms": "ms",
    "python.total_ms": "ms",
    "python.bytes_sent": "bytes",
    "python.bytes_received": "bytes",
    "python.rows_received": "rows",
}


def parse_metric_value(text: str) -> float:
    """Parse a formatted SQL metric total: '3,063', '35.4 KiB', '1.2 s'."""
    parts = text.strip().split()
    number = float(parts[0].replace(",", ""))
    if len(parts) == 1:
        return number
    if parts[1] in _SIZE:
        return number * _SIZE[parts[1]]
    return number * _TIME_MS[parts[1]]


def python_metrics(dot: str) -> dict[str, float]:
    """Sum the Python-worker metrics over the nodes of one plan graph
    rendered by ``SparkPlanGraph.makeDotFile``. Only nodes that report
    data sent to Python workers count, so another node's generic
    'number of output rows' is never mistaken for Python output."""
    out = dict.fromkeys(_PY_METRICS.values(), 0.0)
    for node in _NODE.finditer(dot):
        items = node.group(1).split("<br>")
        metrics: dict[str, str] = {}
        i = 0
        while i < len(items):
            item = items[i]
            if item.endswith(_TOTAL) and i + 1 < len(items):
                name = item[: -len(_TOTAL)].strip()
                metrics[name] = items[i + 1].split(" (", 1)[0]
                i += 2
                continue
            name, _, value = item.rpartition(": ")
            if name:
                metrics[name] = value
            i += 1
        if "data sent to Python workers" not in metrics:
            continue
        for desc, key in _PY_METRICS.items():
            if desc in metrics:
                out[key] += parse_metric_value(metrics[desc])
    return out


class _ProgressListener(StreamingQueryListener):
    """Collects every micro-batch progress event in arrival order."""

    def __init__(self, sink: list) -> None:
        self._sink = sink

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self._sink.append(event.progress)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class Tracer:
    """Reads one op's layer metrics: call :meth:`begin` right before the
    op and :meth:`end` right after it, outside the op's own timing."""

    def __init__(self, spark, cores: int) -> None:
        self._spark = spark
        self._cores = cores
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._progress: list = []
        self._listener = _ProgressListener(self._progress)
        spark.streams.addListener(self._listener)

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)

    def _drain(self) -> None:
        # status-store and listener updates arrive on the listener bus
        self._sc.listenerBus().waitUntilEmpty()

    def _last_execution_id(self) -> int:
        n = self._sql.executionsCount()
        if n == 0:
            return -1
        return self._sql.executionsList(n - 1, 1).apply(0).executionId()

    def begin(self) -> None:
        self._drain()
        self._job0 = self._sc.dagScheduler().nextJobId()
        self._exec0 = self._last_execution_id()
        self._progress0 = len(self._progress)

    def end(self, action_df, construct_s: float, action_s: float) -> dict:
        self._drain()
        m = dict.fromkeys(OP_METRICS, 0.0)
        m["query.construct_s"] = construct_s
        m["spark.action_s"] = action_s
        if action_df is not None:
            self._catalyst(action_df, m)
        self._scheduler(m)
        self._python(m)
        self._streaming(m)
        wall = construct_s + action_s
        m["spark.core_utilization"] = (
            m["spark.executor_run_s"] / (wall * self._cores) if wall > 0 else 0.0
        )
        return m

    def _catalyst(self, action_df, m: dict) -> None:
        phases = action_df._jdf.queryExecution().tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            summary = phases.get(phase)
            if summary.isDefined():
                m[f"catalyst.{phase}_ms"] = float(summary.get().durationMs())

    def _scheduler(self, m: dict) -> None:
        job1 = self._sc.dagScheduler().nextJobId()
        m["spark.jobs"] = float(job1 - self._job0)
        stage_ids: set[int] = set()
        for job_id in range(self._job0, job1):
            ids = self._store.job(job_id).stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        for sid in sorted(stage_ids):
            st = self._store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            m["spark.stages"] += 1
            m["spark.tasks"] += st.numTasks()
            m["spark.executor_run_s"] += st.executorRunTime() / 1e3
            m["spark.executor_cpu_s"] += st.executorCpuTime() / 1e9
            m["spark.gc_s"] += st.jvmGcTime() / 1e3
            m["spark.input_bytes"] += st.inputBytes()
            m["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
            m["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
            m["spark.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            m["spark.output_bytes"] += st.outputBytes()

    def _python(self, m: dict) -> None:
        n = self._sql.executionsCount()
        fetch = min(n, 256)
        executions = self._sql.executionsList(n - fetch, fetch)
        for i in range(executions.size()):
            ex = executions.apply(i)
            if ex.executionId() <= self._exec0:
                continue
            graph = self._sql.planGraph(ex.executionId())
            # metricValues() is null until an execution's metrics are
            # aggregated; executionMetrics() aggregates them on demand
            values = self._sql.executionMetrics(ex.executionId())
            for key, value in python_metrics(graph.makeDotFile(values)).items():
                m[key] += value

    def _streaming(self, m: dict) -> None:
        last_state: dict[str, tuple[float, float]] = {}
        for p in self._progress[self._progress0 :]:
            d = p.durationMs
            m["streaming.batches"] += 1
            m["streaming.input_rows"] += p.numInputRows
            m["streaming.trigger_ms"] += d.get("triggerExecution", 0)
            m["streaming.add_batch_ms"] += d.get("addBatch", 0)
            m["streaming.query_planning_ms"] += d.get("queryPlanning", 0)
            m["streaming.wal_commit_ms"] += d.get("walCommit", 0)
            last_state[str(p.id)] = (
                float(sum(s.numRowsTotal for s in p.stateOperators)),
                float(sum(s.memoryUsedBytes for s in p.stateOperators)),
            )
        m["streaming.state_rows"] = sum(r for r, _ in last_state.values())
        m["streaming.state_memory_bytes"] = sum(b for _, b in last_state.values())
        m["streaming.sink_views_alive"] = float(
            sum(t.name.startswith("stream_out_") for t in self._spark.catalog.listTables())
        )
