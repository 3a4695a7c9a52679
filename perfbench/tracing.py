"""Spans and per-layer counters for the traced run.

Spans come only from the benchmark's own calls into the program:
pass -> query -> {build -> catalog.load*, action}. Counters come from
Spark's public surfaces, read after each phase:

- a ``QueryExecutionListener`` hands over every finished query execution;
  its planning tracker gives the Catalyst phases and its executed plan
  (walked through AQE and query stages) the SQL metrics;
- a ``StreamingQueryListener`` hands over every micro-batch progress;
- the status store lists the tasks of the jobs tagged with a phase's job
  group.
"""

from __future__ import annotations

import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

from stats import self_time

UDF_NODES = (
    "ArrowEvalPythonExec",
    "BatchEvalPythonExec",
    "MapInPandasExec",
    "MapInArrowExec",
    "FlatMapGroupsInPandasExec",
    "FlatMapCoGroupsInPandasExec",
    "FlatMapGroupsInPandasWithStateExec",
    "AggregateInPandasExec",
    "WindowInPandasExec",
    "ArrowWindowPythonExec",
    "PythonMapInArrowExec",
)
# V1 file writes (``df.write.parquet``, ``saveAsTable``) report files and bytes here.
WRITE_NODES = ("DataWritingCommandExec",)


class Tracer:
    """In-memory spans; each query execution's spans share an ``exec`` id."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "exec": attrs.pop("exec", parent["exec"] if parent else None),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a child of the open span."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def with_self_time(self) -> list[dict]:
        kids = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        return [
            {**s, "self": self_time(s["start"], s["end"], kids[s["id"]])} for s in self.spans
        ]


def _seq(jseq) -> list:
    out, it = [], jseq.iterator()
    while it.hasNext():
        out.append(it.next())
    return out


def _opt(jopt, default=None):
    return jopt.get() if jopt.isDefined() else default


def node_metrics(node) -> dict[str, int]:
    return {kv._1(): kv._2().value() for kv in _seq(node.metrics())}


def plan_nodes(plan):
    """Every node of an executed plan, through AQE and its query stages."""
    todo = [plan]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        yield node, cls
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            todo.append(node.plan())
        elif cls not in ("ReusedExchangeExec", "ReusedSubqueryExec"):
            todo.extend(_seq(node.children()))


def _rows_into(node) -> int:
    """Rows a node emits: its own ``numOutputRows`` or its first descendant's."""
    while node is not None:
        cls = node.getClass().getSimpleName()
        m = node_metrics(node)
        if "numOutputRows" in m:
            return m["numOutputRows"]
        if cls == "AdaptiveSparkPlanExec":
            node = node.executedPlan()
        elif cls.endswith("QueryStageExec"):
            node = node.plan()
        else:
            kids = _seq(node.children())
            node = kids[0] if kids else None
    return 0


class SparkProbe:
    """Listeners plus the readers that turn one phase into counters."""

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started
        from pyspark.sql.streaming import StreamingQueryListener

        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.qes: list = []
        self.progress: list = []
        ensure_callback_server_started(self.sc._gateway)
        probe = self

        class QEListener:
            def onSuccess(self, func, qe, duration_ns):
                probe.qes.append(qe)

            def onFailure(self, func, qe, exc):
                probe.qes.append(qe)

            class Java:
                implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

        class StreamListener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                probe.progress.append(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._qe_listener = QEListener()
        spark._jsparkSession.listenerManager().register(self._qe_listener)
        self._stream_listener = StreamListener()
        spark.streams.addListener(self._stream_listener)

    def drain(self) -> tuple[list, list]:
        """Query executions and stream progress since the last drain."""
        self._jsc.listenerBus().waitUntilEmpty()
        qes, progress = self.qes, self.progress
        self.qes, self.progress = [], []
        return qes, progress

    def close(self) -> None:
        self.spark._jsparkSession.listenerManager().unregister(self._qe_listener)
        self.spark.streams.removeListener(self._stream_listener)

    def jobs(self, group: str) -> dict:
        """Jobs, executed stages and task counters of one job group."""
        tracker = self.sc.statusTracker()
        store = self._jsc.statusStore()
        out = defaultdict(int)
        skews, peak = [], 0
        job_ids = sorted(tracker.getJobIdsForGroup(group))
        for job in job_ids:
            info = tracker.getJobInfo(job)
            for stage in info.stageIds if info else ():
                sinfo = tracker.getStageInfo(stage)
                attempt = sinfo.currentAttemptId if sinfo else 0
                durations = []
                for task in _seq(store.taskList(stage, attempt, 1 << 30)):
                    durations.append(_opt(task.duration(), 0))
                    tm = _opt(task.taskMetrics())
                    if tm is None:
                        continue
                    out["scan_bytes"] += tm.inputMetrics().bytesRead()
                    out["scan_rows"] += tm.inputMetrics().recordsRead()
                    out["shuffle_write_bytes"] += tm.shuffleWriteMetrics().bytesWritten()
                    rd = tm.shuffleReadMetrics()
                    out["shuffle_read_bytes"] += rd.localBytesRead() + rd.remoteBytesRead()
                    out["spill_bytes"] += tm.memoryBytesSpilled() + tm.diskBytesSpilled()
                    peak = max(peak, tm.peakExecutionMemory())
                if durations:
                    out["stages"] += 1
                    out["tasks"] += len(durations)
                    mid = statistics.median(durations)
                    if len(durations) > 1 and mid > 0:
                        skews.append(max(durations) / mid)
        return {**out, "job_ids": job_ids, "peak_memory_bytes": peak, "skews": skews}


def plan_counters(qe) -> dict:
    """Counters read from one finished query execution."""
    out = defaultdict(float)
    phases = {kv._1(): kv._2().durationMs() for kv in _seq(qe.tracker().phases())}
    for phase in ("analysis", "optimization", "planning"):
        out[f"catalyst.{phase}_s"] += phases.get(phase, 0) / 1000.0
    plan = qe.executedPlan()
    for node, cls in plan_nodes(plan):
        # ``Scan ExistingRDD`` also reads createDataFrame's parallelized
        # rows; only a checkpointed RDD is a materialization cut.
        if cls == "RDDScanExec" and node.rdd().isCheckpointed():
            out["exec.checkpoint_scans"] += 1
        if "Join" in cls or "Aggregate" in cls or cls == "CartesianProductExec":
            out["examined_rows"] += sum(_rows_into(c) for c in _seq(node.children()))
        if cls in UDF_NODES:
            m = node_metrics(node)
            kids = _seq(node.children())
            out["udf.nodes"] += 1
            out["udf.rows_to_python"] += _rows_into(kids[0]) if kids else 0
            out["udf.bytes_to_python"] += m.get("pythonDataSent", 0)
            out["udf.bytes_from_python"] += m.get("pythonDataReceived", 0)
            out["udf.python_time_s"] += m.get("pythonTotalTime", 0) / 1000.0
        if cls in WRITE_NODES:
            m = node_metrics(node)
            out["io.files_written"] += m.get("numFiles", 0)
            out["io.bytes_written"] += m.get("numOutputBytes", 0)
    out["output_rows"] += _rows_into(plan)
    return out


def stream_counters(progress: list) -> dict:
    out = defaultdict(float)
    for p in progress:
        d = p.durationMs or {}
        out["streaming.batches"] += 1
        out["streaming.batch_s"] += d.get("triggerExecution", 0) / 1000.0
        out["streaming.add_batch_s"] += d.get("addBatch", 0) / 1000.0
        out["streaming.query_planning_s"] += d.get("queryPlanning", 0) / 1000.0
        out["streaming.wal_commit_s"] += d.get("walCommit", 0) / 1000.0
        out["streaming.input_rows"] += p.numInputRows or 0
        for op in p.stateOperators or ():
            out["streaming.state_rows_updated"] += op.numRowsUpdated or 0
            out["streaming.state_commit_s"] += (op.commitTimeMs or 0) / 1000.0
            out["streaming.state_memory_bytes"] = max(
                out["streaming.state_memory_bytes"], op.memoryUsedBytes or 0
            )
    return out


def jvm_pid(spark) -> int:
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()


def jvm_gc_s(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in _seq(beans)) / 1000.0


def peak_rss_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")
