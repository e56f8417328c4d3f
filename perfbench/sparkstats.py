"""Per-query engine counters read from Spark's own bookkeeping.

Three sources, all read from outside the program:

- the core status store (jobs and stages), selected by job group: the
  harness puts each query in its own group, and a streaming query runs
  its jobs in a group named after its run id, so stray jobs of a
  neighbouring query cannot leak in. (Job tags would do the same, but
  PySpark 4.1's Python ``StreamingQueryListener`` fails on events whose
  query carries job tags.);
- the SQL status store (executions, plan graphs), selected by
  execution id, for SQL-covered time and the Python worker metrics of
  Python eval, map and scan nodes;
- a ``StreamingQueryListener`` for micro-batch progress, attributed to
  a query by run id.

``ExecutorSummary.totalDuration`` is deliberately not used: in local
mode it grows with wall time while nothing runs.
"""

from __future__ import annotations

import threading
import time
from collections import Counter

from pyspark.sql.streaming import StreamingQueryListener

#: Stage-level counters, summed over the executed stages of a query.
#: (metric, StageData getter, scale)
_STAGE_FIELDS = (
    ("spark.exec_run_s", "executorRunTime", 1e-3),
    ("spark.exec_cpu_s", "executorCpuTime", 1e-9),
    ("spark.gc_s", "jvmGcTime", 1e-3),
    ("spark.shuffle_read_bytes", "shuffleReadBytes", 1),
    ("spark.shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("spark.input_bytes", "inputBytes", 1),
    ("spark.output_bytes", "outputBytes", 1),
    ("spark.spill_bytes", "diskBytesSpilled", 1),
    ("spark.tasks", "numCompleteTasks", 1),
)

ENGINE_METRICS = (
    "spark.sql_execs",
    "spark.sql_exec_s",
    "spark.driver_gap_s",
    "spark.jobs",
    "spark.stages",
    *(m for m, _, _ in _STAGE_FIELDS),
    "spark.offcpu_s",
    "python.rows_out",
    "python.bytes_sent",
    "python.bytes_received",
)

#: PythonSQLMetrics display names -> metric. "number of output rows" is
#: only read from nodes that run Python (see ``_is_python_node``).
_PY_METRICS = {
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
    "number of output rows": "python.rows_out",
}
_PY_NODE_MARKERS = ("Python", "Pandas", "Arrow")


def _is_python_node(name: str) -> bool:
    return any(m in name for m in _PY_NODE_MARKERS)


_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def metric_value(shown: str) -> float:
    """The total of a SQL metric as the status store renders it: a plain
    count (``"1,000"``) or, for sizes, ``"total (min, med, max ...)"``
    followed by a line that starts with the total (``"7.9 KiB (...)"``)."""
    text = shown.strip().splitlines()[-1].replace(",", "")
    parts = text.split()
    if len(parts) >= 2 and parts[1] in _SIZE_UNITS:
        return float(parts[0]) * _SIZE_UNITS[parts[1]]
    return float(parts[0])


def _iterate(scala_iterable):
    it = scala_iterable.iterator()
    while it.hasNext():
        yield it.next()


class EngineCounters:
    """Diff Spark's status stores around one query at a time."""

    def __init__(self, spark) -> None:
        jsc = spark.sparkContext._jsc.sc()
        self._store = jsc.statusStore()
        self._tracker = jsc.statusTracker()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.skip()

    def skip(self) -> None:
        """Leave out the SQL executions started so far."""
        self._next_exec = self._max_exec_id() + 1

    def _max_exec_id(self) -> int:
        n = self._sql.executionsCount()
        if n == 0:
            return -1
        last = self._sql.executionsList(int(n) - 1, 1)
        return max((e.executionId() for e in _iterate(last)), default=-1)

    def query(self, groups: list[str], t0: float, t1: float) -> dict[str, float]:
        """Counters of the jobs in ``groups`` and of the SQL executions
        started since the previous call; ``t0``/``t1`` are the query's
        epoch bounds (seconds), used for the SQL-covered share of its
        wall time."""
        out: Counter = Counter()
        job_ids = {int(j) for g in groups for j in self._tracker.getJobIdsForGroup(g)}
        out["spark.jobs"] = len(job_ids)
        stage_ids: set[int] = set()
        for jid in job_ids:
            stage_ids.update(int(s) for s in _iterate(self._store.job(jid).stageIds()))
        for sid in stage_ids:
            try:
                sd = self._store.lastStageAttempt(sid)
            except Exception:  # py4j wraps the store's NoSuchElementException
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            out["spark.stages"] += 1
            for metric, getter, scale in _STAGE_FIELDS:
                out[metric] += getattr(sd, getter)() * scale
        out["spark.offcpu_s"] = out["spark.exec_run_s"] - out["spark.exec_cpu_s"]
        self._sql_counters(out, t0, t1)
        return {m: float(out[m]) for m in ENGINE_METRICS}

    def _sql_counters(self, out: Counter, t0: float, t1: float) -> None:
        spans = []
        last = self._max_exec_id()
        for eid in range(self._next_exec, last + 1):
            opt = self._sql.execution(eid)
            if opt.isEmpty():
                continue
            e = opt.get()
            out["spark.sql_execs"] += 1
            start = e.submissionTime() / 1000.0
            done = e.completionTime()
            end = done.get().getTime() / 1000.0 if done.isDefined() else t1
            if e.rootExecutionId() == e.executionId():
                out["spark.sql_exec_s"] += end - start
            spans.append((max(start, t0), min(end, t1)))
            if _is_python_node(e.physicalPlanDescription()):
                values = self._sql.executionMetrics(eid)
                for node in _iterate(self._sql.planGraph(eid).allNodes()):
                    if not _is_python_node(node.name()):
                        continue
                    for m in _iterate(node.metrics()):
                        metric = _PY_METRICS.get(m.name())
                        shown = values.get(m.accumulatorId())
                        if metric and shown.isDefined():
                            out[metric] += metric_value(shown.get())
        self._next_exec = last + 1
        covered = 0.0
        cur_s = cur_e = None
        for s, e in sorted(spans):
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        out["spark.driver_gap_s"] = max(0.0, (t1 - t0) - covered)


STREAM_METRICS = (
    "stream.queries",
    "stream.batches",
    "stream.trigger_s",
    "stream.add_batch_s",
    "stream.planning_s",
    "stream.latest_offset_s",
    "stream.wal_commit_s",
    "stream.rows_in",
    "stream.state_rows",
    "stream.state_mem_bytes",
)

_DURATIONS = (
    ("stream.trigger_s", ("triggerExecution",)),
    ("stream.add_batch_s", ("addBatch",)),
    ("stream.planning_s", ("queryPlanning",)),
    ("stream.latest_offset_s", ("latestOffset",)),
    ("stream.wal_commit_s", ("walCommit", "commitOffsets")),
)


class StreamCounters(StreamingQueryListener):
    """Micro-batch progress per benchmark query.

    ``onQueryStarted`` runs synchronously inside ``start()``, so the
    query that is current at that moment owns the run id; progress
    events arrive later on the listener bus and are attributed by run
    id, whenever they land.
    """

    def __init__(self) -> None:
        self.current: str | None = None
        self._owner: dict[str, str | None] = {}
        self._runs: dict[str | None, list[str]] = {}
        self._per: dict[str | None, Counter] = {}
        self._events = 0
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self._owner[str(event.runId)] = self.current
            self._runs.setdefault(self.current, []).append(str(event.runId))
            self._per.setdefault(self.current, Counter())["stream.queries"] += 1
            self._events += 1

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self._lock:
            c = self._per.setdefault(self._owner.get(str(p.runId)), Counter())
            c["stream.batches"] += 1
            c["stream.rows_in"] += p.numInputRows
            d = p.durationMs or {}
            for metric, keys in _DURATIONS:
                c[metric] += sum(d.get(k, 0) for k in keys) / 1000.0
            for op in p.stateOperators or ():
                c["stream.state_rows"] += op.numRowsTotal
                c["stream.state_mem_bytes"] += op.memoryUsedBytes
            self._events += 1

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def drain(self, quiet_s: float = 0.5, limit_s: float = 10.0) -> None:
        """Wait until no event has arrived for ``quiet_s`` (the bus is
        asynchronous), giving up after ``limit_s``."""
        deadline = time.monotonic() + limit_s
        seen = -1
        while time.monotonic() < deadline:
            with self._lock:
                now = self._events
            if now == seen:
                return
            seen = now
            time.sleep(quiet_s)

    def runs(self, label: str) -> list[str]:
        """Run ids of the streaming queries started while ``label`` was
        current; each one is also the job group of its micro-batches."""
        with self._lock:
            return list(self._runs.get(label, ()))

    def of(self, label: str) -> dict[str, float]:
        with self._lock:
            c = self._per.get(label, Counter())
            return {m: float(c[m]) for m in STREAM_METRICS}
