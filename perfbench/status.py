"""Per-layer readings from Spark's own status stores.

Everything here runs in the benchmark process and only reads what
Spark already records: the core status store (jobs and stages, per
job group), the SQL status store (per-operator SQL metrics) and the
block manager's storage info. It works with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import re

_SIZE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_SIZE_MB = {"B": 1 / 2**20, "KiB": 1 / 2**10, "MiB": 1.0, "GiB": 2**10, "TiB": 2**20}
_PY_RETURNED = "data returned from Python workers"
_PY_SENT = "data sent to Python workers"


def _size_mb(text: str) -> float:
    """The total of a formatted size metric (its first size), in MB."""
    m = _SIZE.search(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE_MB[m.group(2)]


def _count(text: str) -> int:
    m = re.search(r"[\d,]+", text)
    return int(m.group(0).replace(",", "")) if m else 0


def _seq(scala_seq):
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class Tracer:
    """Reads job, stage, SQL-operator and storage metrics of one session.

    ``stages(group)`` sums the stage metrics of a job group;
    ``python_io()`` sums the Python/Arrow boundary metrics of every SQL
    execution that finished since the previous call.
    """

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._core = self._sc._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._drain()
        self._sql_seen = self._sql.executionsCount()
        # the Python DataSource's byte metrics are running totals over
        # the session's life; python_io reports their growth
        recent = self._executions(max(0, self._sql_seen - 20), self._sql_seen)
        self._source_mb = self._io(recent, 0.0)[2]

    def set_group(self, group: str) -> None:
        self._sc.setJobGroup(group, group)

    def clear_group(self) -> None:
        self._sc.setLocalProperty("spark.jobGroup.id", None)
        self._sc.setLocalProperty("spark.job.description", None)

    def _drain(self) -> None:
        # the status stores are fed by the listener bus, asynchronously
        self._core.listenerBus().waitUntilEmpty()

    def stages(self, group: str) -> dict[str, float]:
        """Jobs, stages, tasks, task CPU, GC, shuffle write and spill of
        every job in ``group``."""
        self._drain()
        tracker = self._sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        stage_ids = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = dict(jobs=len(job_ids), stages=len(stage_ids), tasks=0,
                   task_cpu_s=0.0, gc_s=0.0, shuffle_write_mb=0.0, spill_mb=0.0)
        store = self._core.statusStore()
        for sid in stage_ids:
            for sd in _seq(store.stageData(sid, False, None, False, None)):
                out["tasks"] += sd.numCompleteTasks()
                out["task_cpu_s"] += sd.executorCpuTime() / 1e9
                out["gc_s"] += sd.jvmGcTime() / 1e3
                out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
                out["spill_mb"] += (
                    sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                ) / 2**20
        return out

    def _executions(self, start: int, end: int) -> list:
        return _seq(self._sql.executionsList(start, end - start))

    def _python_nodes(self, executions):
        """``(named, custom)`` for each plan node that reports data
        returned from Python workers: its metric values by name, and
        whether that metric is a data source's custom metric."""
        for ex in executions:
            values = self._sql.executionMetrics(ex.executionId())
            for node in _seq(self._sql.planGraph(ex.executionId()).allNodes()):
                named, custom = {}, False
                for m in _seq(node.metrics()):
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        named[m.name()] = v.get()
                        if m.name() == _PY_RETURNED:
                            custom = m.metricType().startswith("v2Custom")
                if _PY_RETURNED in named:
                    yield named, custom

    def _io(self, executions, source_mb: float) -> tuple[int, float, float]:
        """Rows and summed per-execution MB that crossed the Python
        boundary in ``executions``, and the largest running total of
        the Python DataSource's byte metrics among them or
        ``source_mb``, whichever is larger."""
        rows, mb = 0, 0.0
        for named, custom in self._python_nodes(executions):
            rows += _count(named.get("number of output rows", "0"))
            io_mb = _size_mb(named[_PY_RETURNED]) + _size_mb(named.get(_PY_SENT, ""))
            if custom:
                source_mb = max(source_mb, io_mb)
            else:
                mb += io_mb
        return rows, mb, source_mb

    def python_io(self) -> dict[str, float]:
        """Rows and MB that crossed the Python boundary in the SQL
        executions finished since the last call.

        Rows count every operator that reports data returned from
        Python workers. For operators with per-execution byte metrics
        the MB are summed. The Python DataSource's custom byte metrics
        are running totals instead (in local mode its reused workers
        never reset them), so they add the growth of their largest
        total since the last call.
        """
        self._drain()
        total = self._sql.executionsCount()
        rows, mb, source_mb = self._io(self._executions(self._sql_seen, total), self._source_mb)
        mb += source_mb - self._source_mb
        self._source_mb = source_mb
        self._sql_seen = total
        return {"python_rows": rows, "python_mb": mb}

    def storage_mb(self) -> float:
        """Memory currently held by persisted RDDs and DataFrames."""
        return sum(info.memSize() for info in self._core.getRDDStorageInfo()) / 2**20
