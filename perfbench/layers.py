"""The benchmark's metrics: their names and units, and the per-layer
accumulator a traced run fills.

End-to-end metrics come from an untraced run. Per-layer metrics come
from a separate traced run and cover its traced timed phase, unless a
name says otherwise: ``*_ms`` stream phases are medians per
micro-batch, ``plans.build_s.<query>`` and ``operators.run_s.<query>``
are medians per pass. A layer a workload does not use reads 0.
``trace.overhead_s`` reads 0 on the stream by construction: its tracer
reads Spark's status stores only after the timed query has stopped.
"""

from __future__ import annotations

from collections import defaultdict
from statistics import median

from slate import RELATIONAL

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "rows_per_s": "rows/s",
    "batch_p50_ms": "ms",
    "batch_tail_ms": "ms",
    "peak_rss_mb": "MB",
}

_OPERATOR_COUNTERS = {
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "task_cpu_s": "s",
    "gc_s": "s",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "session.read_table_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "operators.run_s": "s",
    **{f"operators.{k}": unit for k, unit in _OPERATOR_COUNTERS.items()},
    "functions.python_rows": "count",
    "functions.python_mb": "MB",
    "caching.released": "count",
    "caching.release_s": "s",
    "caching.storage_peak_mb": "MB",
    "sources.read_s": "s",
    "sources.latest_offset_ms": "ms",
    "sources.get_batch_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_mem_mb": "MB",
    "streaming.late_rows_dropped": "count",
    "streaming.batches": "count",
    "sinks.write_stream_s": "s",
    "trace.overhead_s": "s",
    **{f"plans.build_s.{q}": "s" for q in RELATIONAL},
    **{f"operators.run_s.{q}": "s" for q in RELATIONAL},
}

_STREAM_PHASES = {
    "sources.latest_offset_ms": "latestOffset",
    "sources.get_batch_ms": "getBatch",
    "streaming.add_batch_ms": "addBatch",
    "streaming.query_planning_ms": "queryPlanning",
    "streaming.wal_commit_ms": "walCommit",
    "streaming.commit_offsets_ms": "commitOffsets",
}


class Layers:
    """Per-layer values of one traced run."""

    def __init__(self):
        self.values: dict[str, float] = defaultdict(float)
        self._build: dict[str, list[float]] = defaultdict(list)
        self._run: dict[str, list[float]] = defaultdict(list)

    def _add_python_io(self, tracer) -> None:
        for k, x in tracer.python_io().items():
            self.values[f"functions.{k}"] += x

    def query(self, name, tracer, tag, build_s, run_s, release_s, released, storage_mb):
        """Record one slate query: its build and action times, the jobs
        each started, the Python boundary and the persists it pinned."""
        v = self.values
        self._build[name].append(build_s)
        self._run[name].append(run_s)
        v["plans.build_s"] += build_s
        v["plans.build_jobs"] += tracer.stages(f"{name}.build{tag}")["jobs"]
        v["operators.run_s"] += run_s
        for k, x in tracer.stages(f"{name}.run{tag}").items():
            v[f"operators.{k}"] += x
        self._add_python_io(tracer)
        v["caching.released"] += released
        v["caching.release_s"] += release_s
        v["caching.storage_peak_mb"] = max(v["caching.storage_peak_mb"], storage_mb)

    def stream(self, run: dict, tracer) -> None:
        """Record one timed stream query from its progress and from the
        jobs of its run (Structured Streaming groups them by run id)."""
        v = self.values
        progress = run["progress"]
        for metric, phase in _STREAM_PHASES.items():
            v[metric] = median([b["durations"].get(phase, 0) for b in progress])
        v["streaming.state_rows"] = progress[-1]["state_rows"]
        v["streaming.state_mem_mb"] = progress[-1]["state_mem_mb"]
        v["streaming.late_rows_dropped"] = sum(b["late_rows"] for b in progress)
        v["streaming.batches"] = len(progress)
        v["plans.build_s"] = run["build_s"]
        v["sinks.write_stream_s"] = run["write_stream_s"]
        # the operators' busy time, source reads included: the source's
        # own share is estimated by sources.read_s per micro-batch
        v["operators.run_s"] = sum(b["durations"].get("addBatch", 0) for b in progress) / 1e3
        for k, x in tracer.stages(run["run_id"]).items():
            v[f"operators.{k}"] = x
        self._add_python_io(tracer)

    def metrics(self) -> dict[str, float]:
        for q, xs in self._build.items():
            self.values[f"plans.build_s.{q}"] = median(xs)
        for q, xs in self._run.items():
            self.values[f"operators.run_s.{q}"] = median(xs)
        return {name: float(self.values.get(name, 0.0)) for name in PER_LAYER}
