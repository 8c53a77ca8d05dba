"""The stream workload: the reference tumbling candlestick over the
``stock_ticks`` source, in a closed loop.

The source hands out ``rows_per_batch`` new records each time it is
polled, and Structured Streaming polls it only once the previous
micro-batch has committed, so the load is one closed-loop client. The
timed query runs until ``batches`` micro-batches have committed.

All times come from the query's own progress reports (trigger start
and ``triggerExecution``), not from when the listener's callback
reaches Python. The batches are cut into segments of ``SEGMENT``
consecutive micro-batches, a fixed amount of work each; ``wall_s`` and
``rows_per_s`` are medians over the segments.
"""

from __future__ import annotations

import shutil
import sys
import threading
import time
import traceback
from datetime import datetime, timezone
from statistics import median

import pyarrow as pa
from pyspark.sql.streaming import StreamingQueryListener

from measure import tail

ROWS_PER_BATCH = 10_000
WARMUP_BATCHES = 12
SEGMENT = 5
_WAIT_S = 150


class _Progress(StreamingQueryListener):
    """Keeps the progress of every micro-batch of one named query and
    signals once the ``want``-th one has committed."""

    def __init__(self, name: str, want: int):
        self.name = name
        self.want = want
        self.batches: list[dict] = []
        self.done = threading.Event()
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        if p.name != self.name:
            return
        ops = p.stateOperators or []
        started = datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
        snap = {
            "start_s": started.replace(tzinfo=timezone.utc).timestamp(),
            "rows": p.numInputRows,
            "durations": dict(p.durationMs or {}),
            "watermark": (p.eventTime or {}).get("watermark"),
            "state_rows": sum(s.numRowsTotal for s in ops),
            "state_mem_mb": sum(s.memoryUsedBytes for s in ops) / 2**20,
            "late_rows": sum(s.numRowsDroppedByWatermark for s in ops),
        }
        with self._lock:
            self.batches.append(snap)
            if len(self.batches) == self.want:
                self.done.set()

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        # a query that dies early must not leave the waiter hanging
        self.done.set()


def segment_wall(progress: list[dict]) -> float:
    """Seconds from the first micro-batch's trigger to the end of the
    last one's, by the query's own clock."""
    last = progress[-1]
    end = last["start_s"] + last["durations"]["triggerExecution"] / 1e3
    return end - progress[0]["start_s"]


class Candlestick:
    def __init__(self, spark, work_dir: str, batches: int, partitions: int):
        from kinesis_analytics_demo_spark.sources.pyds import register_stock_ticks

        register_stock_ticks(spark)
        self.spark = spark
        self.work_dir = work_dir
        self.batches = batches
        self.partitions = partitions
        self.attempted = 0
        self.failed = 0
        self.runs = 0
        self.last = None

    def _source(self):
        return (
            self.spark.readStream.format("stock_ticks")
            .option("rows_per_batch", ROWS_PER_BATCH)
            .option("n_partitions", self.partitions)
            .load()
        )

    def _query(self, name: str, batches: int) -> dict:
        """Run one query with a fresh checkpoint until ``batches``
        micro-batches have committed; returns its progress and timings."""
        from kinesis_analytics_demo_spark.sinks.factory import write_stream
        from kinesis_analytics_demo_spark.streaming.jobs import tumbling_window_job

        checkpoint = f"{self.work_dir}/checkpoint-{name}"
        shutil.rmtree(checkpoint, ignore_errors=True)
        listener = _Progress(name, batches)
        self.spark.streams.addListener(listener)
        try:
            t0 = time.perf_counter()
            result = tumbling_window_job(self.spark, self._source())
            t1 = time.perf_counter()
            query = write_stream(result, "memory", query_name=name, checkpoint=checkpoint)
            t2 = time.perf_counter()
            listener.done.wait(_WAIT_S)
            query.stop()
            run_id = str(query.runId)
        finally:
            self.spark.streams.removeListener(listener)
        return {
            "name": name,
            "run_id": run_id,
            "progress": listener.batches[:batches],
            "build_s": t1 - t0,
            "write_stream_s": t2 - t1,
        }

    def warm_up(self) -> None:
        """A short query with its own checkpoint, so the first
        micro-batch's JVM, Python worker and codegen start-up is paid
        before timing. Per-batch time keeps falling for about ten
        micro-batches after the first while the JIT compiles the hot
        paths, so the warm-up runs past that."""
        self._query("perfbench_warmup", WARMUP_BATCHES)

    def measure(self, tracer=None, layers=None) -> dict:
        self.runs += 1
        run = self._query(f"perfbench_stream_{self.runs}", self.batches)
        self.last = run
        committed = len(run["progress"])
        self.attempted += self.batches
        self.failed += self.batches - committed
        progress = run["progress"]
        trigger = [b["durations"]["triggerExecution"] for b in progress]
        tail_ms, pct = tail(trigger)
        segments = [segment_wall(progress[i:i + SEGMENT])
                    for i in range(0, committed - SEGMENT + 1, SEGMENT)]
        seg_rows = [sum(b["rows"] for b in progress[i:i + SEGMENT])
                    for i in range(0, committed - SEGMENT + 1, SEGMENT)]
        if tracer:
            layers.stream(run, tracer)
        return {
            "wall_s": median(segments),
            "rows_per_s": median(r / w for r, w in zip(seg_rows, segments)),
            "phase_s": segment_wall(progress),
            "unit_walls_s": segments,
            "batch_p50_ms": median(trigger),
            "batch_tail_ms": tail_ms,
            "tail_percentile": pct,
            "samples": len(trigger),
        }

    def read_probe_s(self, repeats: int = 3) -> float:
        """Median seconds to read one micro-batch's rows from the
        source as a batch table."""
        times = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            (
                self.spark.read.format("stock_ticks")
                .option("n_rows", ROWS_PER_BATCH)
                .option("n_partitions", self.partitions)
                .load()
                .write.format("noop")
                .mode("overwrite")
                .save()
            )
            times.append(time.perf_counter() - t0)
        return median(times)

    def check(self, oracle_con) -> None:
        """Compare the last timed query's output with DuckDB over the
        same ticks, for the windows closed by its final watermark."""
        from kinesis_analytics_demo_spark.sources.pyds import tick_at
        from pyspark.sql import functions as F
        from tests.conftest import assert_matches_oracle

        run = self.last
        self.attempted += 1
        try:
            progress = run["progress"]
            n_rows = sum(b["rows"] for b in progress)
            watermark = datetime.strptime(
                progress[-1]["watermark"], "%Y-%m-%dT%H:%M:%S.%fZ"
            )
            ticks = [tick_at(i) for i in range(n_rows)]
            oracle_con.register("ticks", pa.table({
                "utc": pa.array([t[0] for t in ticks], pa.timestamp("us")),
                "ticker": [t[3] for t in ticks],
                "price": pa.array([t[7] for t in ticks], pa.float64()),
            }))
            oracle = f"""
                SELECT * FROM (
                    SELECT ticker,
                           time_bucket(INTERVAL 1 MINUTE, utc) AS window_start,
                           time_bucket(INTERVAL 1 MINUTE, utc) + INTERVAL 1 MINUTE AS window_end,
                           arg_min(price, utc) AS first_price,
                           arg_max(price, utc) AS last_price,
                           min(price) AS min_price,
                           max(price) AS max_price
                    FROM ticks GROUP BY 1, 2, 3)
                WHERE window_end <= TIMESTAMP '{watermark.isoformat(sep=' ')}'
            """
            out = self.spark.table(run["name"]).where(F.col("window_end") <= F.lit(watermark))
            assert_matches_oracle(out, oracle_con, oracle)
        except Exception:  # a wrong output is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
