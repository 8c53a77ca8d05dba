#!/usr/bin/env python3
"""Benchmark of the engine's streaming and batch paths.

Run from the root of the repository:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see ``WORKLOADS``):

- ``stream_candlestick``: the reference tumbling candlestick job
  (``streaming.jobs.tumbling_window_job``, 20 s watermark, append
  output into a memory sink) over the ``stock_ticks`` Python
  DataSource at 10k rows per micro-batch, one source partition per
  core, in a closed loop. ``--seconds`` sets the number of timed
  micro-batches (one per second asked, rounded up to whole segments
  of ``stream.SEGMENT``, at least three segments).
- ``batch_relational``: 13 registered relational and temporal queries
  over seeded sf0.01 tables, each as ``spec.fn()`` plus a noop write
  and ``release_tracked(blocking=True)``. ``--seconds`` sets the number
  of timed passes (one per 8 seconds asked, at least 3); the seed sets
  the table content and each pass's query order.

One process drives ``local[<cores - 1>]``, leaving a core to the
benchmark's own Python process and whatever runs it. Set-up (JVM and
session start, importing the registry, staging inputs and a warm-up)
is timed as ``setup_s`` and kept out of the timed phase. The timed
phase is cut into units of fixed work (a slate pass, a segment of
micro-batches); ``wall_s`` and ``rows_per_s`` are medians over them. Every run checks its
outputs: the batch slate compares each query once with its DuckDB
oracle during warm-up, the stream compares its windows with DuckDB
over the same ticks afterwards. A failed or wrong query or micro-batch
counts in ``failed``.

With ``--trace 0`` the last line carries the end-to-end metrics. With
``--trace 1`` it carries the per-layer metrics (``layers.PER_LAYER``)
of a traced timed phase. The batch slate times its queries' layers
while it runs, so it runs untraced and traced passes in turn, and
``trace.overhead_s`` is the median traced pass's wall time less the
median untraced one's. The stream is traced only from what Spark
recorded, read after its query stops, so its timed phase runs once and
``trace.overhead_s`` is 0 by construction.
The line before the last gives the tail percentile and its sample
count.

Exits non-zero without a result when the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

from layers import END_TO_END, PER_LAYER, Layers  # noqa: E402
from measure import process_age_s, self_peak_rss_mb, vm_hwm_mb  # noqa: E402
from stream import SEGMENT  # noqa: E402

#: why each workload is in the benchmark (mirrored in BENCHMARK.json)
WORKLOADS = {
    "stream_candlestick": (
        "the reference tumbling job as a many-batch closed-loop stream: "
        "time goes to per-micro-batch fixed cost (source, planning, WAL, "
        "commit); stock_ticks takes no seed"
    ),
    "batch_relational": (
        "13 relational and temporal queries on seeded sf0.01 tables: build, "
        "scan, read_table repartition, shuffle and codegen; the seed sets "
        "data and query order"
    ),
}

SLATE_SF = 0.01
#: The local-mode JVM's heap, its initial size pinned to its maximum
#: so the heap's resident size does not depend on when it grows.
HEAP = "1g"


def stream_batches(seconds: int) -> int:
    return SEGMENT * max(3, math.ceil(seconds / SEGMENT))


def slate_passes(seconds: int) -> int:
    return max(3, round(seconds / 8))


def _spark_conf(tmp: str) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": HEAP,
        "spark.driver.extraJavaOptions": (
            f"-Xms{HEAP} -Djava.io.tmpdir={tmp}"
        ),
        "spark.local.dir": tmp,
    }


def _stop(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on end of input
        proc.wait(timeout=60)


def _setup_slate(spark, args, work, oracle_con, layers):
    from data import stage_tables
    from slate import RELATIONAL, Slate

    tables = os.path.join(work, "tables")
    rows = stage_tables(args.seed, SLATE_SF, tables)
    for t in rows:
        path = os.path.join(tables, f"{t}.parquet")
        oracle_con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    t0 = time.perf_counter()
    slate = Slate(spark, RELATIONAL, tables, rows, args.seed, slate_passes(args.seconds))
    check_s = slate.warm_and_check(oracle_con)
    layers.values["session.warmup_s"] = time.perf_counter() - t0 - check_s
    return slate, check_s


def _setup_stream(spark, args, work, cores, layers):
    from stream import Candlestick

    stream = Candlestick(spark, work, stream_batches(args.seconds), cores)
    t0 = time.perf_counter()
    stream.warm_up()
    layers.values["session.warmup_s"] = time.perf_counter() - t0
    return stream


def _read_table_probe(spark, tables_dir, names) -> float:
    from kinesis_analytics_demo_spark.session import read_table

    t0 = time.perf_counter()
    for name in names:
        read_table(spark, tables_dir, name)
    return time.perf_counter() - t0


def run(args, work: str) -> tuple[dict, dict]:
    import duckdb

    from kinesis_analytics_demo_spark.session import get_spark

    cores = max(1, len(os.sched_getaffinity(0)) - 1)
    layers = Layers()
    oracle_con = duckdb.connect()
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf=_spark_conf(os.path.join(work, "tmp")),
    )
    layers.values["session.get_spark_s"] = time.perf_counter() - t0
    try:
        check_s = 0.0
        if args.workload == "batch_relational":
            workload, check_s = _setup_slate(spark, args, work, oracle_con, layers)
        else:
            workload = _setup_stream(spark, args, work, cores, layers)
        setup_s = process_age_s() - check_s

        from status import Tracer

        info = {}
        if args.trace and args.workload == "batch_relational":
            e2e, traced = workload.measure_traced(Tracer(spark), layers)
            layers.values["trace.overhead_s"] = traced["wall_s"] - e2e["wall_s"]
            info["traced_wall_s"] = traced["wall_s"]
            layers.values["session.read_table_s"] = _read_table_probe(
                spark, workload.tables_dir, workload.table_rows)
        elif args.trace:
            # Tracer reads the status stores only after the query stops
            e2e = workload.measure(Tracer(spark), layers)
            layers.values["trace.overhead_s"] = 0.0
            layers.values["sources.read_s"] = workload.read_probe_s()
        else:
            e2e = workload.measure()
        jvm = spark._jvm.java.lang.ProcessHandle.current().pid()
        e2e["peak_rss_mb"] = vm_hwm_mb(jvm) + self_peak_rss_mb()
        e2e["setup_s"] = setup_s
        for k in ("tail_percentile", "samples", "phase_s", "unit_walls_s"):
            info[k] = e2e.pop(k)
        if args.workload == "stream_candlestick":
            workload.check(oracle_con)
    finally:
        oracle_con.close()
        _stop(spark)

    if args.trace:
        metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in layers.metrics().items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": unit} for k, unit in END_TO_END.items()}
    result = {
        "correct": workload.failed == 0,
        "attempted": workload.attempted,
        "failed": workload.failed,
        "metrics": metrics,
    }
    return info, result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # Timestamps cross Python, the JVM and DuckDB as naive UTC values.
    os.environ["TZ"] = "UTC"
    time.tzset()
    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    sys.path.insert(0, ROOT)
    try:
        info, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run uses it
        except OSError:
            pass
    print(json.dumps({"workload": args.workload, "seed": args.seed, **info}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
