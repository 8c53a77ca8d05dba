"""The batch workload: a slate of registered queries, pass after pass.

One query runs as ``spec.fn(spark, tables)`` followed by a noop write
of its result, then ``release_tracked(blocking=True)``; its latency is
the whole of that. A pass runs every query of the slate once, in an
order drawn from the seed. A pass is the unit of fixed work:
``wall_s`` and ``rows_per_s`` are medians over the timed passes.
"""

from __future__ import annotations

import random
import re
import sys
import time
import traceback
from statistics import median

from measure import tail

RELATIONAL = [
    "pricing_summary",
    "shipping_priority",
    "regional_revenue",
    "window_functions",
    "distinct_aggregates",
    "returned_item_customers",
    "product_profit_by_nation_year",
    "customer_order_count_distribution",
    "range_frame_trailing_revenue",
    "cumulate_window_revenue",
    "bloom_filter_semijoin",
    "asof_join_events",
    "range_join_events",
]


class _Collected:
    """A collected result shaped like the DataFrame it came from, so
    the oracle check compares rows that were fetched earlier."""

    def __init__(self, df):
        self.columns = df.columns
        self.dtypes = df.dtypes
        self._rows = df.collect()

    def collect(self):
        return self._rows


class Slate:
    def __init__(self, spark, names, tables_dir, table_rows, seed, passes):
        from kinesis_analytics_demo_spark.plans.registry import all_queries

        registry = all_queries()
        self.spark = spark
        self.specs = [registry[n] for n in names]
        self.tables_dir = tables_dir
        self.table_rows = table_rows
        self.rng = random.Random(seed)
        self.passes = passes
        self.failed = 0
        self.attempted = 0

    def _order(self):
        order = list(self.specs)
        self.rng.shuffle(order)
        return order

    def _run(self, spec, tracer=None, layers=None, tag=""):
        """One query; returns its latency in seconds, or None if it
        raised."""
        from kinesis_analytics_demo_spark.caching import release_tracked

        self.attempted += 1
        t0 = time.perf_counter()
        try:
            if tracer:
                tracer.set_group(f"{spec.name}.build{tag}")
            df = spec.fn(self.spark, self.tables_dir)
            t1 = time.perf_counter()
            if tracer:
                tracer.set_group(f"{spec.name}.run{tag}")
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            if tracer:
                tracer.clear_group()
                storage = tracer.storage_mb()
            released = release_tracked(blocking=True)
            t3 = time.perf_counter()
        except Exception:  # a failing query is counted and the slate goes on
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            release_tracked(blocking=True)
            return None
        if tracer:
            layers.query(spec.name, tracer, tag, t1 - t0, t2 - t1, t3 - t2,
                         released, storage)
        return t3 - t0

    def warm_and_check(self, oracle_con):
        """One full pass that warms every query and compares each
        result with its DuckDB oracle. Returns the seconds spent in the
        comparison itself (DuckDB and Python), which is not warm-up."""
        from kinesis_analytics_demo_spark.caching import release_tracked
        from tests.conftest import assert_matches_oracle

        check_s = 0.0
        for spec in self._order():
            self.attempted += 1
            try:
                result = _Collected(spec.fn(self.spark, self.tables_dir))
                release_tracked(blocking=True)
                t0 = time.perf_counter()
                assert_matches_oracle(result, oracle_con, spec.oracle)
                check_s += time.perf_counter() - t0
            except Exception:  # a wrong or failing query is counted
                traceback.print_exc(file=sys.stderr)
                self.failed += 1
                release_tracked(blocking=True)
        return check_s

    def input_rows(self) -> int:
        """Rows of the input tables one pass reads: for each query, the
        rows of every table its oracle names."""
        return sum(
            rows
            for spec in self.specs
            for table, rows in self.table_rows.items()
            if re.search(rf"\b{table}\b", spec.oracle)
        )

    def _pass(self, tracer, layers, tag) -> tuple[float, list[float]]:
        """One pass in the seed's next order: its wall time and the
        latency of each query that did not fail."""
        latencies = []
        t0 = time.perf_counter()
        for spec in self._order():
            lat = self._run(spec, tracer, layers, tag)
            if lat is not None:
                latencies.append(lat)
        return time.perf_counter() - t0, latencies

    def _summary(self, passes) -> dict:
        walls = [wall for wall, _ in passes]
        latencies = [lat for _, lats in passes for lat in lats]
        tail_s, pct = tail(latencies)
        return {
            "wall_s": median(walls),
            "rows_per_s": self.input_rows() / median(walls),
            "phase_s": sum(walls),
            "unit_walls_s": walls,
            "batch_p50_ms": 1e3 * median(latencies),
            "batch_tail_ms": 1e3 * tail_s,
            "tail_percentile": pct,
            "samples": len(latencies),
        }

    def measure(self) -> dict:
        """The timed phase: ``passes`` passes of the slate."""
        return self._summary([self._pass(None, None, "") for _ in range(self.passes)])

    def measure_traced(self, tracer, layers) -> tuple[dict, dict]:
        """``passes`` untraced and ``passes`` traced passes, in turn, so
        that both see the same drift of a JVM still warming up. Returns
        the untraced and the traced summary."""
        plain, traced = [], []
        for p in range(self.passes):
            plain.append(self._pass(None, None, ""))
            traced.append(self._pass(tracer, layers, f".{p}"))
        return self._summary(plain), self._summary(traced)
