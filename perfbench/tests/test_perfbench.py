"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The last test runs the stream workload end to end (about a minute).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import run  # noqa: E402
from layers import END_TO_END, PER_LAYER  # noqa: E402
from measure import tail  # noqa: E402
from stream import SEGMENT, segment_wall  # noqa: E402


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_tail_leaves_ten_samples_beyond():
    samples = list(range(30, 0, -1))  # 1..30, unsorted
    value, pct = tail(samples)
    assert value == 20
    assert sum(1 for x in samples if x > value) == 10
    assert pct == pytest.approx(100 * 20 / 30)


def test_tail_is_highest_such_percentile():
    samples = [float(i) for i in range(1, 26)]
    value, pct = tail(samples)
    # one rank higher would leave only nine samples beyond
    assert sum(1 for x in samples if x > value) == 10
    assert pct == pytest.approx(60.0)


def test_tail_needs_more_than_ten_samples():
    assert tail([5.0] * 11) == (5.0, pytest.approx(100 / 11))
    with pytest.raises(ValueError):
        tail([1.0] * 10)


@pytest.mark.parametrize("seconds", [1, 2, 10, 25, 60])
def test_timed_stream_runs_many_batches(seconds):
    batches = run.stream_batches(seconds)
    # enough micro-batches for a tail with ten beyond it, cut into at
    # least three whole segments for the medians
    assert batches > 10
    assert batches % SEGMENT == 0 and batches // SEGMENT >= 3


@pytest.mark.parametrize("seconds", [1, 10, 25, 60])
def test_slate_runs_enough_passes_for_a_median(seconds):
    assert run.slate_passes(seconds) >= 3


def test_segment_wall_uses_the_query_clock():
    progress = [
        {"start_s": 100.0, "durations": {"triggerExecution": 900}},
        {"start_s": 100.95, "durations": {"triggerExecution": 1000}},
        {"start_s": 102.0, "durations": {"triggerExecution": 500}},
    ]
    # first trigger start to the last trigger's end, gaps included
    assert segment_wall(progress) == pytest.approx(2.5)


def test_metric_names_match_benchmark_json(spec):
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER


def test_every_workload_records_why(spec):
    assert {w["name"]: w["why"] for w in spec["workloads"]} == run.WORKLOADS
    for why in run.WORKLOADS.values():
        assert why.strip() and "\n" not in why and len(why) <= 200


def test_setup_has_the_largest_bound(spec):
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values())


def _run(*args):
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), *args],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_traced_stream_run(spec):
    """A short traced stream run is correct, commits more than one
    micro-batch and prints exactly the per-layer metrics."""
    result = _run("--workload", "stream_candlestick", "--seed", "1",
                  "--seconds", "1", "--trace", "1")
    assert result["correct"] and result["failed"] == 0
    metrics = result["metrics"]
    assert set(metrics) == {m["name"] for m in spec["per_layer"]}
    assert metrics["streaming.batches"]["value"] > 1
    assert metrics["functions.python_rows"]["value"] > 0
    assert metrics["functions.python_mb"]["value"] > 0
    assert metrics["trace.overhead_s"]["value"] == 0
