"""Unit tests for the benchmark's own arithmetic and for the agreement
between BENCHMARK.json and the metrics run.py emits.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402
from stats import failed_op_ratio, stored_bytes_ratio, tail  # noqa: E402


@pytest.mark.parametrize("n", [20, 21, 30, 37, 100])
def test_tail_has_exactly_ten_samples_beyond(n):
    samples = [float(i) for i in range(n)][::-1]
    value, pct, count = tail(samples)
    assert count == n
    assert sum(s > value for s in samples) == 10
    assert pct == pytest.approx(100.0 * (n - 10) / n)


def test_tail_examples():
    assert tail([float(i) for i in range(30)]) == (19.0, pytest.approx(200 / 3), 30)
    # n = 20 is the smallest sample whose tail percentile reaches the median
    assert tail([float(i) for i in range(20)]) == (9.0, 50.0, 20)


@pytest.mark.parametrize("n", [1, 6, 15, 19])
def test_tail_of_a_small_sample_is_its_maximum(n):
    samples = [float(i) for i in range(n)]
    assert tail(samples) == (float(n - 1), 100.0, n)


def test_tail_of_no_samples_raises():
    with pytest.raises(ValueError):
        tail([])


def test_failed_op_ratio():
    assert failed_op_ratio(0, 30) == 0.0
    assert failed_op_ratio(3, 12) == 0.25
    assert failed_op_ratio(7, 7) == 1.0
    with pytest.raises(ValueError):
        failed_op_ratio(0, 0)
    with pytest.raises(ValueError):
        failed_op_ratio(5, 4)
    with pytest.raises(ValueError):
        failed_op_ratio(-1, 4)


def test_stored_bytes_ratio():
    assert stored_bytes_ratio(850, 1000) == 0.85
    assert stored_bytes_ratio(3000, 1000) == 3.0
    assert stored_bytes_ratio(0, 10) == 0.0
    with pytest.raises(ValueError):
        stored_bytes_ratio(10, 0)


def test_per_op_medians():
    class Pass:
        def __init__(self, samples):
            self.samples = samples

    passes = [Pass({"a": 1.0, "b": 5.0}), Pass({"a": 3.0, "b": 4.0}), Pass({"a": 2.0})]
    assert run.per_op_medians(passes, "samples") == ([2.0, 4.5], 5)


def test_tree_cpu_counts_a_reaped_child():
    from program import tree_cpu_s

    before = tree_cpu_s()
    subprocess.run(
        [sys.executable, "-c", "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass"],
        check=True,
    )
    assert tree_cpu_s() - before >= 0.25


def test_benchmark_json_matches_the_metrics_run_emits():
    with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    assert spec["command"] == ["python3", "perfbench/run.py"]
