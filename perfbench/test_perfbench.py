"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py

The structural test runs the Spark workloads twice each (a few minutes);
the rest are fast checks of the harness arithmetic.
"""

from __future__ import annotations

import json
import subprocess
import sys
import time
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from common import hd_median, median, tail, union_ms  # noqa: E402
from spans import Tracer  # noqa: E402
from wl_rest_catalog import LIMIT_MS, _Load, _max_rate  # noqa: E402


def _report(workload: str, seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "0"],
        cwd=HERE.parent, capture_output=True, text=True, timeout=600, check=True,
    ).stdout.strip().splitlines()
    result = json.loads(out[-1])
    assert result["correct"] and result["failed"] == 0, out[-2][:2000]
    return json.loads(out[-2])["report"]


@pytest.mark.parametrize("workload", ["query_mix", "table_lifecycle"])
def test_spark_structure_repeats_exactly_across_runs(workload):
    first = _report(workload, 7)["structure"]
    second = _report(workload, 7)["structure"]
    assert first and first == second


def test_tail_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(100)]
    pct, v = tail(xs)
    assert pct == 90.0 and sum(1 for x in xs if x > v) >= 9
    assert tail([1.0, 5.0, 2.0]) == (100.0, 5.0)


def test_union_of_job_spans():
    assert union_ms([(0, 10), (5, 15), (20, 25)]) == 20


def test_self_time_excludes_children():
    tr = Tracer()
    tr.active = True

    def inner():
        time.sleep(0.02)

    def outer():
        tr.call("inner", inner, (), {})
        time.sleep(0.01)

    tr.call("outer", outer, (), {})
    s = tr.summary()
    assert s["outer"]["calls"] == 1 and s["inner"]["calls"] == 1
    assert s["outer"]["self_s"] < s["outer"]["s"] - 0.015
    assert tr.parentage() == {"<op> > outer": 1, "outer > inner": 1}


def test_max_rate_interpolates_between_ladder_steps():
    def step(rate, tail_ms, ok=True):
        return {"rate": rate, "tail_ms": tail_ms, "ok": ok, "achieved_rps": rate}

    steps = [step(50, 10), step(100, 40), step(150, 40 + 2 * (LIMIT_MS - 40))]
    assert _max_rate(steps) == pytest.approx(125.0)
    assert _max_rate([step(50, 10), step(100, 20)]) == 100


def test_hd_median_is_a_median_that_moves_smoothly():
    assert hd_median([]) == 0.0
    assert hd_median([4.0] * 14) == pytest.approx(4.0)
    assert hd_median([1, 2, 3, 4, 5]) == pytest.approx(3.0)
    # seven fast and seven slow values: the sample median is the midpoint
    # of the gap, and nudging one neighbour of the gap moves it by half the
    # nudge; the estimate moves by less
    fast, slow = [1.0 + i / 10 for i in range(7)], [10.0 + i for i in range(7)]
    nudged = fast[:-1] + [fast[-1] + 1.0] + slow
    assert median(nudged) - median(fast + slow) == pytest.approx(0.5)
    assert 0 < hd_median(nudged) - hd_median(fast + slow) < 0.5


def test_tables_are_picked_in_zipf_proportion():
    import math
    import random

    load = _Load("http://127.0.0.1:1", [f"t{i}" for i in range(32)], 1)
    total = sum(load.weights)
    for n in (7, 100, 1000):
        got = load.pick(n, random.Random(n))
        for name, w in zip(load.names, load.weights):
            share = n * w / total
            assert math.floor(share) <= got.count(name) <= math.ceil(share)
