"""The run's sampling with a query that always raises, on stand-ins for Spark
(run: python3 -m pytest perfbench/tests)."""

from __future__ import annotations

import argparse
import os
import sys
from types import SimpleNamespace

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import run  # noqa: E402
import stats  # noqa: E402


class _Sink:
    def format(self, _name):
        return self

    def mode(self, _mode):
        return self

    def save(self):
        return None


class _Session:
    streams = None

    def newSession(self):
        return self

    @property
    def sparkContext(self):
        return None


def _lane_ok(_session, _sf_dir):
    return SimpleNamespace(write=_Sink())


def _lane_raises(_session, _sf_dir):
    raise RuntimeError("always fails")


def _bench(workload):
    args = argparse.Namespace(workload="w", seed=1, seconds=0.0, trace=0)
    bench = run.Bench(args, os.getcwd(), workload)
    bench.spark = _Session()
    bench.ckpt = SimpleNamespace(persistent_rdd_ids=lambda _sc: None)
    bench.inputs = "unused"
    return bench


def test_a_lane_that_always_raises_is_counted_and_the_run_finishes():
    names = [f"ok{i}" for i in range(12)] + ["broken"]
    bench = _bench({"kind": "lanes", "queries": names})
    bench.registry = {n: SimpleNamespace(fn=_lane_ok) for n in names}
    bench.registry["broken"] = SimpleNamespace(fn=_lane_raises)
    p_tail = 0.6

    passes, alone, latencies, _traced, _gc, _heap = bench.timed_passes(names, 0.0, p_tail)
    samples = [t for ts in latencies.values() for t in ts]

    assert len(passes) == 2  # 26 samples: the fewest with ten beyond p60
    assert len(latencies["broken"]) == len(passes)
    assert stats.beyond(len(samples), p_tail) >= stats.MIN_BEYOND
    assert bench.failed == len(passes) and bench.attempted == len(passes) * len(names)
    assert "RuntimeError" in bench.errors["broken"]
    metrics = run.end_to_end_metrics(alone, samples, p_tail, 1.0, 1.0,
                                     bench.failed, bench.attempted)
    assert metrics["success_rate"] == 1.0 - 2 / 26
    assert metrics["query_tail_s"] >= metrics["query_p50_s"] > 0.0


def test_every_lane_raising_still_yields_a_result():
    names = [f"lane{i}" for i in range(5)]
    bench = _bench({"kind": "lanes", "queries": names})
    bench.registry = {n: SimpleNamespace(fn=_lane_raises) for n in names}

    passes, alone, latencies, *_ = bench.timed_passes(names, 0.0, 0.6)
    samples = [t for ts in latencies.values() for t in ts]

    assert len(samples) == 25
    metrics = run.end_to_end_metrics(alone, samples, 0.6, 1.0, 1.0, bench.failed, bench.attempted)
    assert metrics["success_rate"] == 0.0
