#!/usr/bin/env python
"""Benchmark harness: run the headline query set, print a compact JSON line.

Output contract:

  line 1..k : per-query detail JSON (one object per line, prefixed
              "DETAIL ") — greppable, never part of the summary parse
  last line : {"metric": "...", "value": <total sec>, "unit": "sec",
               "sf": ..., "repeats": N, "n_queries": N,
               "detail_file": "bench_detail.json"}

The summary stays compact because a caller that keeps only the stdout
tail (2000 characters) must still parse it whole; the per-query map
lives in the DETAIL lines and in bench_detail.json next to this script
(median + min/max spread, sweep position and start offset per lane,
host load at start and end, and the demo and streaming lanes).

Each query executes REPEATS times (median reported; env
SPARK_GRAFT_BENCH_REPEATS, default 3) with a noop-sink write: unlike
count() — under which Catalyst prunes every column the count doesn't
need, making projection-heavy queries measure as nearly free — the noop
sink materializes ALL output columns through the full plan while adding
no write cost (and no driver-side materialization like collect()). A
warmup pass on the smallest table absorbs JVM/codegen startup so
per-query numbers reflect the plans, not the JIT.

Wall times compare only within one session: for a parent/change A/B,
run perfbench (`perfbench/run.py`) interleaved.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS   (local[N], default all cores),
     SPARK_GRAFT_BENCH_REPEATS (default 3; demo and streaming lanes
     always 1).
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

_REPO_DIR = os.path.dirname(os.path.abspath(__file__))
DETAIL_FILE = "bench_detail.json"


def _time_query(fn, spark, sf_dir: str, repeats: int) -> list[float]:
    """Median-of-N timing with per-lane BlockManager hygiene: each run
    of an iterative/ingest lane deliberately leaves its FINAL
    localCheckpoint block set pinned (the returned frame references
    it — checkpoint.py), so a 147-lane x 3-repeat sweep accumulates
    ~bounded-but-dead blocks once the noop sink has materialized each
    lane. Freeing the net-new pinned ids AFTER the lane's last repeat
    completes the lifecycle: the lane is done, nothing references its
    checkpoints again (each repeat rebuilds the plan from scratch), and
    the freeing sits outside every timed window. Skipped when either
    BlockManager snapshot fails (None = unknown — never guess about
    live blocks)."""
    from hadoop_lab_spark.checkpoint import persistent_rdd_ids, unpersist_rdds

    sc = spark.sparkContext
    before = persistent_rdd_ids(sc)
    times = []
    for _ in range(repeats):
        start = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - start)
    after = persistent_rdd_ids(sc)
    if before is not None and after is not None:
        unpersist_rdds(sc, after - before)
    return times


def _warn_if_contended() -> None:
    """A concurrent Spark JVM inflates isolated small lanes 1.5-2x
    (a CLI smoke running mid-bench pushed top_parts_per_brand
    0.18->0.38 s while barely moving the totals), which poisons
    per-lane comparisons. Our own JVM hasn't started yet, so ANY Spark
    JVM visible now is foreign. Warning only — the run may be
    deliberate (e.g. a shared CI box)."""
    try:
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    cmd = f.read()
            except OSError:
                continue
            if b"org.apache.spark" in cmd:
                print(
                    f"WARNING: another Spark JVM is running (pid {pid}) — "
                    "bench medians will be contended; per-lane numbers "
                    "are not comparable",
                    file=sys.stderr,
                )
                return
    except OSError:
        pass  # non-procfs platform: skip the check


def _loadavg() -> list[float] | None:
    """Host 1/5/15-min load averages, for the run record: a slow lane
    is first explained by what the host was doing at the time."""
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except (OSError, ValueError):
        return None


def summary_line(total: float, sf: float, repeats: int, n_queries: int) -> str:
    """The last stdout line: one compact JSON object (module docstring)."""
    return json.dumps(
        {
            "metric": "headline_query_set_wall_time",
            "value": total,
            "unit": "sec",
            "sf": sf,
            "repeats": repeats,
            "n_queries": n_queries,
            "detail_file": DETAIL_FILE,
        }
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    _warn_if_contended()
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3")))
    match = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(match.group(1).rstrip(".")) if match else -1.0

    from hadoop_lab_spark.plans.registry import REGISTRY, load_all_query_modules
    from hadoop_lab_spark.session import get_spark

    load_all_query_modules()
    spark = get_spark(app_name="hadoop-lab-spark-bench")
    spark.sparkContext.setLogLevel("WARN")

    # Warmup: touch the runtime (codegen, shuffle machinery) once.
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()

    load_start = _loadavg()
    sweep_start = time.perf_counter()
    detail: dict[str, dict[str, float]] = {}
    timings: dict[str, float] = {}
    pos = 0
    for name, spec in sorted(REGISTRY.items()):
        if not spec.bench:
            continue
        # Sweep position + wall-clock offset per lane: a host stall
        # elevates whatever contiguous block of lanes is running, so a
        # slow lane is read against its neighbours in run order.
        t_off = time.perf_counter() - sweep_start
        times = _time_query(spec.fn, spark, sf_dir, repeats)
        timings[name] = round(statistics.median(times), 3)
        detail[name] = {
            "median": timings[name],
            "min": round(min(times), 3),
            "max": round(max(times), 3),
            "runs": [round(t, 3) for t in times],
            "pos": pos,
            "t_start": round(t_off, 1),
        }
        pos += 1
        print(f"DETAIL {json.dumps({name: detail[name]})}", flush=True)

    # Demo lanes (bench=False, tagged "demo"): priced knob demos kept out
    # of the headline set but still timed once here so the
    # PERFORMANCE.md pricing tables track live numbers.
    demos: dict[str, float] = {}
    for name, spec in sorted(REGISTRY.items()):
        if spec.bench or "demo" not in spec.tags:
            continue
        times = _time_query(spec.fn, spark, sf_dir, 1)
        demos[name] = round(times[0], 3)
        print(f"DETAIL {json.dumps({name: {'median': demos[name], 'demo': True}})}", flush=True)

    # Streaming lane: startup-dominated (state store + availableNow
    # machinery) and stateful-store-heavy, so one run each, recorded in
    # the detail file but excluded from the headline figure.
    streaming: dict[str, float] = {}
    for name, spec in sorted(REGISTRY.items()):
        if spec.bench or "streaming" not in spec.tags:
            continue
        times = _time_query(spec.fn, spark, sf_dir, 1)
        streaming[name] = round(times[0], 3)
        print(f"DETAIL {json.dumps({name: {'median': streaming[name], 'streaming': True}})}", flush=True)

    total = round(sum(timings.values()), 3)

    with open(os.path.join(_REPO_DIR, DETAIL_FILE), "w") as f:
        json.dump(
            {
                "sf": sf,
                "repeats": repeats,
                "loadavg_start": load_start,
                "loadavg_end": _loadavg(),
                "total_median_sec": total,
                "queries": detail,
                "demos": demos,
                "streaming": streaming,
            },
            f,
            indent=1,
            sort_keys=True,
        )

    # The compact summary MUST be the last stdout line.
    sys.stdout.flush()
    print(summary_line(total, sf, repeats, len(timings)))
    spark.stop()


if __name__ == "__main__":
    main()
