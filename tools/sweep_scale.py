#!/usr/bin/env python
"""Whole-registry scale sweep: differential + bench at an arbitrary SF dir.

Usage:
  python tools/sweep_scale.py [sf_dir] [--bench-only|--diff-only] [--only name,name] [--exclude name,name]

Defaults to /tmp/sf1.0 (generate it first with tools/gen_scale_data.py).

Runs BOTH gates the r4 sweep ran ad hoc, now committed so every round
can reproduce them (VERDICT r4 #3):

1. Differential: every registered query with an oracle, Spark vs DuckDB
   at the target SF, via the same canonicalized-hash compare the driver
   uses (hadoop_lab_spark.testing.assert_matches_oracle). Rows-only
   queries run and must not error.
2. Bench: per-lane noop-sink wall time (n=1 — at 10x data a single run
   dominates noise), printed per lane.

Both results go to /tmp/sweep_<sfname>.json: per lane, the differential
status ("diff") and the wall seconds ("sec", null when the lane failed),
plus the list of failed lanes.

Exit code 0 only if every differential matched and every bench lane ran.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = [a for a in sys.argv[1:]]
    sf_dir = next((a for a in args if not a.startswith("--")), "/tmp/sf1.0")
    bench_only = "--bench-only" in args
    diff_only = "--diff-only" in args
    only = None
    exclude: set[str] = set()
    for a in args:
        if a.startswith("--only="):
            only = set(a.split("=", 1)[1].split(","))
        elif a.startswith("--exclude="):
            # for lanes whose ORACLE is intractable at the target SF
            # (e.g. ssjoin_prefix_jaccard's exhaustive quadratic join on
            # the degenerate local sf1.0 fixture) — document the reason
            # wherever the sweep output is recorded
            exclude = set(a.split("=", 1)[1].split(","))
        elif a.startswith("--") and a not in ("--bench-only", "--diff-only"):
            sys.exit(
                f"unknown flag {a!r}; usage: sweep_scale.py [sf_dir] "
                "[--bench-only|--diff-only] [--only=a,b] [--exclude=a,b]"
            )

    from hadoop_lab_spark.plans.registry import REGISTRY, load_all_query_modules
    from hadoop_lab_spark.session import get_spark
    from hadoop_lab_spark.testing import assert_matches_oracle, duckdb_connection

    load_all_query_modules()
    spark = get_spark(app_name="hadoop-lab-spark-scale-sweep")
    spark.sparkContext.setLogLevel("WARN")

    names = sorted(
        n for n in REGISTRY if (only is None or n in only) and n not in exclude
    )
    batch = [n for n in names if "streaming" not in REGISTRY[n].tags]

    results: dict[str, dict] = {}
    failed: list[str] = []

    if not bench_only:
        con = duckdb_connection(sf_dir)
        for name in batch:
            spec = REGISTRY[name]
            t0 = time.perf_counter()
            try:
                df = spec.fn(spark, sf_dir)
                if spec.oracle:
                    assert_matches_oracle(df, con, spec.oracle, name=name)
                    status = "MATCH"
                else:
                    df.count()
                    status = "ROWS_ONLY_OK"
            except Exception as e:  # record and continue: the sweep must finish
                status = f"FAIL: {type(e).__name__}: {e}"
                failed.append(name)
            dt = round(time.perf_counter() - t0, 2)
            results.setdefault(name, {})["diff"] = status
            print(f"DIFF {name}: {status} ({dt}s)", flush=True)
        con.close()

    if not diff_only:
        for name in batch:
            spec = REGISTRY[name]
            t0 = time.perf_counter()
            try:
                spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                dt = round(time.perf_counter() - t0, 3)
                results.setdefault(name, {})["sec"] = dt
                print(f"BENCH {name}: {dt}s", flush=True)
            except Exception as e:
                results.setdefault(name, {})["sec"] = None
                failed.append(name)
                print(f"BENCH {name}: FAIL {type(e).__name__}: {e}", flush=True)

    out = f"/tmp/sweep_{os.path.basename(os.path.normpath(sf_dir))}.json"
    with open(out, "w") as f:
        json.dump({"sf_dir": sf_dir, "results": results, "failed": failed}, f, indent=1, sort_keys=True)
    n_match = sum(1 for r in results.values() if r.get("diff") == "MATCH")
    print(f"SUMMARY: {n_match} matched, {len(failed)} failed, detail {out}", flush=True)
    spark.stop()
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
