#!/usr/bin/env python
"""Simulate the external verify driver (the repo's correctness gate).

Runs every ``queries()[name]`` from ``__spark_entry__`` on a VANILLA
SparkSession (the driver owns the session; each ``queries()`` callable
applies the engine confs to it with ``tune_session`` before building,
the lanes themselves set none) and compares each
against ``oracle_sql()[name]`` executed in DuckDB over the same parquet
tables: sorted column names, row count, and an order-insensitive
sha256 of repr'd rows — the exact driver method. Expect
``RESULT: ALL-MATCH``.

Usage:
  python tools/drive_driver_contract.py [sf_dir] [--only=a,b] [--exclude=a,b]

Defaults to /root/testdata/sf0.01 (the driver's correctness SF).
Run from a cwd OUTSIDE the repo (e.g. /tmp) so by-reference pickling of
package symbols in pandas-UDF closures is not masked — the tool inserts
the repo on sys.path itself, mirroring the real driver process.

Committed per VERDICT r6 #5 so the r6 staleness-floor mitigation
(PERFORMANCE.md) is reproducible every round instead of a /tmp one-off.
"""

import hashlib
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb
from pyspark.sql import SparkSession

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(repr(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for r in out:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def main():
    sf_dir = "/root/testdata/sf0.01"
    only, exclude = None, set()
    for arg in sys.argv[1:]:
        if arg.startswith("--only="):
            only = set(arg.split("=", 1)[1].split(","))
        elif arg.startswith("--exclude="):
            exclude = set(arg.split("=", 1)[1].split(","))
        elif arg.startswith("--"):
            sys.exit(f"usage: {__doc__.splitlines()[0]}\nunknown flag {arg}")
        else:
            sf_dir = arg

    spark = SparkSession.builder.master("local[8]").getOrCreate()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    import __spark_entry__ as e

    assert len(e.entry(spark).collect()) > 0, "entry smoke failed"
    qs, oracles = e.queries(), e.oracle_sql()
    names = [n for n in qs if (only is None or n in only) and n not in exclude]
    unknown = (only or set()) - set(qs)
    if unknown:
        sys.exit(f"--only names not in queries(): {sorted(unknown)}")
    from hadoop_lab_spark.checkpoint import persistent_rdd_ids, unpersist_rdds

    bad = []
    for name in names:
        # Per-lane BlockManager hygiene, mirroring bench.py._time_query
        # (VERDICT r10 #5): iterative/ingest lanes deliberately retain
        # their final localCheckpoint set; once this lane's collect and
        # compare are done nothing references it, so a 150-lane drive
        # must not accumulate 150 dead block sets.
        before = persistent_rdd_ids(spark.sparkContext)
        try:
            df = qs[name](spark, sf_dir)
            cols = df.columns
            rows = df.collect()
            if name not in oracles:
                print(f"{name}: rows-only ({len(rows)})")
                continue
            oc = con.execute(oracles[name])
            ocols = [d[0] for d in oc.description]
            orows = oc.fetchall()
            ok_cols = sorted(cols) == sorted(ocols)
            ok_rows = len(rows) == len(orows)
            srows = [tuple(r[c] for c in cols) for r in rows]
            ok_hash = canon(cols, srows) == canon(ocols, orows)
            status = "MATCH" if (ok_cols and ok_rows and ok_hash) else "MISMATCH"
            if status != "MATCH":
                bad.append(name)
            print(
                f"{name}: {status} cols={ok_cols} rows={len(rows)}/{len(orows)} hash={ok_hash}"
            )
        except Exception as ex:  # noqa: BLE001
            bad.append(name)
            print(f"{name}: ERROR {type(ex).__name__}: {ex}")
        finally:
            after = persistent_rdd_ids(spark.sparkContext)
            if before is not None and after is not None:
                unpersist_rdds(spark.sparkContext, after - before)
    print("RESULT:", "ALL-MATCH" if not bad else f"FAILURES: {bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
