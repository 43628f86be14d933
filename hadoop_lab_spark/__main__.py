"""CLI — the engine's answer to the reference's ``./<Lab>.sh`` scripts.

    python -m hadoop_lab_spark list
    python -m hadoop_lab_spark run-lab 2 /path/to/input2.txt [-o OUT_DIR]
    python -m hadoop_lab_spark query wordcount [--sf-dir DIR] [-n 20]

A reference user's whole workflow (`./WordCount.sh` → cat part-r-00000)
becomes ``run-lab 2 input2.txt -o out`` — same input file, same output
shape (tab-separated, key-sorted, single file), no compile/stage/submit
ceremony.
"""

from __future__ import annotations

import argparse
import os
import sys


def _fetch_input(path_or_url: str) -> str:
    """Resolve a lab input: local paths pass through; http(s)/file URLs
    are downloaded to a temp file first — the engine-side equivalent of
    the reference's interactive URL prompt + wget
    (lab2/WordCount.sh:36-56), minus the prompt."""
    import urllib.parse

    scheme = urllib.parse.urlparse(path_or_url).scheme.lower()
    if scheme not in ("http", "https", "file"):
        return path_or_url
    import shutil
    import tempfile
    import urllib.request

    # Normalize the scheme case ('HTTP://…' is a valid URL but urllib's
    # opener lookup is scheme-case-sensitive), and bound the fetch with a
    # timeout so a stalled server can't hang the CLI indefinitely.
    url = scheme + path_or_url[len(scheme):]
    suffix = os.path.splitext(path_or_url)[1] or ".txt"
    fd, local = tempfile.mkstemp(prefix="hls_input_", suffix=suffix)
    os.close(fd)
    with urllib.request.urlopen(url, timeout=60) as resp:  # noqa: S310 — user CLI arg
        with open(local, "wb") as out:
            shutil.copyfileobj(resp, out)
    print(f"downloaded {path_or_url} -> {local}", file=sys.stderr)
    return local


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="hadoop_lab_spark")
    sub = parser.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list registered queries and labs")

    p_lab = sub.add_parser("run-lab", help="run a reference lab on a raw text input")
    p_lab.add_argument("lab", type=int, choices=range(2, 12))
    p_lab.add_argument(
        "input",
        help="path OR http(s)/file URL of the lab's text/CSV input "
        "(URLs are downloaded first, matching the reference's wget step)",
    )
    p_lab.add_argument("-o", "--output", help="write reference-shaped output dir")
    p_lab.add_argument("-n", "--rows", type=int, default=20, help="rows to show")

    p_q = sub.add_parser("query", help="run a registered query on the star schema")
    p_q.add_argument("name")
    p_q.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p_q.add_argument("-n", "--rows", type=int, default=20)

    p_sql = sub.add_parser(
        "sql",
        help="run ad-hoc Spark SQL with the ten star-schema tables "
        "pre-registered as temp views (the SQL layer the reference lacks)",
    )
    p_sql.add_argument("statement")
    p_sql.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p_sql.add_argument("-n", "--rows", type=int, default=20)

    args = parser.parse_args(argv)

    from hadoop_lab_spark.plans.registry import REGISTRY, load_all_query_modules

    load_all_query_modules()

    if args.cmd == "list":
        from hadoop_lab_spark.labs import LABS

        print("labs (run-lab):")
        for n, fn in sorted(LABS.items()):
            print(f"  {n:3d}  {fn.__name__}")
        print("queries (query):")
        for name, spec in sorted(REGISTRY.items()):
            oracle = "oracle" if spec.oracle else "rows-only"
            print(f"  {name:35s} [{oracle}] {spec.doc.splitlines()[0][:70]}")
        return 0

    from hadoop_lab_spark.session import get_spark

    spark = get_spark(app_name=f"hadoop-lab-spark-{args.cmd}")
    spark.sparkContext.setLogLevel("WARN")
    try:
        if args.cmd == "run-lab":
            from hadoop_lab_spark.labs import run_lab

            df = run_lab(spark, args.lab, _fetch_input(args.input), args.output)
            df.show(args.rows, truncate=False)
            if args.output:
                print(f"wrote reference-shaped output to {args.output}")
        elif args.cmd == "sql":
            from hadoop_lab_spark.sources.tables import register_temp_views

            register_temp_views(spark, args.sf_dir)
            spark.sql(args.statement).show(args.rows, truncate=False)
        else:
            if args.name not in REGISTRY:
                print(f"unknown query {args.name!r}; see `list`", file=sys.stderr)
                return 2
            REGISTRY[args.name].fn(spark, args.sf_dir).show(args.rows, truncate=False)
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
