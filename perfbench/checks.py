"""Output checks, run outside every timed window.

Registry lanes are compared with their DuckDB oracle SQL over the same
parquet files by ``tools/drive_driver_contract.py``'s own method (its
``canon`` and ``TABLES``): sorted column names, row count, and an
order-insensitive sha256 of ``repr``'d rows.

Lab outputs (``part-r-00000``) are compared with an independent Python
twin of each reference job's Java mapper/reducer semantics, under the
engine's documented deterministic policies (collected elements sorted,
argmax ties to the smallest witness).  The twins share no code with the
Spark pipelines.
"""

from __future__ import annotations

import importlib.util
import os
import re
from collections import Counter, defaultdict


def _driver_tool(root: str):
    """``tools/drive_driver_contract.py`` of the checkout at ``root``,
    loaded by path: it imports duckdb and pyspark, so only once a session
    is up."""
    path = os.path.join(root, "tools", "drive_driver_contract.py")
    spec = importlib.util.spec_from_file_location("drive_driver_contract", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Oracle:
    """DuckDB over the generated parquet files, capped at ``threads``."""

    def __init__(self, root: str, sf_dir: str, threads: int):
        import duckdb

        self.tool = _driver_tool(root)
        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {int(threads)}")
        for t in self.tool.TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet").replace("'", "''")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def mismatch(self, sql: str, cols: list[str], rows) -> str | None:
        """``None`` when the Spark result equals the oracle's, else why not."""
        import duckdb

        try:
            cur = self.con.execute(sql)
        except duckdb.Error as exc:
            return f"oracle failed: {exc}"
        ocols = [d[0] for d in cur.description]
        orows = cur.fetchall()
        if sorted(cols) != sorted(ocols):
            return f"columns {sorted(cols)} != oracle {sorted(ocols)}"
        if len(rows) != len(orows):
            return f"{len(rows)} rows != oracle {len(orows)}"
        spark_rows = [tuple(r[c] for c in cols) for r in rows]
        if self.tool.canon(cols, spark_rows) != self.tool.canon(ocols, orows):
            return "row values differ from the oracle"
        return None

    def close(self) -> None:
        self.con.close()


# --- lab twins ----------------------------------------------------------------

def _lines(path: str) -> list[str]:
    with open(path, encoding="utf-8", newline="") as f:
        return f.read().splitlines()


def _int(s: str) -> int | None:
    try:
        return int(s.strip())
    except ValueError:
        return None


def twin_lab3(path):
    best: dict[str, int] = {}
    for line in _lines(path):
        parts = re.split(r"\s+", line.strip())
        if len(parts) != 2 or (t := _int(parts[1])) is None:
            continue
        best[parts[0]] = max(best.get(parts[0], t), t)
    return list(best.items())


def twin_lab7(path):
    out = []
    for line in _lines(path):
        if not line.strip():
            continue
        parts = re.split(r"\s+", line.strip())
        if len(parts) < 2 or parts[0].lower() == "date" or (t := _int(parts[1])) is None:
            continue
        out.append((parts[0], "Shiny" if t >= 30 else "Cool"))
    return out


def twin_lab9(path):
    tags = defaultdict(list)
    for line in _lines(path):
        fields = line.split("::")
        if len(fields) >= 3:
            tags[fields[1].strip()].append(fields[2].strip())
    return [(m, ", ".join(sorted(v))) for m, v in tags.items()]


def twin_lab10(path):
    counts = Counter()
    for line in _lines(path):
        if line.startswith("ISBN"):
            continue
        fields = line.split(",")
        if len(fields) > 3:
            counts[fields[3].strip()] += 1
    return list(counts.items())


def twin_lab11(path):
    per_date = defaultdict(list)
    for line in _lines(path):
        if line.startswith("dispatching_base_number"):
            continue
        fields = line.split(",")
        if len(fields) >= 4 and (trips := _int(fields[3])) is not None:
            per_date[fields[1].strip()].append((fields[0].strip(), trips))
    out = []
    for date, pairs in per_date.items():
        mx = max(t for _, t in pairs)
        out.append((date, min(b for b, t in pairs if t == mx), mx))
    return out


TWINS = {3: twin_lab3, 7: twin_lab7, 9: twin_lab9, 10: twin_lab10, 11: twin_lab11}


def expected_lines(lab: int, input_path: str) -> list[str]:
    """The twin's answer rendered as the reference sink writes it: one
    tab-separated line per row (line order is checked separately)."""
    return sorted("\t".join(str(v) for v in row) for row in TWINS[lab](input_path))


def lab_output_mismatch(output_dir: str, expected: list[str]) -> str | None:
    """``None`` when ``output_dir/part-r-00000`` holds exactly the
    expected lines, ordered by the string form of their key."""
    path = os.path.join(output_dir, "part-r-00000")
    if not os.path.isfile(path):
        return "no part-r-00000 written"
    got = _lines(path)
    keys = [line.split("\t", 1)[0] for line in got]
    if any(a > b for a, b in zip(keys, keys[1:])):
        return "output lines are not sorted by key"
    if sorted(got) != expected:
        return f"{len(got)} lines differ from the twin's {len(expected)}"
    return None
