"""Seeded benchmark inputs: a star schema and the text files of the benchmark's labs.

Everything is a pure function of ``seed`` (numpy ``default_rng``), so the
same seed always produces byte-identical files.  The star schema mirrors
the test data (TESTDATA.md) the registry's oracles were written against:
the same tables, column names, parquet physical types (``events.ts`` is
TIMESTAMP(MICROS)), one row group per file, and the same value domains
(cent-exact money, integer quantities, 0.01-step discounts, midnight
dates, unit-norm float32 embeddings).  The lab files keep the reference
inputs' format quirks: the UTF-8 BOM before lab3's header, ``::``
delimiters with ``:`` inside lab9's titles, unquoted commas inside lab10's
publishers, and per-date argmax ties in lab11.

Nothing here knows which queries run on the data; no value is chosen to
steer around a known defect.

Usage: ``python3 perfbench/gen.py OUT_DIR SEED`` writes both input sets.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

US_DAY = 86_400_000_000
D1995 = int(np.datetime64("1995-01-01", "us").astype(np.int64))
D2024 = int(np.datetime64("2024-01-01", "us").astype(np.int64))

#: Rows per table: the sf0.01 sizes of TESTDATA.md.
STAR_ROWS = {"customer": 1_500, "supplier": 100, "part": 2_000, "orders": 15_000,
             "lineitem": 60_000, "events": 10_000, "documents": 500, "embeddings": 500}
#: Distinct event users.
EVENT_USERS = 150
#: The star schema's directory under a seed's input set.
STAR_DIR = "sf0.01"

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table",
    "the", "value", "vector", "window",
]
LANGS = ["en", "de", "es", "fr", "zh"]


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _write(out_dir: str, name: str, columns: dict) -> None:
    pq.write_table(pa.table(columns), os.path.join(out_dir, f"{name}.parquet"))


def star_schema(out_dir: str, seed: int) -> None:
    """Write the ten star-schema tables."""
    rows = STAR_ROWS
    rng = np.random.default_rng([seed % (1 << 64), 1])
    os.makedirs(out_dir, exist_ok=True)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5), i32),
        "r_name": pa.array(REGIONS, s),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array(np.arange(25) % 5, i32),
    })
    n = rows["customer"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "c_acctbal": pa.array(rng.integers(-99_999, 1_000_000, n) / 100.0, f64),
        "c_mktsegment": pa.array(_pick(rng, SEGMENTS, n), s),
    })
    n = rows["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "s_acctbal": pa.array(rng.integers(-99_999, 1_000_000, n) / 100.0, f64),
    })
    n = rows["part"]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n), i64),
        "p_name": pa.array(
            [f"{a} {b}" for a, b in zip(_pick(rng, ADJ, n), _pick(rng, NOUN, n))], s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)], s),
        "p_type": pa.array(_pick(rng, PTYPES, n), s),
        "p_size": pa.array(rng.integers(1, 51, n), i32),
        "p_retailprice": pa.array(900.0 + (np.arange(n) % 1000) / 10.0, f64),
    })
    n_orders = rows["orders"]
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_orders), i64),
        "o_custkey": pa.array(rng.integers(0, rows["customer"], n_orders), i64),
        "o_orderstatus": pa.array(_pick(rng, ["F", "O", "P"], n_orders), s),
        "o_totalprice": pa.array(rng.integers(100_191, 49_999_319, n_orders) / 100.0, f64),
        "o_orderdate": pa.array(
            (D1995 + rng.integers(0, 2405, n_orders) * US_DAY).view("datetime64[us]"),
            pa.timestamp("us")),
        "o_orderpriority": pa.array(_pick(rng, PRIORITIES, n_orders), s),
    })
    n = rows["lineitem"]
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_orders, n), i64),
        "l_partkey": pa.array(rng.integers(0, rows["part"], n), i64),
        "l_suppkey": pa.array(rng.integers(0, rows["supplier"], n), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64), f64),
        "l_extendedprice": pa.array(rng.integers(90_068, 10_499_992, n) / 100.0, f64),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0, f64),
        "l_returnflag": pa.array(_pick(rng, ["A", "N", "R"], n), s),
        "l_linestatus": pa.array(_pick(rng, ["F", "O"], n), s),
        "l_shipdate": pa.array(
            (D1995 + rng.integers(1, 2500, n) * US_DAY).view("datetime64[us]"),
            pa.timestamp("us")),
    })
    n = rows["events"]
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n), i64),
        "ts": pa.array(
            (D2024 + np.sort(rng.integers(0, 30 * US_DAY, n))).view("datetime64[us]"),
            pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, EVENT_USERS, n), i64),
        "event_type": pa.array(_pick(rng, EVENT_TYPES, n), s),
        "value": pa.array(rng.integers(0, 56_022, n) / 100.0, f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], s),
    })
    n = rows["documents"]
    vocab = np.asarray(DOC_VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in rng.integers(10, 101, n)]
    for i in range(max(1, n // 600)):  # a few exact duplicates of early docs
        texts[n - 1 - i] = texts[i]
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(_pick(rng, LANGS, n, p=[0.4, 0.15, 0.15, 0.15, 0.15]), s),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)], s),
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    n = rows["embeddings"]
    emb = rng.normal(0.0, 1.0, (n, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    emb = emb.astype(np.float32)
    emb[1] = emb[0]      # exact duplicate pair
    emb[3] = -emb[2]     # antipodal pair
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), i32),
    })


# --- lab text inputs ---------------------------------------------------------

#: Data lines per lab file, for the five labs the benchmark runs: sized so
#: each lab takes about the same time (near 1 s on 4 vCPUs), which keeps
#: the tail percentile off the edge between two labs' latencies, and so
#: task execution, not job launch, is most of each lab's time.
LAB_LINES = {3: 120_000, 7: 40_000, 9: 50_000, 10: 180_000, 11: 90_000}

LAB_FILES = {3: "lab3_temperature.txt", 7: "lab7_weather.txt", 9: "lab9_tags.txt",
             10: "lab10_books.csv", 11: "lab11_uber.csv"}

TAGS = ["mind-bending", "funny", "quirky", "dark", "classic", "slow", "epic", "sad"]
TITLES = ["Star Wars: Episode V", "Alien", "Heat: Director's Cut", "Up", "Jaws: 2"]
PUBLISHERS = ["Scholastic Inc.", "Signet", "Little, Brown and Company", "Penguin",
              "Farrar, Straus and Giroux", "Vintage"]
BASES = ["B02512", "B02598", "B02617", "B02682", "B02764", "B02765"]


def _dates(rng, n, start="2015-01-01", days=3650):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, days, n)).astype(str)


def _write_lines(path: str, lines, header: str | None = None, bom: bool = False) -> None:
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        if header is not None:
            f.write(("\ufeff" if bom else "") + header + "\n")
        f.write("\n".join(lines))
        f.write("\n")


def lab_texts(out_dir: str, seed: int) -> None:
    """Write the lab input files into ``out_dir``."""
    rng = np.random.default_rng([seed % (1 << 64), 2])
    os.makedirs(out_dir, exist_ok=True)
    p = lambda k: os.path.join(out_dir, LAB_FILES[k])  # noqa: E731

    # lab3: BOM'd header dropped only by the int parse; years kept as strings
    n = LAB_LINES[3]
    years, temps = rng.integers(1900, 2014, n), rng.integers(0, 50, n)
    _write_lines(p(3), [f"{y} {t}" for y, t in zip(years, temps)],
                 header="Year Temperature", bom=True)

    # lab7: date maxtemp mintemp; blank lines; the 30-degree boundary occurs
    n = LAB_LINES[7]
    dates, hi = _dates(rng, n), rng.integers(15, 46, n)
    lines = [f"{d} {h} {h - 10}" for d, h in zip(dates, hi)]
    for i in rng.integers(0, n, n // 50):
        lines[i] = ""
    _write_lines(p(7), lines, header="Date MaxTemp MinTemp")

    # lab9: '::' delimited; titles contain ':' (only fields 1 and 2 are read)
    n = LAB_LINES[9]
    movies = rng.integers(1, 3_000, n)
    tags = _pick(rng, TAGS, n)
    titles = _pick(rng, TITLES, n)
    dates = _dates(rng, n)
    _write_lines(p(9), [f"{i}::{mv}::{t}::{d}::{ti}"
                        for i, (mv, t, d, ti) in enumerate(zip(movies, tags, dates, titles))])

    # lab10: unquoted commas inside the publisher field (after the year)
    n = LAB_LINES[10]
    years = rng.integers(1813, 2008, n)
    pubs = _pick(rng, PUBLISHERS, n)
    _write_lines(
        p(10),
        [f"{9780000000000 + i},Title {i % 1_000},Author {i % 400},{y},{pb}"
         for i, (y, pb) in enumerate(zip(years, pubs))],
        header="ISBN,Book-Title,Book-Author,Year-Of-Publication,Publisher",
    )

    # lab11: base,date,active_vehicles,trips; trips drawn from a narrow range
    # so several bases often share a date's maximum (argmax ties)
    n = LAB_LINES[11]
    bases = _pick(rng, BASES, n)
    dates = np.asarray([f"{mo:02d}-{dd:02d}-2015" for mo, dd in
                        zip(rng.integers(1, 13, n), rng.integers(1, 29, n))])
    trips = rng.integers(1_000, 1_040, n)
    vehicles = rng.integers(100, 400, n)
    _write_lines(p(11), [f"{b},{d},{v},{t}" for b, d, v, t in zip(bases, dates, vehicles, trips)],
                 header="dispatching_base_number,date,active_vehicles,trips")


def ensure_inputs(root: str, seed: int, kind: str) -> str:
    """Generate (once per seed) the input set a workload of ``kind``
    ("lanes" or "labs") reads, and return its directory under
    ``root/seed-<seed>-<digest of this file>``, so an edit to the
    generator never reuses inputs an older version wrote.

    The set is built in a temporary directory and renamed into place, so
    an interrupted run never leaves a half-written set behind.
    """
    with open(__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    final = os.path.join(root, f"seed-{seed}-{version}", STAR_DIR if kind == "lanes" else "labs")
    if not os.path.isdir(final):
        tmp = final + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        (star_schema if kind == "lanes" else lab_texts)(tmp, seed)
        os.replace(tmp, final)
    return final


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit("usage: python3 perfbench/gen.py OUT_DIR SEED")
    for kind in ("lanes", "labs"):
        print(ensure_inputs(sys.argv[1], int(sys.argv[2]), kind))
