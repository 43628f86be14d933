"""`q11_important_stock` agrees with its DuckDB oracle on half cents.

Per-part values are ``sraw / 10000`` currency units, rounded to cents.
Rounding the double ``sraw / 10000.0`` splits the engines exactly on
the half cents (``sraw`` = 50 mod 100): Spark rounds the decimal string
half-up, DuckDB the binary value (``sraw`` = 1450 gave 0.15 and 0.14).
The fixture below makes EVERY part a half cent, ``sraw`` = 50, 150,
..., 399950, and adds one negative part that pulls the 0.2% threshold
itself onto a half cent (-0.005 -> -0.01), so every positive part is
kept and compared.
"""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from hadoop_lab_spark.plans.registry import REGISTRY, load_all_query_modules
from hadoop_lab_spark.sources.tables import table_path
from hadoop_lab_spark.testing import assert_matches_oracle

load_all_query_modules()

_N = 4000
_NATION_7, _SUPPKEY = 7, 1


def _write_fixture(d: str) -> None:
    # sval = price_cents * (100 - discount_pct): price (1 + 2k) cents at
    # 50% discount gives sraw = 50 + 100k for part k. The extra part
    # (price 80002.50 at discount 2.00, so 100 - 200 = -100) brings the
    # total to -25000, a threshold of -0.5 cent.
    prices = [(1 + 2 * k) / 100 for k in range(_N)] + [80002.50]
    discounts = [0.50] * _N + [2.00]
    pq.write_table(pa.table({
        "l_partkey": pa.array(range(_N + 1), pa.int64()),
        "l_suppkey": pa.array([_SUPPKEY] * (_N + 1), pa.int64()),
        "l_extendedprice": pa.array(prices, pa.float64()),
        "l_discount": pa.array(discounts, pa.float64()),
    }), table_path(d, "lineitem"))
    pq.write_table(pa.table({
        "s_suppkey": pa.array([_SUPPKEY], pa.int64()),
        "s_nationkey": pa.array([_NATION_7], pa.int64()),
    }), table_path(d, "supplier"))
    pq.write_table(pa.table({
        "n_nationkey": pa.array([_NATION_7], pa.int64()),
        "n_name": pa.array(["NATION_7"], pa.string()),
    }), table_path(d, "nation"))


@pytest.fixture(scope="module")
def half_cents_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("q11_half_cents"))
    _write_fixture(d)
    return d


def test_every_half_cent_matches_the_oracle(spark, half_cents_dir):
    spec = REGISTRY["q11_important_stock"]
    con = duckdb.connect()
    try:
        for t in ("lineitem", "supplier", "nation"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(half_cents_dir, t + '.parquet')}')")
        df = spec.fn(spark, half_cents_dir)
        assert_matches_oracle(df, con, spec.oracle, name="q11-half-cents")
    finally:
        con.close()
    got = {r.l_partkey: r.value for r in df.collect()}
    assert len(got) == _N  # every positive part clears the -0.01 threshold
    # half cents round away from zero: sraw 1450 -> 0.15, 10050 -> 1.01
    assert got[14] == 0.15 and got[100] == 1.01 and got[0] == 0.01
