"""Hostile-star differential: the lineitem/orders/part twin of the
hostile-events gate (tests/test_hostile_events.py) — the TPC-H money
lanes were the registry's last family never exercised on pathological
input (the sf corpora generate clean cent-valued money, live FKs, and
unique keys).

A hand-built hostile star (every column NULL somewhere, duplicate
primary keys, a full-duplicate row, dangling FKs both directions,
negative money, discounts > 1, zero quantities, empty-string and
unseen enum values, timestamp ties, far-past/far-future dates, unicode
part names, and money values straddling the micro-long fast path's
2**31 branch bound plus a 1e12 jumbo that rides the slow branch) runs
against EVERY batch lane whose source references only these three
tables — discovered, not listed, so new star lanes join automatically.

Float policy (same as the events gate): money/quantity values are
binary-exact multiples of 0.25 — this gate fuzzes structure, NULLs,
keys, and the decimal-accumulation branches, not float ulps; 0.25
multiples are also micro-exact, so the fast and classic sum paths must
agree exactly. Sub-cent/boundary rounding is property-tested in
tests/test_numeric_exact.py.
"""

from __future__ import annotations

import datetime as dt
import inspect
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import duckdb

from hadoop_lab_spark.plans.registry import REGISTRY, load_all_query_modules
from hadoop_lab_spark.session import scoped_conf
from hadoop_lab_spark.testing import assert_matches_oracle

load_all_query_modules()

_ALL_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
_STAR = {
    "lineitem", "orders", "part", "customer", "supplier", "nation", "region",
}


def _star_only_lanes() -> list[str]:
    out = []
    for n, s in sorted(REGISTRY.items()):
        if "streaming" in s.tags:
            continue
        src = inspect.getsource(s.fn)
        tables = {t for t in _ALL_TABLES if f'"{t}"' in src or f"'{t}'" in src}
        if tables and tables <= _STAR:
            out.append(n)
    return out


STAR_LANES = _star_only_lanes()

# 1995 epoch, NOT 2024: several TPC-H lanes carry literal date filters
# (pricing_summary's l_shipdate <= 2000-12-01) and a modern epoch made
# them pass VACUOUSLY on zero rows — which hid the first real finding
# this gate made (the slow-branch decimal-image divergence).
_T0 = dt.datetime(1995, 1, 1)


def _ts(days):
    return None if days is None else _T0 + dt.timedelta(days=days)


#: (l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
#:  l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
#:  ship_days)
LINEITEM = [
    (1, 1, 1, 1, 17.0, 1000.25, 0.05, 0.0, "N", "O", 0.0),
    (1, 2, 1, 2, 17.0, 1000.25, 0.05, 0.0, "N", "O", 0.0),     # dup payload, same order
    (1, 2, 1, 2, 17.0, 1000.25, 0.05, 0.0, "N", "O", 0.0),     # full-duplicate row (dup line number)
    (2, 3, 2, 1, 0.0, 0.0, 0.0, 0.0, "R", "F", 10.0),          # zero money/qty
    (2, 3, None, 2, -4.0, -250.75, 0.25, 0.25, "R", "F", 10.0),  # negative qty+price
    (3, None, 3, 1, 1.0, 2147483647.75, 0.0, 0.0, "A", "F", 400.0),  # just below 2**31 (fast branch)
    (3, 4, 3, 2, 1.0, 2147483648.25, 0.0, 0.0, "A", "F", 400.0),    # just above 2**31 (slow branch)
    (4, 5, 4, 1, 50.0, 1.0e12 + 0.25, 0.5, 0.25, "", "O", -4000.0),  # jumbo money, empty flag, far past
    (7, 6, 5, 1, 3.0, 750.5, 1.0, 0.0, "X", "", 30000.0),      # discount=1, unseen flag, far future (order 7 = BUILDING customer → Q3 shape non-vacuous)
    (5, 6, 5, 2, 3.0, 750.5, 1.25, 0.75, "X", "Q", None),      # discount>1, NULL shipdate
    (6, 7, 6, 1, None, None, None, None, None, None, 5.0),     # all-NULL measures
    (99, 99, 99, 1, 2.0, 10.25, 0.0, 0.0, "N", "O", 5.0),      # dangling l_orderkey/l_partkey
    (None, 1, 1, 1, 2.0, 10.25, 0.0, 0.0, "N", "O", 5.0),      # NULL orderkey
    (7, 8, 7, None, 4.0, 99.75, 0.25, 0.0, "R", "O", 6.0),     # NULL linenumber
    (8, 1, 1, 1, 0.25, 0.25, 0.0, 0.0, "N", "O", 6.0),         # sub-unit qty/price
]

#: (o_orderkey, o_custkey, o_orderstatus, o_totalprice, order_days,
#:  o_orderpriority)
ORDERS = [
    (1, 10, "O", 2000.5, 0.0, "1-URGENT"),
    (2, 10, "F", -250.75, 1.0, "2-HIGH"),         # negative total
    (3, 11, "F", 4294967296.5, 2.0, "3-MEDIUM"),  # above 2**31
    (4, None, "O", 1.0e12 + 0.25, 3.0, ""),       # NULL custkey, empty priority
    (5, 12, "P", 750.5, None, None),              # NULL date + priority
    (5, 12, "P", 750.5, None, None),              # duplicate o_orderkey + payload
    (6, 13, "", 0.0, 4.0, "5-LOW"),               # empty status, zero total
    (7, 13, "O", 2000.5, 5.0, "1-URGENT"),        # totalprice tie with order 1
    (8, None, None, None, -40000.0, "4-NOT SPECIFIED"),  # NULL measures, far past
    (None, 14, "O", 10.25, 6.0, "5-LOW"),         # NULL orderkey
    (10, 14, "O", 10.25, 6.0, "5-LOW"),           # custkey with two orders, no lineitems
]

#: (c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment)
#: Near-duplicate names feed the fuzzy-ER/sorted-neighborhood lanes;
#: custkeys 10-13 line up with ORDERS (13 = BUILDING so the Q3 shape
#: joins through to the far-future lineitems of order 7).
CUSTOMER = [
    (10, "Acme Machining Ltd", 1, 1000.25, "BUILDING"),
    (11, "Acme Machining Ltd.", 2, -50.5, "AUTOMOBILE"),   # near-dup name, negative bal
    (12, "ACME MACHINING LTD", 1, 1000.25, "BUILDING"),    # case twin, bal tie
    (13, "Wayne Enterprises", 2, 2147483648.25, "BUILDING"),  # jumbo bal (slow branch)
    (14, "café corporation \U0001f600", None, 0.0, "MACHINERY"),  # unicode, NULL nation
    (15, "", 99, 0.25, ""),                                # empty strings, dangling nation
    (16, None, 1, None, None),                             # NULL name/bal/segment
    (17, "Wayne Enterprises", 1, -2147483648.25, "HOUSEHOLD"),  # dup name, negative jumbo
    (17, "Wayne Enterprises", 1, -2147483648.25, "HOUSEHOLD"),  # full-duplicate PK row
    (None, "Null Key Holdings", 2, 10.25, "BUILDING"),     # NULL custkey
]

#: (s_suppkey, s_name, s_nationkey, s_acctbal)
#: suppkeys 1-7 line up with LINEITEM's l_suppkey values.
SUPPLIER = [
    (1, "Supplier#000000001", 1, 500.75),
    (2, "Supplier#000000001", 2, 500.75),   # duplicate name + bal tie
    (3, "", None, -0.25),                   # empty name, NULL nation
    (4, None, 99, None),                    # NULL name/bal, dangling nation
    (5, "süpplier unicode", 1, 1.0e12 + 0.25),  # unicode, jumbo bal
    (6, "idle supplier", 2, 0.0),
    (7, "dup key supplier", 1, 10.25),
    (7, "dup key supplier", 1, 10.25),      # full-duplicate PK row
    (None, "null key supplier", 2, 3.25),   # NULL suppkey
]

#: (n_nationkey, n_name, n_regionkey)
NATION = [
    (1, "JAPAN", 1),
    (2, "FRANCE", 2),
    (3, "", 1),          # empty name
    (4, None, 2),        # NULL name
    (5, "ATLANTIS", 99), # dangling region
    (6, "NULLLAND", None),
    (None, "KEYLESS", 1),
    (2, "FRANCE", 2),    # full-duplicate PK row
]

#: (r_regionkey, r_name) — ASIA/EUROPE kept live (revenue_per_nation
#: filters on them).
REGION = [
    (1, "ASIA"),
    (2, "EUROPE"),
    (3, None),
    (None, "GHOST REGION"),
]

#: (p_partkey, p_name, p_brand, p_type, p_size, p_retailprice)
PART = [
    (1, "ivory chocolate rose", "Brand#11", "PROMO PLATED TIN", 7, 901.0),
    (2, "café olé \U0001f600 part", "Brand#11", "PROMO BURNISHED", 7, 901.0),  # unicode, price+size tie
    (3, "", "Brand#22", "STANDARD ANODIZED", 0, 0.0),            # empty name, zero size/price
    (4, None, None, None, None, None),                           # all-NULL attrs
    (5, "the the the the", "Brand#33", "PROMO", 50, -13.25),     # negative price
    (6, "x" * 500, "Brand#33", "ECONOMY BRUSHED NICKEL", 1, 2147483648.25),  # long name, jumbo price
    (7, "dup twin part", "Brand#44", "STANDARD", 3, 55.5),
    (7, "dup twin part", "Brand#44", "STANDARD", 3, 55.5),       # duplicate p_partkey row
    (8, "tab\tseparated name", "Brand#55", "MEDIUM POLISHED", 9, 10.25),
]


def _write_star(directory: str) -> None:
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array([r[0] for r in LINEITEM], pa.int64()),
                "l_partkey": pa.array([r[1] for r in LINEITEM], pa.int64()),
                "l_suppkey": pa.array([r[2] for r in LINEITEM], pa.int64()),
                "l_linenumber": pa.array([r[3] for r in LINEITEM], pa.int32()),
                "l_quantity": pa.array([r[4] for r in LINEITEM], pa.float64()),
                "l_extendedprice": pa.array([r[5] for r in LINEITEM], pa.float64()),
                "l_discount": pa.array([r[6] for r in LINEITEM], pa.float64()),
                "l_tax": pa.array([r[7] for r in LINEITEM], pa.float64()),
                "l_returnflag": pa.array([r[8] for r in LINEITEM], pa.string()),
                "l_linestatus": pa.array([r[9] for r in LINEITEM], pa.string()),
                "l_shipdate": pa.array(
                    [_ts(r[10]) for r in LINEITEM], pa.timestamp("us")
                ),
            }
        ),
        os.path.join(directory, "lineitem.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array([r[0] for r in ORDERS], pa.int64()),
                "o_custkey": pa.array([r[1] for r in ORDERS], pa.int64()),
                "o_orderstatus": pa.array([r[2] for r in ORDERS], pa.string()),
                "o_totalprice": pa.array([r[3] for r in ORDERS], pa.float64()),
                "o_orderdate": pa.array(
                    [_ts(r[4]) for r in ORDERS], pa.timestamp("us")
                ),
                "o_orderpriority": pa.array([r[5] for r in ORDERS], pa.string()),
            }
        ),
        os.path.join(directory, "orders.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "p_partkey": pa.array([r[0] for r in PART], pa.int64()),
                "p_name": pa.array([r[1] for r in PART], pa.string()),
                "p_brand": pa.array([r[2] for r in PART], pa.string()),
                "p_type": pa.array([r[3] for r in PART], pa.string()),
                "p_size": pa.array([r[4] for r in PART], pa.int32()),
                "p_retailprice": pa.array([r[5] for r in PART], pa.float64()),
            }
        ),
        os.path.join(directory, "part.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array([r[0] for r in CUSTOMER], pa.int64()),
                "c_name": pa.array([r[1] for r in CUSTOMER], pa.string()),
                "c_nationkey": pa.array([r[2] for r in CUSTOMER], pa.int32()),
                "c_acctbal": pa.array([r[3] for r in CUSTOMER], pa.float64()),
                "c_mktsegment": pa.array([r[4] for r in CUSTOMER], pa.string()),
            }
        ),
        os.path.join(directory, "customer.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "s_suppkey": pa.array([r[0] for r in SUPPLIER], pa.int64()),
                "s_name": pa.array([r[1] for r in SUPPLIER], pa.string()),
                "s_nationkey": pa.array([r[2] for r in SUPPLIER], pa.int32()),
                "s_acctbal": pa.array([r[3] for r in SUPPLIER], pa.float64()),
            }
        ),
        os.path.join(directory, "supplier.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "n_nationkey": pa.array([r[0] for r in NATION], pa.int32()),
                "n_name": pa.array([r[1] for r in NATION], pa.string()),
                "n_regionkey": pa.array([r[2] for r in NATION], pa.int32()),
            }
        ),
        os.path.join(directory, "nation.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "r_regionkey": pa.array([r[0] for r in REGION], pa.int32()),
                "r_name": pa.array([r[1] for r in REGION], pa.string()),
            }
        ),
        os.path.join(directory, "region.parquet"),
    )


def _con_for(directory: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in sorted(_STAR):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
            f"'{os.path.join(directory, t + '.parquet')}')"
        )
    return con


@pytest.fixture(scope="module")
def hostile_star_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("hostile_star"))
    _write_star(d)
    return d


def test_gate_discovers_the_star_family():
    # Pins the discovery heuristic: if this drops, lanes silently left
    # the gate (e.g. a refactor moved the table name behind a variable).
    # 45 scan/agg lanes on the fact tables + 29 join-heavy lanes once
    # the dims joined the fixture (r7 widening).
    assert len(STAR_LANES) >= 70, STAR_LANES


def test_fixture_reaches_the_money_aggregates(spark, hostile_star_dir):
    """Non-vacuousness pin: the date-filtered flagship must actually
    aggregate hostile rows (incl. the jumbo and branch-straddling
    money) — a fixture/filter drift back to zero rows would silently
    turn this whole gate into a no-op for the money-sum contracts."""
    df = REGISTRY["pricing_summary"].fn(spark, hostile_star_dir)
    rows = df.collect()
    assert len(rows) >= 4, rows
    assert any((r["sum_disc_price"] or 0) > 1e11 for r in rows), rows


@pytest.mark.parametrize("name", STAR_LANES)
def test_lane_survives_hostile_star(spark, hostile_star_dir, name):
    spec = REGISTRY[name]
    df = spec.fn(spark, hostile_star_dir)
    if spec.oracle is None:
        df.count()
        return
    con = _con_for(hostile_star_dir)
    try:
        assert_matches_oracle(df, con, spec.oracle, name=f"hostile-star:{name}")
    finally:
        con.close()


@pytest.mark.parametrize(
    "key, value",
    [
        ("spark.sql.autoBroadcastJoinThreshold", "-1"),
        ("spark.sql.adaptive.enabled", "false"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "false"),
    ],
    ids=["no_broadcast", "aqe_off", "no_coalesce"],
)
def test_q2_zero_quantity_under_plan_freedoms(spark, hostile_star_dir, key, value):
    """The fixture's ``l_quantity = 0.0`` row reaches q2's unit-price
    division under every one of these plans (under the default plan it
    may be pruned first); under ANSI a plain division raised there."""
    spec = REGISTRY["q2_min_cost_supplier"]
    con = _con_for(hostile_star_dir)
    try:
        with scoped_conf(spark, key, value):
            df = spec.fn(spark, hostile_star_dir)
            df.count()
            assert_matches_oracle(df, con, spec.oracle, name="hostile-star:q2")
            assert spark.conf.get(key) == value, "leg overridden — vacuous gate"
    finally:
        con.close()
