"""Bucketed co-located join: assert the PLAN, not just the result.

The point of bucketing is structural — a fact-fact equi-join on the
bucket key must contain NO Exchange on either side. These tests verify
exactly that by inspecting the physical plan, plus result correctness
against the plain (shuffled) join.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from hadoop_lab_spark.session import scoped_conf
from hadoop_lab_spark.sources.bucketing import read_table, write_bucketed


@pytest.fixture(scope="module")
def bucketed_tables(spark, tmp_path_factory):
    warehouse = str(tmp_path_factory.mktemp("warehouse"))
    orders = spark.range(0, 10_000).select(
        F.col("id").alias("o_orderkey"),
        (F.col("id") % 700).alias("o_custkey"),
        (F.col("id") * 13 % 1000).cast("double").alias("o_total"),
    )
    lines = spark.range(0, 40_000).select(
        (F.col("id") % 10_000).alias("l_orderkey"),
        (F.col("id") % 7).alias("l_linenumber"),
        (F.col("id") * 7 % 500).cast("double").alias("l_price"),
    )
    write_bucketed(orders, "b_orders", ["o_orderkey"], 8, sort_cols=["o_orderkey"])
    write_bucketed(lines, "b_lineitem", ["l_orderkey"], 8, sort_cols=["l_orderkey"])
    yield "b_orders", "b_lineitem"
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_has_no_exchange(spark, bucketed_tables):
    t_orders, t_lines = bucketed_tables
    o = read_table(spark, t_orders)
    l = read_table(spark, t_lines)
    # Disable auto-broadcast so the join would otherwise shuffle both sides.
    with scoped_conf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1"):
        joined = o.join(l, o.o_orderkey == l.l_orderkey).groupBy("o_custkey").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        joined.collect()  # force final AQE plan
        plan = _plan(joined)
        join_part = plan.split("HashAggregate")[-1]  # below the agg: join + scans
        assert "SortMergeJoin" in plan
        # the only exchange allowed is the one ABOVE the join for groupBy;
        # scan sides must read buckets directly
        assert "Exchange" not in join_part, join_part[:2000]
        assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan


def test_bucketed_join_matches_shuffled_join(spark, bucketed_tables):
    t_orders, t_lines = bucketed_tables
    o = read_table(spark, t_orders)
    l = read_table(spark, t_lines)
    bucketed = {
        (r["o_orderkey"], r["l_linenumber"])
        for r in o.join(l, o.o_orderkey == l.l_orderkey)
        .select("o_orderkey", "l_linenumber")
        .collect()
    }
    with scoped_conf(spark, "spark.sql.sources.bucketing.enabled", "false"):
        plain = {
            (r["o_orderkey"], r["l_linenumber"])
            for r in o.join(l, o.o_orderkey == l.l_orderkey)
            .select("o_orderkey", "l_linenumber")
            .collect()
        }
    assert bucketed == plain
