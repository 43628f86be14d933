"""Relational extension queries — the surface the reference lacks.

SURVEY.md §2.11: the reference implements no windows, set ops, rollup,
distinct aggregation, semi/anti/outer joins, subqueries, or LIMIT/top-k.
They're native to Spark, so the engine exposes them as first-class,
oracle-checked queries (tracked as extensions, not reference parity).

Cross-engine float policy (registry docstring): multi-row double sums
are rounded to 2dp on both sides; averages to 4dp; comparisons/max/min
and single-row scalar math need no rounding. Deterministic top-k always
carries a unique tie-break key, applied to the ROUNDED measure so both
engines pick the same boundary rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_lab_spark.functions.numeric import (
    exact_round_avg_fast,
    exact_round_sum_fast,
    sql_exact_round_avg_fast,
    sql_exact_round_sum_fast,
)
from hadoop_lab_spark.plans.registry import register
from hadoop_lab_spark.sources import load_table


def _revenue():
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


# ---------------------------------------------------------------------------
# TPC-H Q1 shape: wide multi-aggregate scan
# ---------------------------------------------------------------------------
@register(
    "pricing_summary",
    # Oracle built from the sql twins so both engines carry the SAME
    # micro-long fast-path formula (functions/numeric.py, r7) — the
    # lane and oracle change in lock-step by construction.
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               {sql_exact_round_sum_fast('l_quantity')} AS sum_qty,
               {sql_exact_round_sum_fast('l_extendedprice')} AS sum_base_price,
               {sql_exact_round_sum_fast('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
               {sql_exact_round_sum_fast('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
               {sql_exact_round_avg_fast('l_quantity')} AS avg_qty,
               {sql_exact_round_avg_fast('l_extendedprice')} AS avg_price,
               {sql_exact_round_avg_fast('l_discount')} AS avg_disc,
               count(*)                                                    AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2000-12-01'
        GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1 pricing summary: 8 aggregates over one pruned scan",
    tags=("extension", "aggregate", "tpch"),
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One scan (7 of 11 columns), filter pushed to parquet, partial
    aggregates before the single exchange on (returnflag, linestatus).

    Money sums use the micro-long fast path (VERDICT r6 #3): Spark's
    double→decimal cast goes through Double.toString and was 45% of
    this lane's wall time (PERFORMANCE.md "r7: micro-long fast path");
    the fast addend reaches the same 6dp image through IEEE arithmetic
    + a LONG→DECIMAL repack, keeping exact integer accumulation — the
    r6 layout-invariance contract — at about half the cost. Values are
    bit-identical to exact_round_sum for money-like columns."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp")
    )
    disc_price = _revenue()
    charge = disc_price * (1 + F.col("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        exact_round_sum_fast("l_quantity").alias("sum_qty"),
        exact_round_sum_fast("l_extendedprice").alias("sum_base_price"),
        exact_round_sum_fast(disc_price).alias("sum_disc_price"),
        exact_round_sum_fast(charge).alias("sum_charge"),
        exact_round_avg_fast("l_quantity").alias("avg_qty"),
        exact_round_avg_fast("l_extendedprice").alias("avg_price"),
        exact_round_avg_fast("l_discount").alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


# ---------------------------------------------------------------------------
# Multi-way star join with broadcast dims (TPC-H Q5 shape)
# ---------------------------------------------------------------------------
@register(
    "revenue_per_nation",
    oracle=f"""
        SELECT n_name, {sql_exact_round_sum_fast("l_extendedprice * (1 - l_discount)")} AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey  = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name IN ('ASIA', 'EUROPE')
        GROUP BY n_name
    """,
    doc="star join: lineitem⋈orders⋈customer⋈nation⋈region, revenue per nation",
    tags=("extension", "join", "tpch"),
)
def q_revenue_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join order: fact table joins the customer axis; region/nation are
    broadcast (5/25 rows at ANY scale factor), so the region filter
    prunes customers before the only big shuffle (lineitem⋈orders).
    At 100 TB this is one sort-merge/shuffled-hash join on orderkey plus
    broadcast hash joins — no dim ever shuffles."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice", "l_discount")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name").isin("ASIA", "EUROPE"))

    cust_nation = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "n_name")
    )
    # cust_nation is |customer|-sized — scale-proportional, so no
    # forced broadcast hint (r4 audit): the planner broadcasts it while
    # it fits the threshold and switches to a shuffle join when the
    # customer axis outgrows it. Only the fixed-size region/nation dims
    # keep their hints.
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust_nation, orders.o_custkey == cust_nation.c_custkey)
        .groupBy("n_name")
        .agg(exact_round_sum_fast(_revenue()).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Global deterministic top-k (reference has none — SURVEY §2.6)
# ---------------------------------------------------------------------------
@register(
    "top_customers_by_revenue",
    oracle=f"""
        SELECT c_custkey, revenue
        FROM (
            SELECT o_custkey AS c_custkey,
                   {sql_exact_round_sum_fast('l_extendedprice * (1 - l_discount)')} AS revenue
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_custkey
        )
        ORDER BY revenue DESC, c_custkey ASC
        LIMIT 10
    """,
    doc="global top-10 by revenue; ordered on the rounded measure with a "
    "unique tie-break so both engines select identical boundary rows",
    tags=("extension", "topk", "join"),
)
def q_top_customers_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort+limit compiles to TakeOrderedAndProject — each partition
    keeps its local top-10, the driver merges k·partitions rows; no
    global sort materializes."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice", "l_discount")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(exact_round_sum_fast(_revenue()).alias("revenue"))
    )
    return rev.orderBy(F.col("revenue").desc(), F.col("c_custkey").asc()).limit(10)


# ---------------------------------------------------------------------------
# Window functions: ranked top-k per group
# ---------------------------------------------------------------------------
@register(
    "top_parts_per_brand",
    oracle="""
        SELECT p_brand, p_partkey, p_retailprice, rk
        FROM (
            SELECT p_brand, p_partkey, p_retailprice,
                   row_number() OVER (
                       PARTITION BY p_brand
                       ORDER BY p_retailprice DESC, p_partkey ASC
                   ) AS rk
            FROM part
        )
        WHERE rk <= 3
    """,
    doc="window ranking: top-3 parts by retail price per brand (row_number)",
    tags=("extension", "window"),
)
def q_top_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    win = Window.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey").asc()
    )
    return (
        part.select("p_brand", "p_partkey", "p_retailprice")
        .withColumn("rk", F.row_number().over(win))
        .filter(F.col("rk") <= 3)
    )


@register(
    "cumulative_monthly_revenue",
    oracle=f"""
        -- explicit ROWS frame (the Spark side uses rowsBetween): DuckDB's
        -- DEFAULT frame is RANGE, whose NULL peer group swallows the
        -- whole partition for the NULL-month row — with unique months
        -- ROWS and RANGE are otherwise identical (adversarial finding)
        SELECT month, round(sum(monthly) OVER (
                   ORDER BY month NULLS FIRST
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
            AS cum_revenue
        FROM (
            -- CAST: duckdb's date_trunc('month') yields DATE; Spark yields TIMESTAMP
            SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
                   {sql_exact_round_sum_fast("o_totalprice")} AS monthly
            FROM orders
            WHERE o_orderdate IS NOT NULL
            GROUP BY 1
        )
    """,
    doc="analytic window: running total of monthly order revenue "
    "(inner sums rounded so the cumulative sum is engine-identical; "
    "dateless orders excluded — they belong to no month)",
    tags=("extension", "window"),
)
def q_cumulative_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unbounded-preceding running sum adds identical rounded doubles
    in identical (month) order on both engines → bit-equal results.
    Month count is tiny after the first aggregate, so the single-
    partition window is safe at any SF.

    NULL order dates are filtered BEFORE the monthly aggregate on both
    engines: a running total over time has no defined slot for "no
    time", and (adversarial-rel finding) DuckDB 1.0's window sort places
    a NULL timestamp key inconsistently under NULLS FIRST depending on
    the physical input (inline VALUES honor it; a table scan can land
    the NULL row mid-sequence), so a NULL month cannot be part of a
    stable cross-engine contract at all."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
    monthly = orders.groupBy(F.date_trunc("month", "o_orderdate").alias("month")).agg(
        exact_round_sum_fast("o_totalprice").alias("monthly")
    )
    win = Window.orderBy("month").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return monthly.select(
        "month", F.round(F.sum("monthly").over(win), 2).alias("cum_revenue")
    )


# ---------------------------------------------------------------------------
# Distinct aggregation
# ---------------------------------------------------------------------------
@register(
    "distinct_customers_per_priority",
    oracle="""
        SELECT o_orderpriority,
               count(DISTINCT o_custkey) AS n_customers,
               count(*) AS n_orders
        FROM orders
        GROUP BY o_orderpriority
    """,
    doc="distinct aggregation: unique customers per order priority",
    tags=("extension", "aggregate", "distinct"),
)
def q_distinct_customers_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# Semi / anti joins (subquery shapes)
# ---------------------------------------------------------------------------
@register(
    "customers_without_urgent_orders",
    oracle="""
        SELECT c_mktsegment, count(*) AS cnt
        FROM customer c
        WHERE NOT EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
        )
        GROUP BY c_mktsegment
    """,
    doc="anti join (NOT EXISTS): customers with no urgent order, per segment",
    tags=("extension", "join", "anti"),
)
def q_customers_without_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join probe side deduped before the join (same discipline as
    parts_shipped_semi, r4 scale sweep): NOT EXISTS only needs the key
    set, and distinct(o_custkey) is bounded by |customer| at any order
    volume — the raw filtered-fact projection is not."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    urgent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
        .distinct()
    )
    return (
        cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "parts_shipped_semi",
    oracle="""
        SELECT p_brand, count(*) AS cnt
        FROM part p
        WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
        GROUP BY p_brand
    """,
    doc="semi join (EXISTS): parts that appear in any lineitem, per brand",
    tags=("extension", "join", "semi"),
)
def q_parts_shipped_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The probe side is DEDUPED before the semi join: a semi join only
    needs the key SET, and distinct(l_partkey) is bounded by the part
    domain (|part| keys) no matter how large lineitem grows — without
    it, Spark sizes the raw single-column fact projection under the
    broadcast threshold and builds a fact-sized hash relation on the
    driver (found OOM-ing the 10× scale sweep at 6M lineitem rows under
    a 1 GiB driver; at 100 TB it would be fatal). The distinct is one
    map-side-combined shuffle of ≤|part| rows, and it also gives the
    planner an honest size estimate for the broadcast decision."""
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey").distinct()
    return (
        part.join(li, part.p_partkey == li.l_partkey, "left_semi")
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# ---------------------------------------------------------------------------
# Outer join with null handling
# ---------------------------------------------------------------------------
@register(
    "nation_customer_counts_outer",
    oracle="""
        SELECT n_name, count(c_custkey) AS n_customers
        FROM nation LEFT JOIN customer ON c_nationkey = n_nationkey
        GROUP BY n_name
    """,
    doc="left outer join: customer count per nation, nations with zero kept",
    tags=("extension", "join", "outer"),
)
def q_nation_customer_counts_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    joined = nation.join(cust, cust.c_nationkey == nation.n_nationkey, "left")
    return joined.groupBy("n_name").agg(F.count("c_custkey").alias("n_customers"))


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------
@register(
    "fulfilled_and_pending_customers",
    oracle="""
        SELECT count(*) AS cnt FROM (
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
            INTERSECT
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
        )
    """,
    doc="set op: INTERSECT of customer sets by order status",
    tags=("extension", "setop"),
)
def q_fulfilled_and_pending_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    f_set = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    p_set = orders.filter(F.col("o_orderstatus") == "P").select("o_custkey")
    return f_set.intersect(p_set).agg(F.count(F.lit(1)).alias("cnt"))


@register(
    "only_fulfilled_customers_except",
    oracle="""
        SELECT count(*) AS cnt FROM (
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
            EXCEPT
            SELECT o_custkey FROM orders WHERE o_orderstatus <> 'F'
        )
    """,
    doc="set op: EXCEPT — customers with only fulfilled orders",
    tags=("extension", "setop"),
)
def q_only_fulfilled_customers_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    f_set = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    other = orders.filter(F.col("o_orderstatus") != "F").select("o_custkey")
    # subtract == EXCEPT (set semantics); exceptAll would be EXCEPT ALL.
    return f_set.subtract(other).agg(F.count(F.lit(1)).alias("cnt"))


# ---------------------------------------------------------------------------
# Grouping sets / rollup
# ---------------------------------------------------------------------------
@register(
    "orders_rollup",
    oracle=f"""
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS cnt,
               {sql_exact_round_sum_fast("o_totalprice")} AS total
        FROM orders
        GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    doc="ROLLUP over (status, priority): subtotal and grand-total rows",
    tags=("extension", "rollup"),
)
def q_orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt"),
        exact_round_sum_fast("o_totalprice").alias("total"),
    )


# ---------------------------------------------------------------------------
# Exact percentiles (reference has no math beyond max/sum)
# ---------------------------------------------------------------------------
@register(
    "value_quartiles_per_type",
    oracle="""
        SELECT event_type,
               round(quantile_cont(value, 0.25), 4) AS p25,
               round(quantile_cont(value, 0.50), 4) AS p50,
               round(quantile_cont(value, 0.75), 4) AS p75
        FROM events
        -- NaN excluded on both engines (ADVICE-r3 class): engines
        -- disagree on where NaN sorts inside the interpolation; NULLs
        -- stay (both percentile impls skip them identically)
        WHERE value IS NULL OR NOT isnan(value)
        GROUP BY event_type
    """,
    doc="exact linear-interpolated percentiles per group",
    tags=("extension", "aggregate", "percentile"),
)
def q_value_quartiles_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNull() | ~F.isnan("value")
    )
    return events.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.25)"), 4).alias("p25"),
        F.round(F.expr("percentile(value, 0.50)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.75)"), 4).alias("p75"),
    )


# ---------------------------------------------------------------------------
# Sessionization (lag + gap threshold) — common OLAP pattern
# ---------------------------------------------------------------------------
@register(
    "sessions_per_user",
    oracle="""
        SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions
        FROM (
            SELECT user_id,
                   CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                             IS NULL THEN 1
                        WHEN floor(epoch(ts)) - floor(epoch(lag(ts) OVER (
                             PARTITION BY user_id ORDER BY ts, event_id))) > 3600 THEN 1
                        ELSE 0 END AS new_session
            FROM events
            WHERE ts IS NOT NULL
        )
        GROUP BY user_id
    """,
    doc="sessionization: count sessions per user with a 1h inactivity gap "
    "(lag window + cumulative flag)",
    tags=("extension", "window", "sessionize"),
)
def q_sessions_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's unix_timestamp() truncates each timestamp to whole
    seconds BEFORE subtracting; the oracle mirrors that exactly with
    floor(epoch(ts)) per timestamp (DuckDB epoch() is a fractional
    DOUBLE — un-floored, a gap in (3600, 3601) flips the predicate
    between engines). One shuffle on user_id for the window, one
    aggregate reusing the partitioning. NULL ts is excluded on both
    engines (ADVICE-r3 class): an undated event has no position in an
    inactivity-gap timeline, and NULL window sort keys order
    differently across engines."""
    events = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    win = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(win))
    new_session = F.when(gap.isNull() | (gap > 3600), 1).otherwise(0)
    return (
        events.select("user_id", "ts", "event_id")
        .withColumn("new_session", new_session)
        .groupBy("user_id")
        .agg(F.sum("new_session").cast("long").alias("n_sessions"))
    )


# ---------------------------------------------------------------------------
# CUBE — all grouping-set combinations (extends the ROLLUP query)
# ---------------------------------------------------------------------------
@register(
    "orders_cube",
    oracle="""
        SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS cnt
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="CUBE over (status, priority): every grouping-set combination, "
    "including both one-dimension margins",
    tags=("relational", "grouping-sets"),
)
def q_orders_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt")
    )


# ---------------------------------------------------------------------------
# PIVOT — long→wide conditional aggregation
# ---------------------------------------------------------------------------
@register(
    "pivot_revenue_by_status",
    oracle=f"""
        SELECT o_orderpriority,
               {sql_exact_round_sum_fast("CASE WHEN o_orderstatus = 'F' THEN o_totalprice END")} AS F,
               {sql_exact_round_sum_fast("CASE WHEN o_orderstatus = 'O' THEN o_totalprice END")} AS O,
               {sql_exact_round_sum_fast("CASE WHEN o_orderstatus = 'P' THEN o_totalprice END")} AS P
        FROM orders
        GROUP BY o_orderpriority
    """,
    doc="pivot (long→wide): order revenue per priority with one column per "
    "status — compiles to conditional aggregation, same single-shuffle plan "
    "as the oracle's CASE form",
    tags=("relational", "pivot"),
)
def q_pivot_revenue_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot values are declared explicitly — at 100 TB an implicit pivot
    needs an extra distinct pass to discover columns."""
    orders = load_table(spark, sf_dir, "orders")
    out = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(exact_round_sum_fast("o_totalprice"))
    )
    return out


# ---------------------------------------------------------------------------
# UNION ALL — multi-source concatenation (each lab reads exactly one input)
# ---------------------------------------------------------------------------
@register(
    "union_all_key_activity",
    oracle="""
        SELECT src, CAST(count(*) AS BIGINT) AS cnt, CAST(count(DISTINCT k) AS BIGINT) AS uniq
        FROM (
            SELECT 'order' AS src, o_custkey AS k FROM orders
            UNION ALL
            SELECT 'lineitem' AS src, l_orderkey AS k FROM lineitem
        )
        GROUP BY src
    """,
    doc="UNION ALL across two sources feeding one aggregate (the reference "
    "reads exactly one input per job — SURVEY §2.11)",
    tags=("relational", "set-op"),
)
def q_union_all_key_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        F.lit("order").alias("src"), F.col("o_custkey").alias("k")
    )
    lines = load_table(spark, sf_dir, "lineitem").select(
        F.lit("lineitem").alias("src"), F.col("l_orderkey").alias("k")
    )
    return (
        orders.unionByName(lines)
        .groupBy("src")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.count_distinct(F.col("k")).alias("uniq"),
        )
    )


# ---------------------------------------------------------------------------
# LAG — per-key ordered deltas
# ---------------------------------------------------------------------------
@register(
    "event_value_deltas",
    oracle="""
        SELECT event_id,
               -- NULLS FIRST explicitly on EVERY key: Spark ASC windows
               -- default to it, DuckDB defaults to NULLS LAST — the r5
               -- pin covered ts but left event_id on DuckDB's default,
               -- so a NULL-id row changed lag position between engines
               -- (hostile-events finding). value is the final tiebreak
               -- to make the order TOTAL up to full-duplicate payloads,
               -- for which lag is order-invariant.
               value - lag(value) OVER (
                   PARTITION BY user_id
                   ORDER BY ts NULLS FIRST, event_id NULLS FIRST,
                            value NULLS FIRST) AS delta
        FROM events
    """,
    doc="lag window: per-user event-over-event value delta in timestamp order "
    "(deterministic tie-break on event_id; single subtraction — IEEE-exact)",
    tags=("relational", "window"),
)
def q_event_value_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    # value as the last key makes the order total (see oracle comment);
    # Spark ASC is NULLS FIRST by default on all three.
    win = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc(), F.col("value").asc()
    )
    return events.select(
        "event_id", (F.col("value") - F.lag("value").over(win)).alias("delta")
    )


# ---------------------------------------------------------------------------
# Moving-window frame — 7-row trailing sum over daily revenue
# ---------------------------------------------------------------------------
@register(
    "moving_weekly_revenue",
    oracle="""
        SELECT day,
               -- NULLS FIRST explicitly: Spark windows default to it,
               -- DuckDB defaults to NULLS LAST — an undated row must
               -- occupy the same frame position on both engines
               round(sum(rev) OVER (
                   ORDER BY day NULLS FIRST
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 2)
                   AS rev_7d
        FROM (
            SELECT o_orderdate AS day, sum(o_totalprice) AS rev
            FROM orders GROUP BY 1
        )
    """,
    doc="ROWS frame window: trailing-7-day revenue sum over pre-aggregated "
    "daily totals (the unpartitioned window runs over |days| rows, already "
    "reduced — never over the raw fact table)",
    tags=("relational", "window", "frame"),
)
def q_moving_weekly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum("o_totalprice").alias("rev")
    )
    win = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    return daily.select("day", F.round(F.sum("rev").over(win), 2).alias("rev_7d"))


# ---------------------------------------------------------------------------
# Correlated scalar subquery — decorrelated to a join
# ---------------------------------------------------------------------------
@register(
    "customers_above_nation_avg",
    oracle="""
        SELECT c_nationkey, CAST(count(*) AS BIGINT) AS cnt
        FROM customer c
        WHERE c_acctbal > (
            SELECT avg(c_acctbal) FROM customer i WHERE i.c_nationkey = c.c_nationkey
        )
        GROUP BY c_nationkey
    """,
    doc="correlated scalar subquery (count customers above their nation's "
    "average balance) — expressed as the decorrelated aggregate+join Catalyst "
    "would produce; comparison-only float use needs no rounding",
    tags=("relational", "subquery"),
)
def q_customers_above_nation_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation_avg = cust.groupBy("c_nationkey").agg(F.avg("c_acctbal").alias("_avg"))
    return (
        cust.join(F.broadcast(nation_avg), "c_nationkey")
        .filter(F.col("c_acctbal") > F.col("_avg"))
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# ---------------------------------------------------------------------------
# LIMIT/OFFSET pagination (SURVEY §2.6: absent from the reference)
# ---------------------------------------------------------------------------
@register(
    "orders_page2_by_price",
    oracle="""
        SELECT o_orderkey, round(o_totalprice, 2) AS price
        FROM orders
        ORDER BY round(o_totalprice, 2) DESC, o_orderkey ASC
        LIMIT 10 OFFSET 10
    """,
    doc="deterministic pagination: global ORDER BY (rounded measure + unique "
    "key tie-break) with LIMIT 10 OFFSET 10 — the second page is only "
    "well-defined because the sort is total",
    tags=("relational", "limit", "offset"),
)
def q_orders_page2_by_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global sort + limit plans as TakeOrderedAndProject: each partition
    contributes its local top-(offset+limit), the driver merges — no full
    range-partitioned sort of the table."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            "o_orderkey", F.round("o_totalprice", 2).alias("price")
        )
        .orderBy(F.col("price").desc(), F.col("o_orderkey").asc())
        .offset(10)
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Ranking-window surface: ntile / rank / dense_rank / percent_rank /
# cume_dist / row_number / lead / first_value in ONE window
# ---------------------------------------------------------------------------
@register(
    "order_rank_metrics",
    oracle="""
        SELECT o_orderkey,
               o_orderpriority,
               CAST(ntile(4) OVER w AS INTEGER) AS quartile,
               CAST(rank() OVER w AS BIGINT) AS rnk,
               CAST(dense_rank() OVER w AS BIGINT) AS drnk,
               CAST(row_number() OVER w AS BIGINT) AS rn,
               percent_rank() OVER w AS pct_rank,
               cume_dist() OVER w AS cdist,
               lead(o_orderkey) OVER w AS next_key,
               first_value(o_orderkey) OVER w AS cheapest_key
        FROM orders
        -- NULLS FIRST explicitly on EVERY key (the event_value_deltas
        -- convention): Spark ASC defaults to it, DuckDB to NULLS LAST —
        -- the hostile-star gate caught a NULL o_orderkey changing
        -- lead/first_value positions between engines when only the
        -- price key was pinned.
        WINDOW w AS (PARTITION BY o_orderpriority
                     ORDER BY o_totalprice ASC NULLS FIRST,
                              o_orderkey ASC NULLS FIRST)
    """,
    doc="ranking-window sampler: ntile/rank/dense_rank/row_number/"
    "percent_rank/cume_dist/lead/first_value sharing one window spec "
    "(one shuffle + one sort for all eight)",
    tags=("relational", "window", "rank"),
)
def q_order_rank_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All eight functions share a single WindowSpec, so the plan is ONE
    Exchange on the partition key + ONE sort — Spark evaluates the whole
    batch in a single Window operator pass. The ordering includes the
    unique key, so every rank is deterministic, and percent_rank /
    cume_dist are integer ratios evaluated in one IEEE division —
    bit-identical across engines with no rounding policy."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").asc_nulls_first(),
        F.col("o_orderkey").asc_nulls_first(),
    )
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).alias("quartile"),
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.row_number().over(w).cast("long").alias("rn"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cdist"),
        F.lead("o_orderkey").over(w).alias("next_key"),
        F.first_value("o_orderkey").over(w).alias("cheapest_key"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q3-shaped: segment-filtered 3-way star join, top unshipped revenue
# ---------------------------------------------------------------------------
@register(
    "building_unshipped_top10",
    oracle=f"""
        SELECT l_orderkey,
               {sql_exact_round_sum_fast("l_extendedprice * (1 - l_discount)")} AS revenue,
               o_orderdate
        FROM customer, orders, lineitem
        WHERE c_mktsegment = 'BUILDING'
          AND c_custkey = o_custkey
          AND l_orderkey = o_orderkey
          AND o_orderdate < TIMESTAMP '1998-06-01'
          AND l_shipdate > TIMESTAMP '1998-06-01'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, l_orderkey ASC
        LIMIT 10
    """,
    doc="TPC-H Q3 shape: segment-filtered customer ⨝ orders ⨝ lineitem, "
    "revenue per unshipped order, deterministic top-10",
    tags=("relational", "join", "tpch"),
)
def q_building_unshipped_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic shipping-priority query: both date filters push to the
    parquet scans, the filtered customer side broadcasts, and the final
    top-10 compiles to TakeOrderedAndProject (per-partition top-k merged
    on the driver — no global sort). Tie-break on the unique order key
    keeps LIMIT membership deterministic across engines."""
    cutoff = "1998-06-01"
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # filtered customers are still |customer|/|segments| — unhinted
    # (r4 audit), the planner broadcasts while small
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate")
        .agg(exact_round_sum_fast(rev).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Funnel analysis: signup → subsequent purchases per user
# ---------------------------------------------------------------------------
@register(
    "signup_purchase_funnel",
    oracle="""
        WITH s AS (
            SELECT user_id, min(ts) AS first_signup
            FROM events WHERE event_type = 'signup' GROUP BY user_id
        )
        SELECT s.user_id,
               s.first_signup,
               CAST(count(e.event_id) AS BIGINT) AS purchases_after
        FROM s LEFT JOIN events e
          ON e.user_id = s.user_id
         AND e.event_type = 'purchase'
         AND e.ts >= s.first_signup
        GROUP BY s.user_id, s.first_signup
    """,
    doc="funnel analysis: per user, first signup time and number of purchases "
    "at-or-after it (conversion counting — min-agg + conditional self-join)",
    tags=("relational", "funnel", "join"),
)
def q_signup_purchase_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both sides prune to one event_type at the scan (pushed filters),
    then join on user_id — the fact table is read twice but each read is
    a pushed-down slice, and both shuffles key on the uniform user_id.
    At 100 TB the signup side is a tiny fraction of events; AQE
    broadcasts it when below threshold."""
    events = load_table(spark, sf_dir, "events")
    signups = (
        events.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_signup"))
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"), "event_id"
    )
    joined = signups.join(
        purchases,
        (F.col("p_user") == F.col("user_id")) & (F.col("p_ts") >= F.col("first_signup")),
        "left",
    )
    return joined.groupBy("user_id", "first_signup").agg(
        F.count("event_id").alias("purchases_after")
    )


# ---------------------------------------------------------------------------
# TPC-H Q13 shape: outer-join aggregate distribution
# ---------------------------------------------------------------------------
@register(
    "custorder_distribution",
    oracle="""
        SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        FROM (
            SELECT c.c_custkey,
                   CAST(count(o.o_orderkey) AS BIGINT) AS c_count
            FROM customer c LEFT OUTER JOIN orders o
              ON c.c_custkey = o.o_custkey
            GROUP BY c.c_custkey
        )
        GROUP BY c_count
    """,
    doc="TPC-H Q13 shape: orders-per-customer distribution via left outer "
    "join + two-level aggregation (customers with zero orders included)",
    tags=("relational", "join", "aggregate"),
)
def q_custorder_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The outer join and first aggregate share the c_custkey shuffle key
    (one Exchange feeds both); the second aggregate's domain is |max
    orders per customer| — tiny at any scale, AQE coalesces it. count()
    over the right side's key counts 0 for unmatched customers exactly
    like SQL COUNT(col)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).cast("bigint").alias("custdist")
    )


# ---------------------------------------------------------------------------
# RANGE frame window (value-based, vs. moving_weekly_revenue's ROWS frame)
# ---------------------------------------------------------------------------
@register(
    "range_frame_daily_revenue",
    oracle="""
        SELECT day,
               round(sum(rev) OVER (
                   ORDER BY datediff('day', DATE '1970-01-01', day)
                   RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 2)
                   AS rev_7d_cal
        FROM (
            SELECT o_orderdate AS day, sum(o_totalprice) AS rev
            FROM orders GROUP BY 1
        )
    """,
    doc="RANGE (value-based) window frame: trailing 7 *calendar* days of "
    "revenue — distinct from the ROWS frame (moving_weekly_revenue) "
    "whenever days are missing from the data",
    tags=("relational", "window", "frame"),
)
def q_range_frame_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rangeBetween needs a numeric ORDER BY key: epoch-day via datediff.
    The unpartitioned window runs over pre-aggregated |days| rows
    (bounded at any SF — same justification as the cumulative/moving
    windows). Money sums round to 2dp (cent-exact inputs, registry
    policy)."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum("o_totalprice").alias("rev")
    )
    day_num = F.datediff(F.col("day"), F.lit("1970-01-01"))
    win = Window.orderBy(day_num).rangeBetween(-6, Window.currentRow)
    return daily.select(
        "day", F.round(F.sum("rev").over(win), 2).alias("rev_7d_cal")
    )


# ---------------------------------------------------------------------------
# Promotion revenue share (TPC-H Q14 shape: fact-dim join + conditional agg)
# ---------------------------------------------------------------------------
@register(
    "promo_revenue_share",
    oracle=f"""
        SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS ship_month,
               {sql_exact_round_sum_fast(
                   "CASE WHEN p_type = 'PROMO' "
                   "THEN l_extendedprice * (1 - l_discount) ELSE 0 END")} AS promo_revenue,
               {sql_exact_round_sum_fast('l_extendedprice * (1 - l_discount)')} AS total_revenue,
               CAST(count(*) AS BIGINT) AS n_lines
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate IS NOT NULL
        GROUP BY 1
    """,
    doc="TPC-H Q14 shape: lineitem-part join, promo vs total revenue per "
    "ship month (conditional aggregation over a dimension attribute)",
    tags=("extension", "tpch", "join", "aggregate"),
)
def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-dim join where the dim (part) is orders of magnitude smaller
    than the fact: broadcast it, so the 100 TB lineitem side never
    shuffles — the aggregate is then partial→final on ship_month, a
    low-cardinality uniform key. The promo/total ratio is left to the
    reader instead of being divided here: both numerators are rounded
    money sums (engine-identical), while their quotient would divide
    ACCUMULATED floats — exactly what the float policy rounds away.
    NULL ship dates are excluded as in the other time-series queries.
    Money sums accumulate in exact decimal (functions/numeric.py): the
    double sum's last ulp moved with scan-split layout (caught by
    tests/test_input_layout.py at sf0.001), so the rounded answer was
    layout-dependent."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate").isNotNull())
    part = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # part scales with SF (it's a TPC-H scaled table, not a fixed dim)
    # — unhinted (r4 audit), the planner broadcasts while it fits
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.date_trunc("month", "l_shipdate").alias("ship_month"))
        .agg(
            exact_round_sum_fast(
                F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
            ).alias("promo_revenue"),
            exact_round_sum_fast(rev).alias("total_revenue"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# Referential-integrity audit (data-quality pass over every FK edge)
# ---------------------------------------------------------------------------
@register(
    "referential_integrity_audit",
    oracle="""
        SELECT 'orders.o_custkey->customer' AS fk_edge,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_null_key,
               CAST(sum(CASE WHEN o_custkey IS NOT NULL AND c_custkey IS NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_dangling
        FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        UNION ALL
        SELECT 'lineitem.l_orderkey->orders',
               CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT),
               CAST(sum(CASE WHEN l_orderkey IS NOT NULL AND o_orderkey IS NULL
                             THEN 1 ELSE 0 END) AS BIGINT)
        FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
        UNION ALL
        SELECT 'lineitem.l_partkey->part',
               CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT),
               CAST(sum(CASE WHEN l_partkey IS NOT NULL AND p_partkey IS NULL
                             THEN 1 ELSE 0 END) AS BIGINT)
        FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
        UNION ALL
        SELECT 'customer.c_nationkey->nation',
               CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT),
               CAST(sum(CASE WHEN c_nationkey IS NOT NULL AND n_nationkey IS NULL
                             THEN 1 ELSE 0 END) AS BIGINT)
        FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
    """,
    doc="referential-integrity audit: per FK edge, total rows, NULL keys, "
    "and dangling references (left join + null probe) — the data-quality "
    "gate run before any warehouse load is trusted",
    tags=("extension", "join", "anti", "maintenance"),
)
def q_referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each edge is ONE left join aggregated to three counters — not an
    anti-join per metric (that would scan each fact table twice). The
    dimension sides (customer/part/nation/orders-keys) broadcast when
    small; the fact side never shuffles more than once per edge. At
    100 TB you'd run edges in one job exactly like this union does —
    shared scans, no driver loop."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    c = load_table(spark, sf_dir, "customer")
    p = load_table(spark, sf_dir, "part")
    n = load_table(spark, sf_dir, "nation")

    def audit(fact: DataFrame, fk: str, dim: DataFrame, pk: str, edge: str) -> DataFrame:
        joined = fact.select(fk).join(
            dim.select(pk), F.col(fk) == F.col(pk), "left"
        )
        return joined.agg(
            F.lit(edge).alias("fk_edge"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.when(F.col(fk).isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_null_key"),
            F.sum(
                F.when(F.col(fk).isNotNull() & F.col(pk).isNull(), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_dangling"),
        ).select("fk_edge", "n_rows", "n_null_key", "n_dangling")

    return (
        audit(o, "o_custkey", c, "c_custkey", "orders.o_custkey->customer")
        .unionAll(audit(li, "l_orderkey", o, "o_orderkey", "lineitem.l_orderkey->orders"))
        .unionAll(audit(li, "l_partkey", p, "p_partkey", "lineitem.l_partkey->part"))
        .unionAll(audit(c, "c_nationkey", n, "n_nationkey", "customer.c_nationkey->nation"))
    )


# ---------------------------------------------------------------------------
# Multiset set ops (INTERSECT ALL / EXCEPT ALL — bag, not set, semantics)
# ---------------------------------------------------------------------------
@register(
    "priority_multiset_ops",
    oracle="""
        SELECT 'intersect_all' AS op, o_custkey,
               CAST(count(*) AS BIGINT) AS n
        FROM (
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
            INTERSECT ALL
            SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        )
        GROUP BY o_custkey
        UNION ALL
        SELECT 'except_all', o_custkey, CAST(count(*) AS BIGINT)
        FROM (
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
            EXCEPT ALL
            SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        )
        GROUP BY o_custkey
    """,
    doc="multiset set ops: INTERSECT ALL / EXCEPT ALL preserve per-key "
    "multiplicity min(m,n) / max(m-n,0) — bag semantics the plain "
    "INTERSECT/EXCEPT queries (set semantics) cannot express",
    tags=("extension", "setop", "aggregate"),
)
def q_priority_multiset_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """intersectAll/exceptAll compile to an aggregate computing per-row
    multiplicities then a generate replaying min(m,n)/max(m-n,0) copies
    — one shuffle each on the row value, no join explosion. The output
    re-aggregates to (key, count) so the oracle comparison is
    multiplicity-exact without carrying duplicate rows through the
    driver hash."""
    o = load_table(spark, sf_dir, "orders")
    f_side = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    u_side = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    ia = (
        f_side.intersectAll(u_side)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(F.lit("intersect_all").alias("op"), "o_custkey", "n")
    )
    ea = (
        f_side.exceptAll(u_side)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(F.lit("except_all").alias("op"), "o_custkey", "n")
    )
    return ia.unionAll(ea)


# ---------------------------------------------------------------------------
# NULL-preserving explode (explode_outer vs explode)
# ---------------------------------------------------------------------------
@register(
    "order_priority_tokens_outer",
    oracle="""
        -- LEFT JOIN UNNEST == explode_outer: rows whose array is empty
        -- (or whose source is NULL) survive with a NULL token — the
        -- semantic explode() silently drops
        SELECT o_orderkey, t.tok
        FROM orders
        LEFT JOIN LATERAL (
            SELECT unnest(CASE WHEN o_orderpriority IS NULL
                               OR trim(o_orderpriority) = ''
                               THEN []
                               ELSE string_split(o_orderpriority, '-')
                          END) AS tok
        ) t ON TRUE
    """,
    doc="explode_outer semantics: '-'-split priority tokens with "
    "empty/NULL priorities PRESERVED as (key, NULL) rows — the "
    "left-join-unnest contract plain explode() violates by dropping them",
    tags=("extension", "array", "transform"),
)
def q_order_priority_tokens_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generate(outer=true) in the scan stage — same zero-shuffle cost
    as explode; the difference is purely semantic (dropped vs NULL rows
    for empty inputs). At 100 TB the preserved rows are what lets a
    downstream anti-join find records whose array column was empty —
    with plain explode they vanish from the pipeline silently."""
    o = load_table(spark, sf_dir, "orders")
    toks = F.when(
        F.col("o_orderpriority").isNull()
        | (F.trim("o_orderpriority") == ""),
        F.array().cast("array<string>"),
    ).otherwise(F.split("o_orderpriority", "-"))
    return o.select("o_orderkey", F.explode_outer(toks).alias("tok"))


# ---------------------------------------------------------------------------
# Entity resolution: blocked fuzzy-match of customer names
# ---------------------------------------------------------------------------
@register(
    "customer_name_fuzzy_blocks",
    oracle="""
        WITH keyed AS (
            SELECT c_custkey, c_name,
                   substring(c_name, 1, greatest(length(c_name) - 2, 1)) AS blk
            FROM customer
            WHERE c_name IS NOT NULL
        ),
        pairs AS (
            SELECT a.blk,
                   CAST(count(*) AS BIGINT) AS n_candidates,
                   CAST(sum(CASE WHEN levenshtein(a.c_name, b.c_name) <= 2
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_matches
            FROM keyed a JOIN keyed b
              ON a.blk = b.blk AND a.c_custkey < b.c_custkey
            GROUP BY a.blk
        )
        SELECT blk, n_candidates, n_matches FROM pairs
    """,
    doc="entity resolution: block customer names on their stem (name minus "
    "last 2 chars), verify candidate pairs with levenshtein <= 2 — the "
    "block-then-verify fuzzy-dedup shape, aggregated per block. The "
    "single-key demo: in-block verify is B² wherever a stem is hot, so "
    "the production shape is customer_name_fuzzy_blocks_fine (composite "
    "deletion-neighborhood blocking, sub-blocks bounded by the tail "
    "alphabet)",
    tags=("extension", "join", "string", "dedup", "demo"),
    bench=False,  # priced single-key demo (VERDICT r5 #5): _fine is the
    # production shape; kept registered + oracle-checked for the
    # PERFORMANCE.md blocking-paradigm pricing table
)
def q_customer_name_fuzzy_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical entity-resolution discipline at scale: NEVER
    all-pairs — a cheap blocking key bounds each block's candidate set,
    the expensive verifier (edit distance) runs only within blocks, and
    the self-join shuffles on the block key (uniform by construction
    here; salt hot blocks in the wild). Output is per-block aggregates,
    so result size ∝ blocks, not pairs."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_name").isNotNull())
    blk = F.substring(
        F.col("c_name"), 1, F.greatest(F.length("c_name") - 2, F.lit(1))
    )
    keyed = c.select("c_custkey", "c_name", blk.alias("blk"))
    a = keyed.select(
        F.col("blk"), F.col("c_custkey").alias("k_a"), F.col("c_name").alias("n_a")
    )
    b = keyed.select(
        F.col("blk").alias("blk_b"),
        F.col("c_custkey").alias("k_b"),
        F.col("c_name").alias("n_b"),
    )
    pairs = a.join(
        b, (F.col("blk") == F.col("blk_b")) & (F.col("k_a") < F.col("k_b"))
    )
    return pairs.groupBy("blk").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
        F.sum(
            F.when(F.levenshtein("n_a", "n_b") <= 2, 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_matches"),
    )


@register(
    "customer_name_fuzzy_blocks_fine",
    oracle="""
        WITH keyed AS (
            SELECT c_custkey, c_name,
                   substring(c_name, 1, greatest(length(c_name) - 2, 1)) AS blk
            FROM customer
            WHERE c_name IS NOT NULL
        ),
        variants AS (
            SELECT c_custkey, c_name, blk, 0 AS vid,
                   substring(c_name, 1, greatest(length(c_name) - 1, 1)) AS vkey
            FROM keyed
            UNION ALL
            SELECT c_custkey, c_name, blk, 1 AS vid,
                   blk || substring(c_name, length(c_name), 1) AS vkey
            FROM keyed
        ),
        cand AS (
            SELECT DISTINCT a.blk, a.c_custkey AS ka, b.c_custkey AS kb,
                   a.c_name AS na, b.c_name AS nb
            FROM variants a JOIN variants b
              ON a.vid = b.vid AND a.vkey = b.vkey
                 AND a.c_custkey < b.c_custkey
        )
        SELECT blk,
               CAST(count(*) AS BIGINT) AS n_candidates,
               CAST(sum(CASE WHEN levenshtein(na, nb) <= 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_matches
        FROM cand
        GROUP BY blk
    """,
    doc="entity resolution, composite deletion-neighborhood blocking "
    "(VERDICT r4 #2): two passes — name minus its LAST char, and stem + "
    "last char (i.e. penultimate deleted) — union-distinct candidates, "
    "verify levenshtein <= 2, aggregate per stem block. Each pass key "
    "extends the stem by one tail char, so a hot stem block of size B "
    "subdivides by the tail alphabet (expected B/|alphabet| per "
    "sub-block) and the size-squared verify term collapses; recall trade: "
    "pairs whose names differ in BOTH tail positions are not candidates",
    tags=("extension", "join", "string", "dedup"),
)
def q_customer_name_fuzzy_blocks_fine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale-safe twin of customer_name_fuzzy_blocks. The coarse
    lane's blocks grow with the table wherever a stem is shared (the
    hostile fixture's 30% hot stem makes the in-block verify B²); here
    each blocking pass deletes ONE of the two tail positions the stem
    excludes, so candidates are exactly the pairs differing in a single
    tail position — pigeonhole over the deleted position, the
    symmetric-delete (SymSpell) blocking discipline. Hot-stem candidate
    mass drops from B²/2 to ~B²/|alphabet| while every
    single-substitution near-dup is still found; only double-tail-edit
    pairs (lev = 2 spread across both positions) are traded away, the
    same priced-recall contract as the LSH plane knob. Note the
    VERDICT's literal 'stem+length' suggestion is a no-op on this
    corpus — equal stems already imply equal lengths (stem = name minus
    2 chars) — which is why the composite extends the stem into the
    tail instead. Both passes ride ONE self-join: variants are exploded
    (2 rows/name), the join shuffles on the variant key (uniform even
    under hot stems), and distinct dedups pairs caught by both passes."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_name").isNotNull())
    stem = F.substring(
        F.col("c_name"), 1, F.greatest(F.length("c_name") - 2, F.lit(1))
    )
    drop_last = F.substring(
        F.col("c_name"), 1, F.greatest(F.length("c_name") - 1, F.lit(1))
    )
    last_char = F.substring(F.col("c_name"), F.length("c_name"), F.lit(1))
    keyed = c.select(
        "c_custkey",
        "c_name",
        stem.alias("blk"),
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("vid"), drop_last.alias("vkey")),
                F.struct(
                    F.lit(1).alias("vid"),
                    F.concat(stem, last_char).alias("vkey"),
                ),
            )
        ).alias("v"),
    ).select("c_custkey", "c_name", "blk", "v.vid", "v.vkey")
    a = keyed.select(
        F.col("vid"),
        F.col("vkey"),
        F.col("blk"),
        F.col("c_custkey").alias("ka"),
        F.col("c_name").alias("na"),
    )
    b = keyed.select(
        F.col("vid").alias("vid_b"),
        F.col("vkey").alias("vkey_b"),
        F.col("c_custkey").alias("kb"),
        F.col("c_name").alias("nb"),
    )
    cand = (
        a.join(
            b,
            (F.col("vid") == F.col("vid_b"))
            & (F.col("vkey") == F.col("vkey_b"))
            & (F.col("ka") < F.col("kb")),
        )
        .select("blk", "ka", "kb", "na", "nb")
        .distinct()
    )
    return cand.groupBy("blk").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
        F.sum(F.when(F.levenshtein("na", "nb") <= 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_matches"),
    )


# ---------------------------------------------------------------------------
# Cumulative distinct users (first-seen reduction, not windowed DISTINCT)
# ---------------------------------------------------------------------------
@register(
    "cumulative_distinct_users",
    oracle="""
        WITH first_seen AS (
            SELECT user_id, min(CAST(date_trunc('day', ts) AS TIMESTAMP)) AS d
            FROM events
            WHERE user_id IS NOT NULL AND ts IS NOT NULL
            GROUP BY user_id
        ),
        per_day AS (
            SELECT d, CAST(count(*) AS BIGINT) AS new_users
            FROM first_seen GROUP BY d
        )
        SELECT d, new_users,
               CAST(sum(new_users) OVER (ORDER BY d
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_users
        FROM per_day
    """,
    doc="cumulative distinct users by day: first-seen reduction + running "
    "sum — the scalable form of a windowed COUNT(DISTINCT), which no "
    "engine can evaluate incrementally over an unbounded frame",
    tags=("extension", "window", "distinct", "timeseries"),
)
def q_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A running COUNT(DISTINCT user) is not window-computable without
    keeping every seen key in the frame state; the scalable identity is
    distinct-count(≤ d) == count of users whose FIRST day ≤ d. That
    turns the problem into one groupBy(user) min, one tiny per-day
    count, and a running sum over |days| rows — at 100 TB the only wide
    shuffle is the per-user min (uniform key), and the window runs over
    a day-count-sized frame.

    NULL ts is excluded on both engines (ADVICE r3): an all-NULL-ts
    user would otherwise yield d=NULL, and a NULL window ORDER key is
    exactly the cross-engine sort instability documented in
    cumulative_monthly_revenue."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    first_seen = e.groupBy("user_id").agg(
        F.min(F.date_trunc("day", "ts")).alias("d")
    )
    per_day = first_seen.groupBy("d").agg(
        F.count(F.lit(1)).cast("bigint").alias("new_users")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return per_day.select(
        "d",
        "new_users",
        F.sum("new_users").over(w).cast("bigint").alias("cum_users"),
    )


# ---------------------------------------------------------------------------
# Cohort retention matrix (signup month × activity month)
# ---------------------------------------------------------------------------
@register(
    "user_retention_cohorts",
    oracle="""
        WITH firsts AS (
            SELECT user_id,
                   min(CAST(date_trunc('month', ts) AS TIMESTAMP)) AS cohort_m
            FROM events
            WHERE user_id IS NOT NULL AND ts IS NOT NULL
            GROUP BY user_id
        ),
        activity AS (
            SELECT DISTINCT user_id,
                   CAST(date_trunc('month', ts) AS TIMESTAMP) AS active_m
            FROM events
            WHERE user_id IS NOT NULL AND ts IS NOT NULL
        )
        SELECT f.cohort_m, a.active_m,
               CAST(count(*) AS BIGINT) AS n_users
        FROM firsts f JOIN activity a USING (user_id)
        GROUP BY f.cohort_m, a.active_m
    """,
    doc="cohort retention matrix: users bucketed by first-activity month, "
    "counted in every month they return — the retention heat-map query "
    "behind every growth dashboard",
    tags=("extension", "aggregate", "timeseries", "join"),
)
def q_user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three uniform-key shuffles (per-user min, per-user-month distinct,
    final cohort×month groupBy) and one join on user_id — every stage
    keyed by user or (cohort, month), both unskewed. The cohort table is
    |users| rows; at 100 TB it broadcast-joins onto the distinct
    activity stream if users fit, else shuffles on the same uniform
    key — either way no stage ever holds more than a month-pair count.
    NULL ts is excluded on both engines (ADVICE r3): an all-NULL-ts
    user must not mint a NULL cohort."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    month = F.date_trunc("month", "ts")
    firsts = e.groupBy("user_id").agg(F.min(month).alias("cohort_m"))
    activity = e.select("user_id", month.alias("active_m")).distinct()
    return (
        firsts.join(activity, "user_id")
        .groupBy("cohort_m", "active_m")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    )
