"""Deep TPC-H-shaped analytics — subquery, decorrelation, and
disjunctive-predicate patterns.

SURVEY.md §2.11 extension surface, rounds 4–5: the reference's query
set (and the earlier relational.py lanes) cover scans, star joins,
windows, and set ops; what was still missing is the *subquery* family
every warehouse workload leans on — correlated scalar subqueries
(TPC-H Q17, Q2), scalar-aggregate thresholds (Q15, Q22, Q11),
HAVING-IN shapes (Q18), EXISTS/NOT-EXISTS self-joins (Q21, Q4),
NOT-IN exclusion with distinct counts (Q16), nested IN chains (Q20),
outer-join histograms (Q13), deterministic top-k over joins (Q3, Q10),
conditional-count pivots (Q12), multi-dim profit rollups (Q9), and
multi-band disjunctive predicate pushdown (Q19). Each lane is the
standard TPC-H query re-phrased onto the driver's schema (lineitem has
no commitdate/receiptdate/shipmode, part has no container, and there
is no partsupp table — so Q21/Q4 derive lateness from o_orderdate+Nd,
Q2/Q16 derive the supplier-part relation from lineitem, Q20 measures
dominance over shipped quantity, and Q17/Q19 band on p_size; the
optimizer shapes are unchanged). With Q1 (pricing_summary), Q5
(revenue_per_nation), Q14 (promo_revenue_share) covered by earlier
relational.py lanes and Q6's banded filter-sum subsumed by Q19's
multi-band variant, all 22 TPC-H query SHAPES now have a registered,
oracle-checked representative.

Spark-first decorrelation: Catalyst rewrites none of these for us from
the DataFrame API, so each plan hand-decorrelates the subquery the way
the optimizer would — correlated scalar aggregates become groupBy +
equi-join (scale-proportional, never force-broadcast), global scalar
aggregates become a 1-row broadcast, EXISTS/NOT EXISTS become
left_semi/left_anti with mixed equi + non-equi conditions (still hash
joins on the equi key — the inequality rides along as a join filter).

Cross-engine float policy (registry docstring): double sums rounded to
2dp, ratios/averages to 4dp on both sides. l_quantity is integral, so
its sums/averages are bit-exact in IEEE double on both engines
regardless of accumulation order (each intermediate is an exact
integer < 2^53, and the final avg is one correctly-rounded division).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_lab_spark.functions.numeric import (
    exact_round_avg_fast,
    exact_round_sum_fast,
    exact_sum_double_fast,
    sql_exact_round_avg_fast,
    sql_exact_round_sum_fast,
    sql_exact_sum_double_fast,
)
from hadoop_lab_spark.plans.registry import register
from hadoop_lab_spark.session import tune_session
from hadoop_lab_spark.sources import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    tune_session(spark)
    return load_table(spark, sf_dir, name)


def _revenue():
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


# ---------------------------------------------------------------------------
# TPC-H Q7: volume shipping between two nations
# ---------------------------------------------------------------------------
@register(
    "q7_volume_shipping",
    oracle=f"""
        SELECT supp_nation, cust_nation, l_year,
               {sql_exact_round_sum_fast("volume")} AS revenue
        FROM (
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   CAST(year(l_shipdate) AS BIGINT) AS l_year,
                   l_extendedprice * (1 - l_discount) AS volume
            FROM lineitem
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN orders   ON o_orderkey = l_orderkey
            JOIN customer ON c_custkey = o_custkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
              AND l_shipdate BETWEEN TIMESTAMP '1996-01-01'
                                 AND TIMESTAMP '1997-12-31'
        ) shipping
        GROUP BY supp_nation, cust_nation, l_year
    """,
    doc="TPC-H Q7: revenue flow between two nations per direction per year",
    tags=("extension", "join", "tpch"),
)
def q_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both nation filters are applied BEFORE the fact-table joins: the
    supplier axis shrinks to 2/N nations ahead of the lineitem probe, so
    at 100 TB the only large shuffle is lineitem⋈orders on orderkey.
    The 25-row nation dim broadcasts; the filtered supplier/customer
    maps are scale-proportional, so the planner chooses their strategy."""
    n1, n2 = "NATION_1", "NATION_2"
    nation = _t(spark, sf_dir, "nation").filter(F.col("n_name").isin(n1, n2))
    sup_n = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust_n = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between(
            F.lit("1996-01-01").cast("timestamp"), F.lit("1997-12-31").cast("timestamp")
        )
    ).select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount", "l_shipdate")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        li.join(sup_n, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust_n, F.col("o_custkey") == F.col("c_custkey"))
        .filter(
            ((F.col("supp_nation") == n1) & (F.col("cust_nation") == n2))
            | ((F.col("supp_nation") == n2) & (F.col("cust_nation") == n1))
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(exact_round_sum_fast(_revenue()).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q8: national market share within a region
# ---------------------------------------------------------------------------
@register(
    "q8_market_share",
    oracle=f"""
        SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
               round({sql_exact_sum_double_fast("CASE WHEN n2.n_name = 'NATION_3' THEN l_extendedprice * (1 - l_discount) ELSE 0 END")}
                     / {sql_exact_sum_double_fast("l_extendedprice * (1 - l_discount)")}, 4) AS mkt_share
        FROM lineitem
        JOIN part     ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region    ON n1.n_regionkey = r_regionkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE p_type = 'PROMO' AND r_name = 'ASIA'
        GROUP BY o_year
    """,
    doc="TPC-H Q8: share of PROMO-part revenue in ASIA supplied by one "
    "nation, per order year (conditional-sum ratio over a 7-table join)",
    tags=("extension", "join", "aggregate", "tpch"),
)
def q_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The selective p_type filter prunes the fact table FIRST (Catalyst
    pushes it into the part-side scan); region/nation dims broadcast.
    The numerator rides the same shuffle as the denominator via a
    conditional sum — one aggregation, no second pass over the join."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust_in_region = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    supp_nation = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    vol = _revenue()
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp_nation, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust_in_region, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(
            # exact micros sums -> engine-identical double units
            # (exact_sum_double_fast), ONE further IEEE division
            F.round(
                exact_sum_double_fast(
                    F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(F.lit(0.0))
                )
                / exact_sum_double_fast(vol),
                4,
            ).alias("mkt_share")
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q15: top supplier by quarterly revenue (scalar MAX subquery)
# ---------------------------------------------------------------------------
@register(
    "q15_top_supplier",
    oracle=f"""
        WITH rev AS (
            SELECT l_suppkey,
                   {sql_exact_round_sum_fast("l_extendedprice * (1 - l_discount)")} AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate <  TIMESTAMP '1996-04-01'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, total_revenue
        FROM supplier JOIN rev ON s_suppkey = l_suppkey
        WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
    """,
    doc="TPC-H Q15: supplier(s) with max revenue in one quarter — scalar "
    "MAX subquery decorrelated into a 1-row equi-join",
    tags=("extension", "aggregate", "subquery", "tpch"),
)
def q_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scalar MAX becomes a 1-row aggregate broadcast-EQUI-joined
    back on the rounded revenue value (a BroadcastHashJoin, not a
    nested-loop filter), so the revenue table is scanned once and never
    re-shuffled. Revenue is rounded to 2dp BEFORE the max/equality on
    both engines, making the winner decimal-deterministic. At 100 TB the
    per-supplier aggregate is supplier-cardinality-sized; the 1-row max
    is the only driver-independent global state.

    Deliberate trade: the rev subtree executes twice (once for max, once
    for the join-back) — a repartition pin after the agg is optimized
    away as redundant (same-key partitioning), and forcing reuse by
    repartitioning BEFORE the agg would shuffle the raw quarter slice
    with no map-side combine, strictly more bytes than the second
    pruned+combined scan costs. Both scans are shipdate-row-group-pruned
    and 4-column; this is how the view-referenced-twice Q15 executes in
    most engines."""
    rev = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(exact_round_sum_fast(_revenue()).alias("total_revenue"))
    )
    mx = rev.agg(F.max("total_revenue").alias("total_revenue"))
    best = rev.join(F.broadcast(mx), "total_revenue")
    supplier = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return supplier.join(
        best, F.col("s_suppkey") == F.col("l_suppkey")
    ).select("s_suppkey", "s_name", "total_revenue")


@register(
    "q15_top_supplier_cached",
    oracle=f"""
        WITH rev AS (
            SELECT l_suppkey,
                   {sql_exact_round_sum_fast("l_extendedprice * (1 - l_discount)")} AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate <  TIMESTAMP '1996-04-01'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, total_revenue
        FROM supplier JOIN rev ON s_suppkey = l_suppkey
        WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
    """,
    doc="TPC-H Q15, materialized-view variant: the per-supplier revenue "
    "subtree is persisted once (supplier-cardinality-sized) and both "
    "consumers — the scalar MAX and the join-back — read the cache, so "
    "lineitem is scanned ONCE. The canonical 100 TB shape for a "
    "view-referenced-twice query; the twice-scanned q15_top_supplier "
    "lane prices the alternative",
    tags=("extension", "aggregate", "subquery", "tpch", "cache"),
)
def q_q15_top_supplier_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VERDICT r4 #6: the .persist()-based single-scan Q15. ``rev`` is
    bounded by supplier cardinality at any SF — exactly the table a
    warehouse would materialize for a view its query references twice —
    so caching it trades a few MB of executor memory for the second
    pruned lineitem scan + partial agg. Within the single action the
    InMemoryRelation populates on first use and the second consumer
    reads it back; a long-lived production job would unpersist after
    the action (here the entry stays for Spark's LRU — it is one
    supplier-sized table per run). The plan pin asserts both consumers
    read InMemoryTableScan and only ONE lineitem scan survives."""
    from pyspark import StorageLevel

    rev = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(exact_round_sum_fast(_revenue()).alias("total_revenue"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    mx = rev.agg(F.max("total_revenue").alias("total_revenue"))
    best = rev.join(F.broadcast(mx), "total_revenue")
    supplier = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return supplier.join(
        best, F.col("s_suppkey") == F.col("l_suppkey")
    ).select("s_suppkey", "s_name", "total_revenue")


# ---------------------------------------------------------------------------
# TPC-H Q17: small-quantity-order revenue (correlated scalar AVG subquery)
# ---------------------------------------------------------------------------
@register(
    "q17_small_quantity_orders",
    oracle=f"""
        SELECT round({sql_exact_sum_double_fast("l_extendedprice")}
                     / 7.0, 2) AS avg_yearly
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#1' AND p_size < 15
          AND l_quantity < (
              SELECT 0.2 * avg(l2.l_quantity)
              FROM lineitem l2 WHERE l2.l_partkey = lineitem.l_partkey
          )
    """,
    doc="TPC-H Q17: revenue from orders below 20% of the part's average "
    "quantity — correlated scalar subquery decorrelated to groupBy+join",
    tags=("extension", "subquery", "tpch"),
)
def q_q17_small_quantity_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hand-decorrelation: the per-part average becomes ONE groupBy over
    lineitem equi-joined back on partkey (part-cardinality-sized — the
    planner picks broadcast vs shuffle; no forced hint). l_quantity is
    integral so avg is bit-identical across engines (exact integer sum,
    one correctly-rounded division) — the strict `<` threshold cannot
    flip on accumulation order."""
    li = _t(spark, sf_dir, "lineitem")
    part_f = (
        _t(spark, sf_dir, "part")
        .filter((F.col("p_brand") == "Brand#1") & (F.col("p_size") < 15))
        .select("p_partkey")
    )
    per_part_avg = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_thresh")
    )
    return (
        li.select("l_partkey", "l_quantity", "l_extendedprice")
        .join(part_f, F.col("l_partkey") == F.col("p_partkey"))
        .join(per_part_avg, F.col("l_partkey") == F.col("t_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_thresh"))
        .agg(
            F.round(
                exact_sum_double_fast("l_extendedprice") / F.lit(7.0), 2
            ).alias("avg_yearly")
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q18: large-volume customers (HAVING + IN subquery)
# ---------------------------------------------------------------------------
@register(
    "q18_large_volume_customers",
    oracle="""
        SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
               round(total_qty, 2) AS total_qty
        FROM orders
        JOIN (
            SELECT l_orderkey, sum(l_quantity) AS total_qty
            FROM lineitem GROUP BY l_orderkey
            HAVING sum(l_quantity) > 250
        ) big ON o_orderkey = big.l_orderkey
        JOIN customer ON c_custkey = o_custkey
    """,
    doc="TPC-H Q18: orders whose total quantity exceeds 250, with their "
    "customers — the HAVING-IN shape folded into one aggregation",
    tags=("extension", "aggregate", "subquery", "tpch"),
)
def q_q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic Q18 scans lineitem twice (IN-subquery + outer
    re-aggregation); here the aggregate is computed ONCE and carried
    through the join — the decorrelation Catalyst cannot do from the
    SQL shape. sum(l_quantity) is an exact integer in double on both
    engines, so the >250 boundary is deterministic. The surviving-order
    set is tiny (heavy-hitter tail), so the orders/customer joins
    hash-join against a pruned probe side."""
    big = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("raw_qty"))
        .filter(F.col("raw_qty") > 250)
        .select("l_orderkey", F.round(F.col("raw_qty"), 2).alias("total_qty"))
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        orders.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty")
    )


# ---------------------------------------------------------------------------
# TPC-H Q19: disjunctive multi-band predicate (OR of conjunctions)
# ---------------------------------------------------------------------------
@register(
    "q19_disjunctive_bands",
    oracle=f"""
        SELECT {sql_exact_round_sum_fast("l_extendedprice * (1 - l_discount)")} AS revenue,
               count(*) AS n_lines
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 30
               AND l_quantity BETWEEN 20 AND 30)
    """,
    doc="TPC-H Q19: revenue under an OR of three brand/size/quantity "
    "conjunction bands — the disjunctive-pushdown stress shape",
    tags=("extension", "join", "tpch"),
)
def q_q19_disjunctive_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalyst factors the common conjuncts out of the OR: the
    lineitem-side l_quantity range (1..30 hull) and the part-side
    brand/size hull both push into their scans BEFORE the join, so at
    100 TB the join probes only band-plausible rows; the exact
    three-band predicate re-applies post-join."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    band = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(1, 11)
    ) | (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(1, 20)
        & F.col("l_quantity").between(10, 20)
    ) | (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(1, 30)
        & F.col("l_quantity").between(20, 30)
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .filter(band)
        .agg(
            exact_round_sum_fast(_revenue()).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q21 (adapted): suppliers solely responsible for late orders
# ---------------------------------------------------------------------------
@register(
    "q21_lone_late_supplier",
    oracle="""
        SELECT s_name, count(*) AS numwait
        FROM lineitem l1
        JOIN orders   ON o_orderkey = l1.l_orderkey
        JOIN supplier ON s_suppkey = l1.l_suppkey
        WHERE o_orderstatus = 'F'
          AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
          AND EXISTS (
              SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey
          )
          AND NOT EXISTS (
              SELECT 1 FROM lineitem l3
              WHERE l3.l_orderkey = l1.l_orderkey
                AND l3.l_suppkey <> l1.l_suppkey
                AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY
          )
        GROUP BY s_name
    """,
    doc="TPC-H Q21 on this schema (lateness = shipped >60d after order "
    "date): per supplier, late lines on finished multi-supplier orders "
    "where NO other supplier shipped late — EXISTS + NOT EXISTS self-joins",
    tags=("extension", "join", "subquery", "tpch"),
)
def q_q21_lone_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS → left_semi, NOT EXISTS → left_anti, both hash joins on
    the orderkey equi-key with the supplier inequality riding as a join
    condition. The late-line set is computed ONCE (lineitem⋈orders) and
    reused as both the outer side and the NOT-EXISTS probe — at 100 TB
    that is one orderkey shuffle amortized across all three roles, and
    the semi/anti probes are co-partitioned with it."""
    lines = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderstatus")
    late = (
        lines.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select("l_orderkey", "l_suppkey", "o_orderstatus")
    )
    l1 = late.filter(F.col("o_orderstatus") == "F").select("l_orderkey", "l_suppkey")
    other_lines = lines.select(
        F.col("l_orderkey").alias("o2_orderkey"), F.col("l_suppkey").alias("o2_suppkey")
    )
    other_late = late.select(
        F.col("l_orderkey").alias("o3_orderkey"), F.col("l_suppkey").alias("o3_suppkey")
    )
    waiting = (
        l1.join(
            other_lines,
            (F.col("l_orderkey") == F.col("o2_orderkey"))
            & (F.col("l_suppkey") != F.col("o2_suppkey")),
            "left_semi",
        ).join(
            other_late,
            (F.col("l_orderkey") == F.col("o3_orderkey"))
            & (F.col("l_suppkey") != F.col("o3_suppkey")),
            "left_anti",
        )
    )
    supplier = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        waiting.join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q22 (adapted): high-balance customers gone idle
# ---------------------------------------------------------------------------
@register(
    "q22_idle_rich_customers",
    oracle=f"""
        SELECT c_mktsegment, count(*) AS numcust,
               {sql_exact_round_sum_fast("c_acctbal")} AS totacctbal
        FROM customer
        WHERE c_acctbal > (
              SELECT {sql_exact_round_avg_fast("c_acctbal")} FROM customer WHERE c_acctbal > 0
          )
          AND NOT EXISTS (
              SELECT 1 FROM orders
              WHERE o_custkey = c_custkey
                AND o_orderdate >= TIMESTAMP '2001-01-01'
          )
        GROUP BY c_mktsegment
    """,
    doc="TPC-H Q22 on this schema (segment instead of phone country "
    "code): above-average-balance customers with no order in the final "
    "year — global scalar-AVG threshold + NOT-EXISTS anti join",
    tags=("extension", "subquery", "tpch"),
)
def q_q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The global average is a 1-row aggregate broadcast onto the
    customer scan (the only sanctioned nested-loop shape — bounded by
    construction); the NOT EXISTS is a left_anti hash join against the
    date-pruned orders slice. The threshold is rounded to 4dp on BOTH
    engines before the strict `>` so a last-ulp accumulation difference
    cannot flip a boundary customer."""
    cust = _t(spark, sf_dir, "customer")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        exact_round_avg_fast("c_acctbal").alias("avg_bal")
    )
    recent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            exact_round_sum_fast("c_acctbal").alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q2 (adapted): minimum-cost supplier, multi-key join-back
# ---------------------------------------------------------------------------
@register(
    "q2_min_cost_supplier",
    oracle="""
        WITH offers AS (
            SELECT l_partkey, l_suppkey,
                   min(l_extendedprice / nullif(l_quantity, 0)) AS offer
            FROM lineitem GROUP BY l_partkey, l_suppkey
        ),
        eu AS (
            SELECT s_suppkey, s_name, s_acctbal, n_name
            FROM supplier
            JOIN nation ON n_nationkey = s_nationkey
            JOIN region ON r_regionkey = n_regionkey
            WHERE r_name = 'EUROPE'
        )
        SELECT s_acctbal, s_name, n_name, p_partkey,
               round(offer, 4) AS offer
        FROM part
        JOIN offers ON l_partkey = p_partkey
        JOIN eu ON s_suppkey = l_suppkey
        WHERE p_size < 8 AND p_type = 'ECONOMY'
          AND offer = (
              SELECT min(o2.offer)
              FROM offers o2 JOIN eu e2 ON e2.s_suppkey = o2.l_suppkey
              WHERE o2.l_partkey = p_partkey
          )
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        LIMIT 100
    """,
    doc="TPC-H Q2 on this schema (supply cost derived from lineitem unit "
    "prices; no partsupp table ships): for small ECONOMY parts, the "
    "EUROPE supplier(s) whose best unit price equals the part's regional "
    "minimum — correlated MIN subquery with a multi-key (partkey, cost) "
    "join-back, top-100 by account balance",
    tags=("extension", "subquery", "join", "tpch"),
)
def q_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Q2 decorrelation: the correlated MIN becomes a groupBy over
    the region-filtered offer table, equi-joined back on BOTH the
    correlation key (partkey) and the min value itself — the multi-key
    join-back VERDICT r4 #4 names. The min rides the RAW division
    (each offer is one IEEE division of identical doubles on both
    engines, so min-equality cannot flip on accumulation order);
    rounding happens only at output. A zero quantity yields no offer
    (``nullif``, the same on both engines): under ANSI a plain division
    raises on it, and whether it did depended on whether the session's
    plan had pruned that row first. The offer table aggregates
    lineitem down to (part, supplier) cardinality BEFORE any dim join,
    and the dim side (EUROPE suppliers) is broadcast-sized at every SF:
    at 100 TB the one big shuffle is the offers groupBy, reused by both
    the min subtree and the join-back probe."""
    li = _t(spark, sf_dir, "lineitem")
    offers = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.nullif("l_quantity", F.lit(0))).alias("offer")
    )
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu = (
        _t(spark, sf_dir, "supplier")
        .join(nation, F.col("n_nationkey") == F.col("s_nationkey"))
        .join(region, F.col("r_regionkey") == F.col("n_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    eu_offers = offers.join(eu, F.col("s_suppkey") == F.col("l_suppkey"))
    min_offer = eu_offers.groupBy(F.col("l_partkey").alias("m_partkey")).agg(
        F.min("offer").alias("min_offer")
    )
    parts = (
        _t(spark, sf_dir, "part")
        .filter((F.col("p_size") < 8) & (F.col("p_type") == "ECONOMY"))
        .select("p_partkey")
    )
    return (
        eu_offers.join(parts, F.col("l_partkey") == F.col("p_partkey"))
        .join(
            min_offer,
            (F.col("l_partkey") == F.col("m_partkey"))
            & (F.col("offer") == F.col("min_offer")),
        )
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            F.round("offer", 4).alias("offer"),
        )
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )


# ---------------------------------------------------------------------------
# TPC-H Q4: order priority checking (correlated EXISTS over a date slice)
# ---------------------------------------------------------------------------
@register(
    "q4_priority_checking",
    oracle="""
        SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate < TIMESTAMP '1997-04-01'
          AND EXISTS (
              SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 45 DAY
          )
        GROUP BY o_orderpriority
    """,
    doc="TPC-H Q4 on this schema (lateness = shipped >45d after order "
    "date; no commitdate/receiptdate ship): per order priority, orders "
    "in one quarter with at least one late line — the correlated-EXISTS "
    "shape as a left_semi hash join whose non-equi lateness predicate "
    "rides the equi join",
    tags=("extension", "subquery", "tpch"),
)
def q_q4_priority_checking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS → left_semi on the orderkey equi-key; the correlated
    inequality (l_shipdate > o_orderdate + 45d) references both sides,
    so it rides the hash join as a residual condition instead of
    forcing a nested loop. The quarter filter prunes the probe side at
    the scan, and the semi join emits each order at most once — no
    post-join distinct, no row explosion from multi-line orders."""
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    )
    lines = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late_exists = orders.join(
        lines,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 45 DAYS")),
        "left_semi",
    )
    return late_exists.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("order_count")
    )


# ---------------------------------------------------------------------------
# TPC-H Q11 (adapted): important part stock (HAVING > fraction of global sum)
# ---------------------------------------------------------------------------
@register(
    "q11_important_stock",
    oracle="""
        WITH n7 AS (
            SELECT l_partkey,
                   CAST(round(l_extendedprice * 100, 0)
                        * (100 - round(l_discount * 100, 0)) AS BIGINT) AS sval
            FROM lineitem
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN nation ON n_nationkey = s_nationkey
            WHERE n_name = 'NATION_7'
        ),
        per_part AS (
            SELECT l_partkey, sum(sval) AS sraw FROM n7 GROUP BY l_partkey
        )
        SELECT l_partkey, round(sraw / 10000.0, 2) AS value
        FROM per_part
        WHERE round(sraw / 10000.0, 2) > (
            SELECT round(sum(sraw) * 0.002 / 10000.0, 2) FROM per_part
        )
    """,
    doc="TPC-H Q11 on this schema (part value from lineitem revenue "
    "through NATION_7 suppliers; no partsupp ships): parts whose value "
    "exceeds 0.2% of the nation's total — group-by HAVING against a "
    "global scalar-aggregate subquery, with the total derived FROM the "
    "per-part aggregate so the fact slice is scanned once",
    tags=("extension", "subquery", "aggregate", "tpch"),
)
def q_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The global total is derived from the per-part aggregate (sum of
    the part sums), NOT from a second pass over the fact slice — so
    both the HAVING threshold and the output values hang off ONE
    lineitem scan + ONE partkey exchange, which AQE then stitches into
    a ReusedExchange between the two consumers (pinned execute-first in
    tests/test_plan_shapes.py, the CMS discipline). Nested summation is
    only engine-safe because revenue rides the q9 exact-integer policy:
    each row's value is the true scaled integer (cent-exact inputs),
    so per-part sums and the sum-of-sums are order-independent BIGINTs
    and both engines round the bit-identical double at the very end.
    (With raw doubles, sum-of-sums vs DuckDB's flat subquery sum could
    disagree in the last ulp exactly at a rounding boundary.) The 1-row
    threshold broadcasts onto the per-part rows — bounded by
    construction."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(
            _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7"),
            F.col("n_nationkey") == F.col("s_nationkey"),
        )
        .select("s_suppkey")
    )
    sval = (
        F.round(F.col("l_extendedprice") * 100, 0)
        * (100 - F.round(F.col("l_discount") * 100, 0))
    ).cast("bigint")
    n7 = li.join(supp, F.col("l_suppkey") == F.col("s_suppkey")).select(
        "l_partkey", sval.alias("sval")
    )
    per_part = n7.groupBy("l_partkey").agg(F.sum("sval").alias("sraw"))
    total = per_part.agg(
        F.round(F.sum("sraw") * 0.002 / 10000.0, 2).alias("thresh")
    )
    return (
        per_part.join(F.broadcast(total))
        .filter(F.round(F.col("sraw") / 10000.0, 2) > F.col("thresh"))
        .select(
            "l_partkey", F.round(F.col("sraw") / 10000.0, 2).alias("value")
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q13: customer order-count distribution (outer-join histogram)
# ---------------------------------------------------------------------------
@register(
    "q13_customer_distribution",
    oracle="""
        SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        FROM (
            SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
            FROM customer
            LEFT JOIN orders
              ON c_custkey = o_custkey
                 AND o_orderpriority <> '5-LOW'
            GROUP BY c_custkey
        ) c_orders
        GROUP BY c_count
    """,
    doc="TPC-H Q13 on this schema (priority filter stands in for the "
    "comment NOT LIKE; orders has no comment column): distribution of "
    "customers by their non-LOW order count, INCLUDING zero-order "
    "customers — the left-outer-join histogram whose inner-join twin "
    "silently drops the empty bucket",
    tags=("extension", "join", "aggregate", "tpch"),
)
def q_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ON-clause predicate on the inner side filters orders BEFORE
    the outer join (filter-then-left-join — the only placement that
    preserves zero-order customers; a WHERE after the join would turn
    it into an inner join). count(o_orderkey) counts matches only
    (NULL-skipping), so the no-match customers land in the c_count=0
    bucket. Two shuffles total — custkey join, then the histogram
    groupBy over customer-cardinality rows, second stage collapsing to
    at most max-order-count rows via map-side partial aggregation."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "5-LOW")
        .select("o_custkey", "o_orderkey")
    )
    per_cust = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).cast("bigint").alias("custdist")
    )


# ---------------------------------------------------------------------------
# TPC-H Q20 (adapted): dominant suppliers of a part family (IN -> semi chain)
# ---------------------------------------------------------------------------
@register(
    "q20_dominant_suppliers",
    oracle="""
        WITH sp AS (
            SELECT l_suppkey, l_partkey, sum(l_quantity) AS qty
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1999-01-01'
              AND l_shipdate < TIMESTAMP '2000-01-01'
              AND l_partkey IN (
                  SELECT p_partkey FROM part WHERE p_name LIKE 'red%'
              )
            GROUP BY l_suppkey, l_partkey
        ),
        tot AS (SELECT l_partkey, sum(qty) AS total_qty FROM sp GROUP BY l_partkey)
        SELECT s_name, round(s_acctbal, 2) AS s_acctbal
        FROM supplier
        WHERE s_suppkey IN (
              SELECT sp.l_suppkey FROM sp
              JOIN tot ON tot.l_partkey = sp.l_partkey
              WHERE sp.qty > 0.5 * tot.total_qty
          )
          AND s_nationkey IN (
              SELECT n_nationkey FROM nation WHERE n_regionkey IN (
                  SELECT r_regionkey FROM region WHERE r_name = 'ASIA'
              )
          )
    """,
    doc="TPC-H Q20 on this schema (dominance over shipped quantity; no "
    "partsupp availqty ships): ASIA suppliers who shipped more than half "
    "of some red part's 1999 volume — the nested IN -> IN -> IN chain "
    "flattened to left_semi joins feeding a 0.5x-sum quantity threshold",
    tags=("extension", "subquery", "join", "tpch"),
)
def q_q20_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each IN collapses to a left_semi hash join (never a distinct +
    inner join — semi emits the outer row once regardless of match
    multiplicity): parts-IN prunes lineitem at the scan side, the
    dominance check joins the per-(supplier, part) aggregate to the
    per-part total on the SAME partkey shuffle, and the supplier-IN
    probes supplier with the bounded dominant-supplier set. Quantities
    are integral, so qty > 0.5 * total is exact in IEEE double on both
    engines. The nation/region chain stays broadcast-sized at any SF."""
    red_parts = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1999-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("2000-01-01").cast("timestamp"))
        )
        .join(red_parts, F.col("l_partkey") == F.col("p_partkey"), "left_semi")
    )
    sp = li.groupBy("l_suppkey", "l_partkey").agg(F.sum("l_quantity").alias("qty"))
    tot = sp.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        F.sum("qty").alias("total_qty")
    )
    dominant = (
        sp.join(tot, F.col("l_partkey") == F.col("t_partkey"))
        .filter(F.col("qty") > 0.5 * F.col("total_qty"))
        .select("l_suppkey")
    )
    asia_nations = (
        _t(spark, sf_dir, "nation")
        .join(
            _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"),
            F.col("r_regionkey") == F.col("n_regionkey"),
            "left_semi",
        )
        .select("n_nationkey")
    )
    return (
        _t(spark, sf_dir, "supplier")
        .join(dominant, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .join(asia_nations, F.col("s_nationkey") == F.col("n_nationkey"), "left_semi")
        .select("s_name", F.round("s_acctbal", 2).alias("s_acctbal"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q3: shipping-priority top-k (join + agg + deterministic top-10)
# ---------------------------------------------------------------------------
@register(
    "q3_shipping_priority",
    oracle=f"""
        SELECT l_orderkey,
               {sql_exact_round_sum_fast("l_extendedprice * (1 - l_discount)")} AS revenue,
               o_orderdate, o_orderpriority
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-06-01'
          AND l_shipdate > TIMESTAMP '1998-06-01'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, o_orderdate, l_orderkey
        LIMIT 10
    """,
    doc="TPC-H Q3 on this schema (orderpriority stands in for the "
    "unshipped shippriority column): top-10 highest-revenue BUILDING-"
    "segment orders placed before but shipped after the cutoff — the "
    "join + aggregate + deterministic top-k shape",
    tags=("extension", "join", "aggregate", "topk", "tpch"),
)
def q_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both date predicates push to their scans (complementary pruning:
    orders BEFORE the cutoff, lineitem shipped AFTER it), the segment
    filter prunes the customer build side, and the top-10 is a
    TakeOrderedAndProject over rounded revenue — ordering on the 2dp
    value with (date, orderkey) tiebreaks, so cross-engine last-ulp sum
    differences cannot reorder the cut. One shuffle: the (orderkey,
    date, priority) aggregate; no global sort materializes."""
    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < F.lit("1998-06-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    )
    lines = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > F.lit("1998-06-01").cast("timestamp"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    return (
        lines.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(exact_round_sum_fast(_revenue()).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# TPC-H Q9 (adapted): product-family profit by nation and year
# ---------------------------------------------------------------------------
@register(
    "q9_product_profit",
    oracle="""
        SELECT n_name AS nation,
               CAST(year(o_orderdate) AS INTEGER) AS o_year,
               round(sum(CAST(round(l_extendedprice * 100, 0)
                              * (100 - round(l_discount * 100, 0))
                              - 50 * round(p_retailprice * 100, 0) * l_quantity
                              AS BIGINT)) / 10000.0, 2) AS profit
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation ON n_nationkey = s_nationkey
        JOIN orders ON o_orderkey = l_orderkey
        WHERE p_name LIKE '%widget%'
        GROUP BY n_name, year(o_orderdate)
    """,
    doc="TPC-H Q9 on this schema (cost proxy 0.5 x retailprice x qty; no "
    "partsupp supplycost ships): widget-family profit per supplier "
    "nation per order year — the 5-table star join feeding a two-level "
    "rollup key",
    tags=("extension", "join", "aggregate", "tpch"),
)
def q_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Q9 plan discipline: the part-name filter prunes the ONLY
    scale-growing build side (part) before the fact join; supplier and
    nation broadcast at any SF; orders joins on the already
    part-filtered lineitem slice. One fact shuffle for the final
    (nation, year) aggregate — 25 nations x a handful of years, so the
    result is dim-bounded.

    Float policy, stricter than round-after-sum: the profit mixes 4dp
    revenue with 0.005-granularity cost terms, so a group sum CAN land
    exactly on a .005 rounding boundary where accumulation order flips
    round(·, 2) (it did at sf0.001: 219973.625). Each row's profit is
    therefore computed as an EXACT scaled integer (cents x cents —
    inputs are cent-exact, so round(x*100) reconstructs the true
    integer), summed as BIGINT (order-independent), and divided once at
    output — both engines round the bit-identical double."""
    part_f = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%widget%"))
        .select("p_partkey", "p_retailprice")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice", "l_discount",
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    ext100 = F.round(F.col("l_extendedprice") * 100, 0)
    disc100 = F.round(F.col("l_discount") * 100, 0)
    ret100 = F.round(F.col("p_retailprice") * 100, 0)
    scaled = (
        ext100 * (100 - disc100) - 50 * ret100 * F.col("l_quantity")
    ).cast("bigint")
    return (
        li.join(part_f, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(nation, F.col("n_nationkey") == F.col("s_nationkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(
            F.round(F.sum(scaled) / F.lit(10000.0), 2).alias("profit")
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q10: returned-item losers (multi-table join + top-20 customers)
# ---------------------------------------------------------------------------
@register(
    "q10_returned_items",
    oracle=f"""
        SELECT c_custkey, c_name,
               {sql_exact_round_sum_fast("l_extendedprice * (1 - l_discount)")} AS revenue,
               round(c_acctbal, 2) AS c_acctbal, n_name
        FROM customer
        JOIN orders ON o_custkey = c_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN nation ON n_nationkey = c_nationkey
        WHERE o_orderdate >= TIMESTAMP '1998-01-01'
          AND o_orderdate < TIMESTAMP '1998-07-01'
          AND l_returnflag = 'R'
        GROUP BY c_custkey, c_name, c_acctbal, n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """,
    doc="TPC-H Q10: customers who returned the most revenue in one "
    "half-year — returnflag + date predicates pushed to both fact "
    "scans, customer-grain aggregate, deterministic top-20",
    tags=("extension", "join", "aggregate", "topk", "tpch"),
)
def q_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-lineitem revenue aggregates FIRST at order grain riding
    the orderkey join, then at customer grain — but since each order
    belongs to one customer, a single customer-grain aggregate after
    the join is the same shuffle count; the plan keeps one fact shuffle
    (the groupBy) with both filters pushed to scans. Top-20 is
    TakeOrderedAndProject on 2dp-rounded revenue with the custkey
    tiebreak (cross-engine-stable ordering)."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-07-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    lines = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        lines.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .join(nation, F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(exact_round_sum_fast(_revenue()).alias("revenue"))
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.round("c_acctbal", 2).alias("c_acctbal"),
            "n_name",
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# TPC-H Q12 (adapted): late lines by status, priority-conditional counts
# ---------------------------------------------------------------------------
@register(
    "q12_priority_by_status",
    oracle="""
        SELECT l_linestatus,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM orders
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
          AND l_shipdate >= TIMESTAMP '1998-01-01'
          AND l_shipdate < TIMESTAMP '1999-01-01'
        GROUP BY l_linestatus
    """,
    doc="TPC-H Q12 on this schema (linestatus stands in for the "
    "unshipped shipmode column; lateness = shipped >60d after order "
    "date): per line status, conditional counts of high- vs "
    "low-priority late lines — the CASE-inside-SUM pivot-style "
    "aggregation over a fact join",
    tags=("extension", "aggregate", "join", "tpch"),
)
def q_q12_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The conditional counts fold BOTH output columns into ONE pass
    over the joined rows (sum of CASE — never two filtered joins), the
    ship-date year bounds push into the lineitem scan, and the
    cross-table lateness inequality rides the orderkey hash join as a
    residual. Output is status-cardinality rows off one fact shuffle
    with map-side partial aggregation."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lines = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
        )
        .select("l_orderkey", "l_shipdate", "l_linestatus")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        lines.join(
            orders,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        )
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("bigint").alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q16 (adapted): supplier diversity per part group, minus excluded set
# ---------------------------------------------------------------------------
@register(
    "q16_parts_supplier_diversity",
    oracle="""
        SELECT p_brand, p_size,
               CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        WHERE p_brand <> 'Brand#3'
          AND p_size IN (1, 4, 9, 16, 25)
          AND l_suppkey NOT IN (
              SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
          )
        GROUP BY p_brand, p_size
    """,
    doc="TPC-H Q16 on this schema (supplier-part relation from lineitem; "
    "negative account balance stands in for the complaints comment "
    "filter): distinct supplier count per (brand, size) for selected "
    "part groups, excluding blacklisted suppliers — NOT-IN anti join "
    "feeding a COUNT(DISTINCT) grouping",
    tags=("extension", "join", "distinct", "aggregate", "tpch"),
)
def q_q16_parts_supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN collapses to a left_anti hash join against the (bounded,
    broadcastable) blacklist — safe here because s_suppkey is never
    NULL; a nullable NOT-IN column would need the three-valued-logic
    guard. The distinct-count runs as Spark's two-phase partial
    aggregation (dedup on (brand, size, suppkey) map-side, then count)
    — one logical fact shuffle, no distinct-induced second pass over
    raw rows. Part filters (brand <>, size IN) push to the part scan
    before the fact join."""
    part_f = (
        _t(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#3")
            & (F.col("p_size").isin(1, 4, 9, 16, 25))
        )
        .select("p_partkey", "p_brand", "p_size")
    )
    blacklist = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(part_f, F.col("l_partkey") == F.col("p_partkey"))
        .join(blacklist, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
    )
