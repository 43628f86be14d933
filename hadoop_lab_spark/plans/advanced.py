"""Advanced extension queries: as-of join, deterministic sampling,
salted aggregation, scalar-function surface, JSON extraction.

These round out SURVEY §2.11 (categories the reference lacks entirely)
with the operators a real analytics engine must have; each has a full
DuckDB oracle. Scale notes live on the operator docstrings
(operators/asof.py, operators/sampling.py).
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_lab_spark.operators import (
    asof_join_backward,
    collect_per_group_salted,
    deterministic_sample,
)
from hadoop_lab_spark.operators.sampling import hash_bucket
from hadoop_lab_spark.functions.numeric import (
    exact_round_sum_fast,
    nan_excluded,
    sql_exact_round_sum_fast,
)
from hadoop_lab_spark.plans.registry import register
from hadoop_lab_spark.sources import load_table


def _scratch_tag(spark: SparkSession, sf_dir: str) -> str:
    """Per-(session, sf_dir) token for storage-demo scratch paths and
    catalog table names. Keying only on sf_dir raced concurrent runs
    (bench + pytest overwriting a directory the other was mid-read on —
    ADVICE r2); the applicationId is unique per SparkSession."""
    app = spark.sparkContext.applicationId.replace("-", "")[-12:]
    return hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8] + "_" + app


# ---------------------------------------------------------------------------
# As-of (temporal) join
# ---------------------------------------------------------------------------
@register(
    "asof_purchase_last_signup",
    oracle="""
        SELECT p.event_id, p.user_id, p.ts,
               l.event_id AS signup_event_id, l.ts AS signup_ts
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') l
          ON p.user_id = l.user_id AND p.ts >= l.ts
    """,
    doc="as-of backward join: each purchase paired with the user's most recent "
    "signup at-or-before it (union-sort plan, no range-join row explosion)",
    tags=("advanced", "asof", "join"),
)
def q_asof_purchase_last_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    signups = events.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("event_id"), F.col("ts")
    )
    joined = asof_join_backward(
        purchases, signups, keys="user_id", left_ts="ts", right_ts="ts"
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        F.col("r_event_id").alias("signup_event_id"),
        F.col("r_ts").alias("signup_ts"),
    )


# ---------------------------------------------------------------------------
# Deterministic (hash-bucket) sampling
# ---------------------------------------------------------------------------
_HEXPAIR = (
    "((instr('0123456789abcdef', substring(md5(CAST({k} AS VARCHAR)), 1, 1)) - 1) * 16"
    " + (instr('0123456789abcdef', substring(md5(CAST({k} AS VARCHAR)), 2, 1)) - 1))"
)


@register(
    "sampled_orders_per_priority",
    oracle=f"""
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS cnt,
               {sql_exact_round_sum_fast("o_totalprice")} AS sum_price
        FROM orders
        WHERE {_HEXPAIR.format(k="o_orderkey")} % 256 < 64
        GROUP BY o_orderpriority
    """,
    doc="deterministic 25% sample (md5 hash-bucket on the key — stable across "
    "engines, partitionings and reruns) + aggregate; df.sample() can't do this",
    tags=("advanced", "sampling", "aggregate"),
)
def q_sampled_orders_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    sampled = deterministic_sample(orders, "o_orderkey", keep_buckets=64)
    return sampled.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt"),
        exact_round_sum_fast("o_totalprice").alias("sum_price"),
    )


# ---------------------------------------------------------------------------
# Salted (skew-safe) collect — result identical to the plain collect
# ---------------------------------------------------------------------------
@register(
    "salted_collect_types_per_user",
    oracle="""
        SELECT user_id,
               string_agg(event_type, ', ' ORDER BY event_type) AS collected
        FROM events
        GROUP BY user_id
    """,
    doc="two-level salted collect (hot-key escape hatch, SURVEY §7.3.5): "
    "level 1 collects per (key, salt), level 2 merges — result provably equals "
    "the unsalted sorted collect",
    tags=("advanced", "skew", "collect"),
)
def q_salted_collect_types_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salt on event_id, not the value: event_type is a 5-value enum, so
    value-hash salting gives at most 5 effective sub-groups per key and
    the hot-key bound silently degrades to |key|/5 (r4 skew-stress
    finding). event_id is row-unique → true |key|/buckets level-1 bound,
    asserted on a hostile fixture in tests/test_skew_stress.py."""
    events = load_table(spark, sf_dir, "events")
    return collect_per_group_salted(
        events, "user_id", "event_type", buckets=16, salt_on="event_id"
    )


# ---------------------------------------------------------------------------
# Scalar function surface (date / math / string in one pass)
# ---------------------------------------------------------------------------
@register(
    "scalar_function_sampler",
    oracle="""
        SELECT o_orderkey,
               CAST(year(o_orderdate) AS INTEGER) AS y,
               CAST(month(o_orderdate) AS INTEGER) AS m,
               CAST(day(o_orderdate) AS INTEGER) AS d,
               CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS plus30,
               last_day(o_orderdate) AS eom,
               CAST(date_diff('day', DATE '2024-01-01', o_orderdate) AS INTEGER)
                   AS days_since,
               abs(o_totalprice - 100000.0) AS abs_dev,
               floor(o_totalprice) AS price_floor,
               ceil(o_totalprice) AS price_ceil,
               sqrt(greatest(o_totalprice, 0)) AS price_sqrt,
               CAST(o_orderkey % 97 AS BIGINT) AS key_mod,
               CAST(sign(o_totalprice - 150000.0) AS DOUBLE) AS price_sign,
               upper(o_orderpriority) AS prio_upper,
               lower(o_orderstatus) AS status_lower,
               length(o_orderpriority) AS prio_len,
               substring(o_orderpriority, 1, 1) AS prio_head,
               replace(o_orderpriority, '-', '_') AS prio_repl,
               -- || not concat(): DuckDB's concat() SKIPS null arguments
               -- where Spark's concat propagates NULL; || propagates on
               -- both engines (adversarial-corpus finding)
               (o_orderstatus || '#' || o_orderpriority) AS tag,
               lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS key_pad,
               reverse(o_orderstatus) AS status_rev
        FROM orders
    """,
    doc="scalar-function parity sampler: 20 date/math/string built-ins in one "
    "codegen stage, every one matching the oracle bit-for-bit",
    tags=("advanced", "functions"),
)
def q_scalar_function_sampler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All single-op, exactly-defined scalars — no rounding policy
    needed: identical inputs give identical outputs per function. sqrt
    is IEEE correctly-rounded and therefore safe; ln/exp are NOT (libm
    vs JVM differ in the last ulp) and are deliberately excluded from
    the oracle-checked surface."""
    o = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(d).alias("y"),
        F.month(d).alias("m"),
        F.dayofmonth(d).alias("d"),
        F.date_add(d, 30).alias("plus30"),
        F.last_day(d).alias("eom"),
        F.datediff(d, F.lit("2024-01-01").cast("date")).alias("days_since"),
        F.abs(F.col("o_totalprice") - 100000.0).alias("abs_dev"),
        F.floor("o_totalprice").cast("double").alias("price_floor"),
        F.ceil("o_totalprice").cast("double").alias("price_ceil"),
        F.sqrt(F.greatest(F.col("o_totalprice"), F.lit(0.0))).alias("price_sqrt"),
        (F.col("o_orderkey") % 97).alias("key_mod"),
        F.signum(F.col("o_totalprice") - 150000.0).alias("price_sign"),
        F.upper("o_orderpriority").alias("prio_upper"),
        F.lower("o_orderstatus").alias("status_lower"),
        F.length("o_orderpriority").alias("prio_len"),
        F.substring("o_orderpriority", 1, 1).alias("prio_head"),
        F.replace(F.col("o_orderpriority"), F.lit("-"), F.lit("_")).alias("prio_repl"),
        F.concat(F.col("o_orderstatus"), F.lit("#"), F.col("o_orderpriority")).alias("tag"),
        F.lpad(F.col("o_orderkey").cast("string"), 12, "0").alias("key_pad"),
        F.reverse(F.col("o_orderstatus")).alias("status_rev"),
    )


# ---------------------------------------------------------------------------
# JSON extraction
# ---------------------------------------------------------------------------
@register(
    "json_extract_sum",
    oracle="""
        -- Hostile-props contract (tests/test_fuzz_differential.py): a k
        -- that is malformed JSON or not integer-formatted is NULL on
        -- BOTH engines. The nested CASE is required: DuckDB's ->> errors
        -- on invalid JSON, and its TRY_CAST('1.5' AS INT) ROUNDS to 2
        -- where Spark's try_cast yields NULL — the regex pins the
        -- integer-literal-only contract. The regex mirrors Spark's
        -- try_cast string→int grammar exactly (ADVICE r6): Spark trims
        -- surrounding whitespace and accepts a leading '+', so a quoted
        -- "+5" or " 5" must yield 5 here too (DuckDB TRY_CAST also
        -- trims and accepts the sign — the regex only needs to ADMIT
        -- those forms, the cast semantics already agree).
        SELECT event_type,
               CAST(sum(k) AS BIGINT) AS sum_k,
               CAST(max(k) AS INTEGER) AS max_k
        FROM (
            SELECT event_type,
                   TRY_CAST(CASE WHEN json_valid(props) THEN
                       (CASE WHEN props->>'$.k' ~ '^\\s*[+-]?[0-9]+\\s*$'
                             THEN props->>'$.k' END)
                   END AS INT) AS k
            FROM events
        )
        GROUP BY event_type
    """,
    doc="JSON path extraction from a string column (get_json_object) feeding "
    "an aggregate — the semi-structured column pattern",
    tags=("advanced", "json", "aggregate"),
)
def q_json_extract_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    # try_cast, not cast: a non-integer k ('1.5', 'true', a nested
    # object) must become NULL, not crash the job under ANSI mode.
    k = F.get_json_object("props", "$.k").try_cast("int")
    return events.groupBy("event_type").agg(
        F.sum(k).cast("long").alias("sum_k"), F.max(k).alias("max_k")
    )


# ---------------------------------------------------------------------------
# Approximate aggregates — accuracy-contract oracle
# ---------------------------------------------------------------------------
@register(
    "approx_distinct_accuracy",
    oracle="""
        SELECT o_orderpriority,
               CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_uniq,
               TRUE AS within_5pct
        FROM orders
        GROUP BY o_orderpriority
    """,
    doc="approximate distinct count (HyperLogLog++) with an accuracy CONTRACT "
    "as the oracle: the query returns exact counts plus a boolean asserting "
    "|approx-exact|/exact <= 5%; the oracle expects TRUE, so sketch drift "
    "fails the differential",
    tags=("advanced", "approx", "aggregate"),
)
def q_approx_distinct_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The approx value itself is engine-specific (HLL internals), so it
    can't be hash-compared — but its error bound CAN be. At 100 TB
    approx_count_distinct is the difference between one pass with a
    16KB sketch per group and a full distinct shuffle.

    Zero-distinct guard (hostile-star finding): a group whose key
    column is all-NULL has exact_uniq = 0 and the ratio divides by
    zero — a DIVIDE_BY_ZERO job-killer under ANSI (the corr() class
    from the adversarial-corpus round). The contract for such groups
    is approx == 0 (an empty HLL must report nothing)."""
    orders = load_table(spark, sf_dir, "orders")
    agg = orders.groupBy("o_orderpriority").agg(
        F.count_distinct("o_custkey").alias("exact_uniq"),
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("_approx"),
    )
    within = F.when(F.col("exact_uniq") == 0, F.col("_approx") == 0).otherwise(
        F.abs(F.col("_approx") - F.col("exact_uniq")) / F.col("exact_uniq") <= 0.05
    )
    return agg.select("o_orderpriority", "exact_uniq", within.alias("within_5pct"))


# ---------------------------------------------------------------------------
# Scalar function surface v2 (regex / JSON-schema / array / map / string)
# ---------------------------------------------------------------------------
@register(
    "scalar_function_sampler2",
    oracle="""
        SELECT event_id,
               -- Mirrors Spark's PERMISSIVE from_json(k INT): malformed
               -- JSON, a quoted "12", a float 1.5, or an INT-overflowing
               -- literal all yield NULL. json_extract keeps the RAW json
               -- repr (quotes included) so the regex can reject exactly
               -- what Jackson rejects for an INT field; the nested CASE
               -- keeps DuckDB's json parser off invalid input.
               TRY_CAST(CASE WHEN json_valid(props) THEN
                   (CASE WHEN CAST(json_extract(props, '$.k') AS VARCHAR)
                              ~ '^-?[0-9]+$'
                         THEN CAST(json_extract(props, '$.k') AS VARCHAR) END)
               END AS INT) AS json_k,
               map(['et'], [event_type])['et'][1] AS map_et,
               array_to_string(list_sort(['z', event_type, 'a']), ',') AS arr_sorted,
               CAST(levenshtein(event_type, 'purchase') AS INTEGER) AS lev,
               regexp_extract(event_type, '([aeiou]+)', 1) AS vowels,
               regexp_replace(event_type, '[aeiou]', '*', 'g') AS starred,
               left(event_type, 3) AS head3,
               right(event_type, 2) AS tail2,
               repeat(event_type, 2) AS doubled,
               translate(event_type, 'aeiou', 'AEIOU') AS upvowel,
               CAST(instr(event_type, 'e') AS BIGINT) AS pos_e,
               contains(event_type, 'ick') AS has_ick,
               starts_with(event_type, 'p') AS p_start,
               str_split(event_type, 'u')[1] AS first_seg,
               CAST(bit_count(event_id) AS INTEGER) AS key_bits,
               CAST(hour(ts) AS INTEGER) AS h,
               CAST(minute(ts) AS INTEGER) AS mi,
               greatest(value, 50.0) AS hi,
               least(value, 50.0) AS lo
        FROM events
    """,
    doc="scalar-function parity sampler v2: schema'd from_json, map/array "
    "constructors, regexp_extract/replace, levenshtein, and 10 more string/"
    "date built-ins in one codegen stage",
    tags=("advanced", "functions"),
)
def q_scalar_function_sampler2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second sampler (VERDICT r01 #5): the semi-structured + regex +
    collection-constructor surface. All single-op exact scalars — no
    float policy needed (greatest/least select, never accumulate).
    DuckDB unwraps its map access with [1] because map extraction yields
    a list there; Spark map access is already scalar."""
    e = load_table(spark, sf_dir, "events")
    et = F.col("event_type")
    return e.select(
        "event_id",
        F.from_json("props", "k INT").getField("k").alias("json_k"),
        F.map_from_arrays(F.array(F.lit("et")), F.array(et))[F.lit("et")].alias("map_et"),
        F.array_join(F.array_sort(F.array(F.lit("z"), et, F.lit("a"))), ",").alias(
            "arr_sorted"
        ),
        F.levenshtein(et, F.lit("purchase")).alias("lev"),
        F.regexp_extract(et, "([aeiou]+)", 1).alias("vowels"),
        F.regexp_replace(et, "[aeiou]", "*").alias("starred"),
        F.left(et, F.lit(3)).alias("head3"),
        F.right(et, F.lit(2)).alias("tail2"),
        F.repeat(et, 2).alias("doubled"),
        F.translate(et, "aeiou", "AEIOU").alias("upvowel"),
        F.instr(et, "e").cast("long").alias("pos_e"),
        et.contains("ick").alias("has_ick"),
        et.startswith("p").alias("p_start"),
        F.split(et, "u").getItem(0).alias("first_seg"),
        F.bit_count("event_id").alias("key_bits"),
        F.hour("ts").alias("h"),
        F.minute("ts").alias("mi"),
        F.greatest("value", F.lit(50.0)).alias("hi"),
        F.least("value", F.lit(50.0)).alias("lo"),
    )


# ---------------------------------------------------------------------------
# Partition pruning over a partitioned parquet layout
# ---------------------------------------------------------------------------
@register(
    "partitioned_scan_prune",
    oracle=f"""
        SELECT o_orderstatus,
               CAST(count(*) AS BIGINT) AS cnt,
               {sql_exact_round_sum_fast("o_totalprice")} AS sum_price
        FROM orders
        WHERE o_orderpriority = '1-URGENT'
        GROUP BY o_orderstatus
    """,
    doc="hive-style partitioned write + pruned read: orders partitioned by "
    "priority on disk, the filter becomes a PartitionFilter (directory "
    "pruning — non-matching partitions are never opened)",
    tags=("advanced", "partitioning", "storage"),
)
def q_partitioned_scan_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At 100 TB, partition pruning is the difference between reading one
    directory and reading the lake: the predicate is satisfied from
    FILE PATHS, so pruned partitions cost zero I/O (tests/
    test_plan_shapes.py pins `PartitionFilters` in the scan node).
    The demo writes the partitioned layout to scratch space each run —
    the write is part of the measured operator (a real pipeline pays it
    once at ingest)."""
    orders = load_table(spark, sf_dir, "orders")
    sf_tag = _scratch_tag(spark, sf_dir)
    out = os.path.join(tempfile.gettempdir(), f"hls_partition_demo_{sf_tag}")
    orders.write.partitionBy("o_orderpriority").mode("overwrite").parquet(out)
    # Explicit schema on read-back: skips the inference listing pass AND
    # keeps the lane total on an empty input batch (a dynamic-partition
    # write of 0 rows produces no part files, so inference has nothing
    # to read and raises UNABLE_TO_INFER_SCHEMA).
    pruned = (
        spark.read.schema(orders.schema)
        .parquet(out)
        .filter(F.col("o_orderpriority") == "1-URGENT")
    )
    return pruned.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("cnt"),
        exact_round_sum_fast("o_totalprice").alias("sum_price"),
    )


# ---------------------------------------------------------------------------
# Skew-safe salted JOIN (the join twin of the salted collect)
# ---------------------------------------------------------------------------
@register(
    "skew_salted_join",
    oracle="""
        -- NaN excluded on both engines (ADVICE-r3 class): a NaN value
        -- poisons avg() into NaN, which Spark's floor() maps to 0 while
        -- DuckDB's floor() keeps NaN — the threshold then diverges
        WITH ev AS (
            SELECT * FROM events WHERE value IS NULL OR NOT isnan(value)
        ),
        d AS (
            SELECT event_type,
                   floor(avg(value) * 1000000) / 1000000 AS type_avg
            FROM ev GROUP BY event_type
        )
        SELECT e.event_type,
               CAST(count(*) AS BIGINT) AS cnt,
               CAST(count(*) FILTER (e.value > d.type_avg) AS BIGINT) AS cnt_above
        FROM ev e JOIN d USING (event_type)
        GROUP BY e.event_type
    """,
    doc="salted equi-join for skewed keys: the dim side is replicated across "
    "16 salt values and the fact side salted deterministically, so one hot "
    "key spreads over 16 tasks; result provably equals the unsalted join",
    tags=("advanced", "skew", "join"),
)
def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """event_type has 5 values over 10⁴·SF rows — a worst-case skewed
    join key. The unsalted join would put entire key-partitions on
    single tasks; salting bounds any task at |key|/16. (AQE's runtime
    skew split solves the same problem reactively when partitions
    exceed its threshold; salting is the deterministic, planning-time
    form that also works under AQE-off and for collect-style aggs.)
    The salt is a deterministic hash of event_id, so the query stays
    reproducible and oracle-checkable — the oracle runs the UNSALTED
    join, proving result equality. NaN values excluded on both engines
    (see oracle comment)."""
    buckets = 16
    e = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNull() | ~F.isnan("value")
    )
    dim = e.groupBy("event_type").agg(
        (F.floor(F.avg("value") * 1_000_000) / 1_000_000).alias("type_avg")
    )
    dim_rep = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(buckets - 1)))
    )
    # md5(NULL) is NULL, and a NULL salt would silently DROP NULL-keyed
    # fact rows from the inner join (the unsalted join keeps them — a
    # wrong answer, caught by the hostile-events differential). NULL keys
    # land deterministically in bucket 0; if NULL itself were the hot key
    # the salt source should be a coalesce over a second column instead.
    fact = e.withColumn(
        "_salt", F.coalesce(hash_bucket(F.col("event_id"), buckets), F.lit(0))
    )
    joined = fact.join(dim_rep, ["event_type", "_salt"])
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.count(F.when(F.col("value") > F.col("type_avg"), 1)).cast("long").alias(
            "cnt_above"
        ),
    )


# ---------------------------------------------------------------------------
# Approximate percentile — accuracy-contract oracle (HLL pattern)
# ---------------------------------------------------------------------------
@register(
    "approx_percentile_accuracy",
    oracle="""
        SELECT l_returnflag,
               round(quantile_cont(l_extendedprice, 0.5), 4) AS exact_median,
               TRUE AS within_1pct
        FROM lineitem
        GROUP BY l_returnflag
    """,
    doc="approximate percentile with an accuracy CONTRACT as the oracle: "
    "exact interpolated median per group plus a boolean asserting the "
    "approx_percentile sketch lands within 1% — sketch drift fails the "
    "differential",
    tags=("advanced", "approx", "percentile"),
)
def q_approx_percentile_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same pattern as approx_distinct_accuracy: the sketch value is
    engine-specific, its error bound is not. At 100 TB approx_percentile
    (a KLL-style mergeable sketch) is one pass + tiny state per group;
    the exact interpolated percentile is a full sort per group — the
    exact side is here AS the contract, production ships the sketch."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.5)").alias("_exact"),
        F.expr("approx_percentile(l_extendedprice, 0.5, 10000)").alias("_approx"),
        F.count("l_extendedprice").alias("_n"),
    )
    # The sketch's guarantee is on RANK, not value: on a sparse group the
    # returned order statistic can be arbitrarily far from the
    # INTERPOLATED median (2 elements 100/300 → exact 200, approx 100 —
    # adversarial finding), so the value contract only binds for n >= 100
    # where adjacent order statistics are close.
    within = (F.col("_n") < 100) | (
        F.abs(F.col("_approx") - F.col("_exact")) / F.col("_exact") <= 0.01
    )
    return agg.select(
        "l_returnflag",
        F.round("_exact", 4).alias("exact_median"),
        within.alias("within_1pct"),
    )


# ---------------------------------------------------------------------------
# ORC round-trip (second columnar format beside parquet)
# ---------------------------------------------------------------------------
@register(
    "orc_roundtrip_supplier",
    oracle=f"""
        SELECT s_nationkey,
               CAST(count(*) AS BIGINT) AS cnt,
               {sql_exact_round_sum_fast("s_acctbal")} AS bal_sum
        FROM supplier
        GROUP BY s_nationkey
    """,
    doc="ORC sink + source fidelity: supplier written to ORC, read back, "
    "aggregated — values must survive the round-trip bit-for-bit (oracle "
    "reads the original parquet)",
    tags=("advanced", "storage", "orc"),
)
def q_orc_roundtrip_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC is the second first-class columnar format (Hive ecosystems):
    same pushdown/pruning machinery as parquet in Spark's DSv1 path.
    The oracle aggregates the ORIGINAL parquet, so any round-trip value
    corruption (type coercion, precision loss) fails the hash gate."""
    sup = load_table(spark, sf_dir, "supplier")
    sf_tag = _scratch_tag(spark, sf_dir)
    out = os.path.join(tempfile.gettempdir(), f"hls_orc_demo_{sf_tag}")
    sup.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return back.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("cnt"),
        exact_round_sum_fast("s_acctbal").alias("bal_sum"),
    )


# ---------------------------------------------------------------------------
# Range (interval) join — rewritten as a bucket equi-join
# ---------------------------------------------------------------------------
@register(
    "range_join_value_bands",
    oracle=f"""
        WITH bands AS (
            SELECT CAST(i AS INTEGER) AS band_id,
                   i * 50.0 AS lo, (i + 1) * 50.0 AS hi
            FROM (SELECT unnest(range(0, 10)) AS i)
        )
        SELECT b.band_id,
               CAST(count(*) AS BIGINT) AS cnt,
               {sql_exact_round_sum_fast("e.value")} AS sum_value
        FROM events e JOIN bands b
          ON e.value >= b.lo AND e.value < b.hi
        -- NaN excluded on both engines (ADVICE-r3 class): Spark's
        -- floor(NaN) bucket rewrite lands NaN in band 0 while the
        -- theta form (NaN sorts above every hi) matches no band
        WHERE NOT isnan(e.value)
        GROUP BY b.band_id
    """,
    doc="range/interval join: events matched to [lo, hi) value bands — the "
    "oracle states it as a BETWEEN theta-join, the Spark plan rewrites it to "
    "a bucket EQUI-join (floor(value/width) = band_id), which hash-joins "
    "instead of nested-looping",
    tags=("advanced", "range-join", "join"),
)
def q_range_join_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A naive interval join is O(|fact|·|bands|) nested-loop; aligning
    the bands to a fixed width makes bucket = floor(value/width) a
    NUMBER, turning it into a plain hash equi-join — the standard range-
    join rewrite when intervals are regular (for irregular intervals,
    overlap-bucket replication generalizes this). Both sides compute
    floor() identically on IEEE doubles, so bucket membership is
    bit-identical across engines. NaN values excluded on both engines
    (see oracle comment — the bucket rewrite and the theta form disagree
    on NaN membership)."""
    width, nbands = 50.0, 10
    # The range filter is semantics-preserving (out-of-range values match
    # no band in the theta form) AND the overflow guard: without it a
    # value like 1e12 makes floor()/cast blow past INT under ANSI mode.
    # It also prunes the fact scan before the join instead of after.
    e = load_table(spark, sf_dir, "events").filter(
        ~F.isnan("value")
        & (F.col("value") >= 0.0)
        & (F.col("value") < width * nbands)
    )
    bands = spark.range(nbands).select(
        F.col("id").cast("int").alias("band_id"),
        (F.col("id") * width).alias("lo"),
        ((F.col("id") + 1) * width).alias("hi"),
    )
    fact = e.withColumn("_bucket", F.floor(F.col("value") / width).cast("int"))
    joined = fact.join(F.broadcast(bands), F.col("_bucket") == F.col("band_id"))
    return joined.groupBy("band_id").agg(
        F.count(F.lit(1)).alias("cnt"),
        exact_round_sum_fast("value").alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# CSV and JSON round-trips (complete the format matrix beside parquet/ORC)
# ---------------------------------------------------------------------------
@register(
    "csv_roundtrip_nation",
    oracle="""
        SELECT r.r_name,
               CAST(count(*) AS BIGINT) AS n_nations
        FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
    """,
    doc="CSV sink + source fidelity: nation written to headered CSV, read "
    "back with an explicit schema, joined to region — schema/values must "
    "survive the text round-trip (oracle reads the original parquet)",
    tags=("advanced", "storage", "csv"),
)
def q_csv_roundtrip_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit read schema (never inferSchema at scale: inference is an
    extra full pass over the data). CSV is the interchange format every
    ingest pipeline meets; the oracle aggregating the ORIGINAL parquet
    catches any type coercion the text hop introduces."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    sf_tag = _scratch_tag(spark, sf_dir)
    out = os.path.join(tempfile.gettempdir(), f"hls_csv_demo_{sf_tag}")
    nation.write.mode("overwrite").option("header", True).csv(out)
    back = spark.read.schema("n_nationkey INT, n_name STRING, n_regionkey INT").option(
        "header", True
    ).csv(out)
    return (
        back.join(F.broadcast(region), back["n_regionkey"] == region["r_regionkey"])
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_nations"))
    )


@register(
    "json_roundtrip_events_daily",
    oracle=f"""
        -- NaN guard (ADVICE r6): value is NaN-capable, and an unguarded
        -- decimal sum silently NULLs the NaN addend on Spark while the
        -- DuckDB cast errors — the mirrored CASE makes NaN-exclusion an
        -- explicit contract on both engines (functions/numeric.py).
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS cnt,
               {sql_exact_round_sum_fast("CASE WHEN NOT isnan(value) THEN (value) END")} AS sum_value
        FROM events
        WHERE event_type = 'purchase'
        GROUP BY 1
    """,
    doc="JSON-lines sink + source fidelity: purchase events written to JSONL "
    "(timestamps serialized ISO-8601), read back with an explicit schema, "
    "re-aggregated — must equal the parquet-direct answer",
    tags=("advanced", "storage", "json"),
)
def q_json_roundtrip_events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines is the landing format of most event streams. Timestamps
    make the fidelity check non-trivial: the write serializes ISO-8601
    with microseconds, the schema'd read parses them back; a lossy hop
    (second truncation, timezone shift) would change the daily sums."""
    e = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    sf_tag = _scratch_tag(spark, sf_dir)
    out = os.path.join(tempfile.gettempdir(), f"hls_json_demo_{sf_tag}")
    e.select("event_id", "ts", "value").write.mode("overwrite").json(out)
    back = spark.read.schema("event_id BIGINT, ts TIMESTAMP, value DOUBLE").json(out)
    # NaN survives the JSON hop (Spark writes/reads the literal NaN
    # token), so the NaN guard applies to the read-back column exactly
    # as the oracle applies it to the original parquet.
    return back.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        exact_round_sum_fast(nan_excluded("value")).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# Bucketed co-located join (promoted from tests/test_bucketing.py)
# ---------------------------------------------------------------------------
@register(
    "bucketed_join_order_lines",
    oracle=f"""
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS cnt,
               {sql_exact_round_sum_fast("l_extendedprice")} AS sum_price
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority
    """,
    doc="bucketed co-located fact-fact join: both tables written bucketed on "
    "the join key (8 buckets, sorted), SortMergeJoin reads matching buckets "
    "with NO Exchange on either side; oracle runs the plain shuffled join",
    tags=("advanced", "bucketing", "join", "storage"),
)
def q_bucketed_join_order_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At 100 TB the dominant cost of a fact-fact equi-join is shuffling
    both sides; pre-bucketing both on the key (same count) removes both
    Exchanges — each task merges matching, pre-sorted buckets. The merge
    HINT stands in for the production setting where fact tables exceed
    the broadcast threshold (without it, this small demo side would
    broadcast and never exercise the bucketed path). Plan pinned in
    tests/test_plan_shapes.py: no Exchange below the join."""
    from hadoop_lab_spark.sources.bucketing import read_table, write_bucketed

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    sf_tag = _scratch_tag(spark, sf_dir)
    base = os.path.join(tempfile.gettempdir(), f"hls_bucketed_{sf_tag}")
    t_o, t_l = f"hls_b_orders_{sf_tag}", f"hls_b_lines_{sf_tag}"
    # Write-once, join-many (r10): the bucketed tables are pure inputs
    # derived deterministically from immutable parquet, and the scratch
    # tag is unique per (session, sf_dir) — re-materializing them on
    # every invocation (bench repeats, repeated driver calls) measured
    # ~2/3 of the lane's wall time for zero information. That mirrors
    # production bucketing economics: the rewrite is paid once at load,
    # every subsequent join reads co-located buckets for free. The
    # first build in a session still exercises the full write path (the
    # suite's bucketing tests also write independently).
    if not (spark.catalog.tableExists(t_o) and spark.catalog.tableExists(t_l)):
        write_bucketed(o, t_o, ["o_orderkey"], 8, sort_cols=["o_orderkey"],
                       path=os.path.join(base, "orders"))
        write_bucketed(l, t_l, ["l_orderkey"], 8, sort_cols=["l_orderkey"],
                       path=os.path.join(base, "lines"))
    bo, bl = read_table(spark, t_o), read_table(spark, t_l)
    joined = bo.hint("merge").join(bl, bo["o_orderkey"] == bl["l_orderkey"])
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt"),
        exact_round_sum_fast("l_extendedprice").alias("sum_price"),
    )


# ---------------------------------------------------------------------------
# GROUPING SETS + grouping_id (beyond rollup/cube)
# ---------------------------------------------------------------------------
@register(
    "orders_grouping_sets",
    oracle=f"""
        SELECT o_orderstatus, o_orderpriority,
               CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
               CAST(count(*) AS BIGINT) AS cnt,
               {sql_exact_round_sum_fast("o_totalprice")} AS sum_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    doc="explicit GROUPING SETS (two one-dimension margins + grand total — a "
    "set rollup/cube can't express) with grouping_id disambiguating which "
    "margin each row belongs to",
    tags=("advanced", "grouping-sets", "aggregate"),
)
def q_orders_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """grouping_id is the only way to tell a genuine NULL key apart from
    an aggregated-away dimension; both engines use the same bitmask
    convention (leftmost column = MSB). One Expand + one aggregate —
    the |sets|× row expansion happens map-side, pre-shuffle."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).alias("cnt"),
            exact_round_sum_fast("o_totalprice").alias("sum_price"),
        )
        .select("o_orderstatus", "o_orderpriority", "gid", "cnt", "sum_price")
    )


# ---------------------------------------------------------------------------
# NULL-semantics sampler (three-valued logic parity)
# ---------------------------------------------------------------------------
@register(
    "null_semantics_sampler",
    oracle=f"""
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS cnt_star,
               CAST(count(CASE WHEN value >= 50 THEN value END) AS BIGINT)
                   AS cnt_highs,
               {sql_exact_round_sum_fast("CASE WHEN value >= 50 THEN value END")} AS sum_highs,
               {sql_exact_round_sum_fast("CASE WHEN value < 0 THEN value END")} AS sum_never,
               coalesce(max(nullif(event_type, 'error')), 'none') AS type_or_none,
               CAST(count(*) FILTER (nullif(event_type, 'error')
                   IS NOT DISTINCT FROM NULL) AS BIGINT) AS null_safe_hits
        FROM events
        -- this sampler pins NULL semantics, not NaN semantics: NaN
        -- comparison/rounding policy differs by engine and is covered
        -- by the dedicated NaN exclusions elsewhere (ADVICE-r3 class)
        WHERE value IS NULL OR NOT isnan(value)
        GROUP BY event_type
    """,
    doc="NULL-semantics parity: count(*) vs count(expr), sum over an all-NULL "
    "group (stays NULL), nullif/coalesce, and null-safe equality (<=> / IS "
    "NOT DISTINCT FROM) — three-valued logic must agree across engines",
    tags=("advanced", "functions", "null"),
)
def q_null_semantics_sampler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL handling is where engines classically diverge (count skips
    NULLs, SUM of nothing is NULL not 0, <=> treats NULL as a value).
    Every construct here is pinned against the oracle; sum_never stays
    NULL in every group on both engines — round(NULL) must propagate,
    not zero-fill. NaN rows are excluded on both engines (this pins
    three-valued NULL logic, not NaN comparison policy)."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNull() | ~F.isnan("value")
    )
    highs = F.when(F.col("value") >= 50, F.col("value"))
    nv_type = F.nullif(F.col("event_type"), F.lit("error"))
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt_star"),
        F.count(highs).alias("cnt_highs"),
        exact_round_sum_fast(highs).alias("sum_highs"),
        exact_round_sum_fast(F.when(F.col("value") < 0, F.col("value"))).alias("sum_never"),
        F.coalesce(F.max(nv_type), F.lit("none")).alias("type_or_none"),
        F.count(F.when(nv_type.eqNullSafe(F.lit(None)), 1)).alias("null_safe_hits"),
    )


# ---------------------------------------------------------------------------
# Calendar densification (gap-fill) via sequence + left join
# ---------------------------------------------------------------------------
@register(
    "daily_revenue_gapfill",
    oracle=f"""
        WITH b AS (
            SELECT CAST(min(date_trunc('day', ts)) AS DATE) AS lo,
                   CAST(max(date_trunc('day', ts)) AS DATE) AS hi
            FROM events
        ),
        d AS (
            SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
                AS day
            FROM b
        ),
        r AS (
            -- NaN guard (ADVICE r6): mirrored NaN-exclusion contract —
            -- see functions/numeric.py; a NaN purchase value must be
            -- skipped identically on both engines, never NULL-dropped
            -- on one and a cast error on the other.
            SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                   {sql_exact_round_sum_fast("CASE WHEN NOT isnan(value) THEN (value) END")} AS rev
            FROM events WHERE event_type = 'purchase'
            GROUP BY 1
        )
        SELECT d.day, coalesce(r.rev, 0.0) AS rev
        FROM d LEFT JOIN r USING (day)
    """,
    doc="calendar densification: the observed [min, max] day range generated "
    "as a sequence, left-joined to daily purchase revenue, gaps zero-filled — "
    "the time-series gap-fill every reporting pipeline needs",
    tags=("advanced", "timeseries", "gapfill"),
)
def q_daily_revenue_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The day spine is |days| rows generated from ONE aggregated bounds
    row (sequence + explode) — never a driver-side loop; the left join
    broadcasts the spine. Zero-filling happens AFTER the rounded
    aggregate, so the float policy is untouched."""
    e = load_table(spark, sf_dir, "events")
    bounds = e.agg(
        F.min(F.date_trunc("day", "ts").cast("date")).alias("lo"),
        F.max(F.date_trunc("day", "ts").cast("date")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    daily = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(exact_round_sum_fast(nan_excluded("value")).alias("rev"))
    )
    return spine.join(daily, "day", "left").select(
        "day", F.coalesce("rev", F.lit(0.0)).alias("rev")
    )


# ---------------------------------------------------------------------------
# Statistical aggregate surface (corr / covar / stddev / var / regression)
# ---------------------------------------------------------------------------
@register(
    "stats_aggregate_sampler",
    oracle="""
        -- corr/slope/intercept are built from covar/stddev/regr_s**
        -- primitives with nullif-guarded denominators ON BOTH ENGINES:
        -- the built-in corr()/regr_slope() raise DIVIDE_BY_ZERO under
        -- Spark ANSI when a group has zero variance (one constant-value
        -- group must not kill the job — adversarial-corpus finding), and
        -- sharing the exact formula also removes corr-vs-corr
        -- accumulation skew.
        -- round(,6), NOT floor-truncation, for moment statistics: on
        -- small-integer groups the true values are exact short decimals
        -- (15.5, 5.25) that each engine's accumulation may land 1 ulp
        -- BELOW - floor then flips the last digit on one engine only.
        -- round() snaps both to the decimal; moment stats cannot land on
        -- a 6dp half-boundary the way cent-arithmetic can, so round's
        -- half-case hazard does not apply here (adversarial finding).
        SELECT event_type,
               round(covar_samp(value, CAST(user_id AS DOUBLE))
                     / nullif(stddev_samp(value)
                              * stddev_samp(CAST(user_id AS DOUBLE)), 0), 6)
                   AS corr_vu,
               round(covar_pop(value, CAST(user_id AS DOUBLE)), 6) AS covar_vu,
               round(covar_samp(value, CAST(user_id AS DOUBLE)), 6) AS covars_vu,
               round(stddev_pop(value), 6) AS sd_pop,
               round(stddev_samp(value), 6) AS sd_samp,
               round(var_pop(value), 6) AS var_pop_,
               round(var_samp(value), 6) AS var_samp_,
               round(regr_sxy(value, CAST(user_id AS DOUBLE))
                     / nullif(regr_sxx(value, CAST(user_id AS DOUBLE)), 0), 6)
                   AS slope,
               round(regr_avgy(value, CAST(user_id AS DOUBLE))
                     - (regr_sxy(value, CAST(user_id AS DOUBLE))
                        / nullif(regr_sxx(value, CAST(user_id AS DOUBLE)), 0))
                       * regr_avgx(value, CAST(user_id AS DOUBLE)), 6)
                   AS intercept,
               CAST(regr_count(value, CAST(user_id AS DOUBLE)) AS BIGINT)
                   AS n_pairs
        FROM events
        -- NaN excluded on both engines (ADVICE-r3 class): a NaN sample
        -- poisons every moment accumulator and the engines disagree on
        -- NaN propagation through the guarded divisions
        WHERE value IS NULL OR NOT isnan(value)
        GROUP BY event_type
    """,
    doc="statistical aggregate surface: corr, covar pop/samp, stddev pop/samp, "
    "var pop/samp, regr_slope/intercept/count — one pass, 6dp-truncated under "
    "the cross-engine float policy",
    tags=("advanced", "aggregate", "stats"),
)
def q_stats_aggregate_sampler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass moment aggregates (Welford-style merge, shuffle carries
    constant-size state per group). All 6dp-truncated: both engines
    compute the same textbook formulas but accumulate in different
    orders. skewness/kurtosis are deliberately EXCLUDED from the oracle
    surface: Spark returns population (g1/g2) moments while DuckDB
    returns bias-corrected sample moments — a formula difference, not an
    accumulation ulp (verified empirically: 1.9348 vs 1.9362 on the same
    group), same exclusion class as ln/exp. NaN samples excluded on both
    engines (see oracle comment)."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNull() | ~F.isnan("value")
    )
    u = F.col("user_id").cast("double")
    v = F.col("value")

    def t6(c):  # round, not floor — see the oracle SQL comment
        return F.round(c, 6)

    # corr/slope/intercept via nullif-guarded primitive formulas shared
    # with the oracle — the built-ins raise DIVIDE_BY_ZERO under ANSI on
    # a zero-variance group (see the oracle SQL comment).
    corr_vu = F.covar_samp(v, u) / F.nullif(
        F.stddev_samp(v) * F.stddev_samp(u), F.lit(0.0)
    )
    slope = F.regr_sxy(v, u) / F.nullif(F.regr_sxx(v, u), F.lit(0.0))
    intercept = F.regr_avgy(v, u) - slope * F.regr_avgx(v, u)
    return e.groupBy("event_type").agg(
        t6(corr_vu).alias("corr_vu"),
        t6(F.covar_pop(v, u)).alias("covar_vu"),
        t6(F.covar_samp(v, u)).alias("covars_vu"),
        t6(F.stddev_pop(v)).alias("sd_pop"),
        t6(F.stddev_samp(v)).alias("sd_samp"),
        t6(F.var_pop(v)).alias("var_pop_"),
        t6(F.var_samp(v)).alias("var_samp_"),
        t6(slope).alias("slope"),
        t6(intercept).alias("intercept"),
        F.regr_count(v, u).cast("long").alias("n_pairs"),
    )


# ---------------------------------------------------------------------------
# Higher-order array function surface (lambda expressions over vectors)
# ---------------------------------------------------------------------------
@register(
    "array_lambda_sampler",
    oracle="""
        -- NULL-list guards: DuckDB's list_reduce ERRORS on a NULL/empty
        -- input where Spark's aggregate() returns NULL (adversarial
        -- corpus finding); floor() here is DuckDB's double floor, which
        -- passes ±inf through like the Spark side's magnitude-guarded
        -- trunc.
        SELECT vec_id,
               CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER) AS n_pos,
               CASE WHEN embedding IS NULL THEN NULL ELSE
                   CAST(list_reduce(list_transform(embedding,
                            x -> CASE WHEN x > 0 THEN 1 ELSE 0 END),
                            (a, b) -> a + b) AS INTEGER) END AS n_pos_fold,
               array_to_string(list_transform(embedding[1:4],
                   x -> CAST(floor(least(greatest(CAST(x AS DOUBLE), -0.1), 0.1)
                             * 1000000) AS BIGINT)), ',') AS clipped4,
               CASE WHEN embedding IS NULL THEN NULL ELSE
                   floor(sqrt(list_reduce(list_transform(embedding,
                       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                       (a, b) -> a + b)) * 1000000) / 1000000 END AS l2_norm,
               CASE WHEN embedding IS NULL THEN NULL ELSE
                   floor(list_reduce(list_transform(
                           list_zip(embedding, list_reverse(embedding)),
                           p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)),
                       (a, b) -> a + b) * 1000000) / 1000000 END AS rev_dot
        FROM embeddings
    """,
    doc="higher-order array functions: filter, transform, left-fold "
    "(aggregate/list_reduce), zip_with over the embedding vectors — the "
    "JVM-side lambda surface that keeps vector math out of Python",
    tags=("advanced", "functions", "array", "vector"),
)
def q_array_lambda_sampler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lambda expressions compile into the same codegen stage as the
    scan — vector math with NO UDF and no shuffle. Both engines fold
    left-to-right sequentially, but the 6dp truncation stays per policy.
    clipped4 is rendered as a comma-joined STRING of floor-scaled (1e6)
    integers: the element math is exact, but a bare ARRAY output column
    breaks the driver's pandas canonicalizer (unhashable ndarray — the
    one red row of round 2), and integer rendering is engine-independent
    where float-to-string formatting is not."""
    emb = load_table(spark, sf_dir, "embeddings")
    from hadoop_lab_spark.functions.text import trunc as t6  # magnitude-guarded

    x2d = lambda x: x.cast("double")  # noqa: E731
    e = F.col("embedding")

    return emb.select(
        "vec_id",
        F.size(F.filter(e, lambda x: x > 0)).alias("n_pos"),
        F.aggregate(
            F.transform(e, lambda x: F.when(x > 0, 1).otherwise(0)),
            F.lit(0),
            lambda a, b: a + b,
        ).alias("n_pos_fold"),
        F.array_join(
            F.transform(
                F.slice(e, 1, 4),
                lambda x: F.floor(
                    F.least(F.greatest(x2d(x), F.lit(-0.1)), F.lit(0.1)) * 1_000_000
                ).cast("string"),
            ),
            ",",
        ).alias("clipped4"),
        t6(
            F.sqrt(
                F.aggregate(
                    F.transform(e, lambda x: x2d(x) * x2d(x)),
                    F.lit(0.0),
                    lambda a, b: a + b,
                )
            )
        ).alias("l2_norm"),
        t6(
            F.aggregate(
                F.zip_with(e, F.reverse(e), lambda a, b: x2d(a) * x2d(b)),
                F.lit(0.0),
                lambda a, b: a + b,
            )
        ).alias("rev_dot"),
    )


# ---------------------------------------------------------------------------
# Small-file compaction (table-maintenance operator)
# ---------------------------------------------------------------------------
@register(
    "compaction_roundtrip_orders",
    oracle=f"""
        SELECT o_orderstatus,
               CAST(count(*) AS BIGINT) AS cnt,
               {sql_exact_round_sum_fast("o_totalprice")} AS sum_price
        FROM orders
        GROUP BY o_orderstatus
    """,
    doc="small-file compaction: orders deliberately fragmented into 64 files, "
    "compacted to 4 with a round-robin repartition rewrite, re-read and "
    "aggregated — values must survive both hops (oracle reads the original)",
    tags=("advanced", "storage", "maintenance"),
)
def q_compaction_roundtrip_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The small-files problem is THE steady-state failure of streaming
    ingestion into a lake (every micro-batch lands a file per partition;
    scans then pay per-file open cost). The maintenance op is a plain
    repartition(N) rewrite — here 64 fragments → 4 files, verified by
    file count in tests and by the oracle hash for value fidelity. At
    100 TB this runs per-partition-directory with target size
    ~files·128 MB, exactly this plan."""
    orders = load_table(spark, sf_dir, "orders")
    sf_tag = _scratch_tag(spark, sf_dir)
    frag = os.path.join(tempfile.gettempdir(), f"hls_frag_{sf_tag}")
    compact = os.path.join(tempfile.gettempdir(), f"hls_compact_{sf_tag}")
    orders.repartition(64).write.mode("overwrite").parquet(frag)
    spark.read.parquet(frag).repartition(4).write.mode("overwrite").parquet(compact)
    back = spark.read.parquet(compact)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("cnt"),
        exact_round_sum_fast("o_totalprice").alias("sum_price"),
    )


# ---------------------------------------------------------------------------
# from_json with an explicit schema (typed semi-structured extraction)
# ---------------------------------------------------------------------------
@register(
    "from_json_typed",
    oracle="""
        -- Mirrors Spark's PERMISSIVE from_json(k INT) at FIELD level
        -- (probed empirically on Spark 4: a type-mismatched field NULLs
        -- that field only, sibling fields survive): k is an INT exactly
        -- when the RAW json repr is an unquoted integer literal that
        -- fits INT32 — a quoted "+5"/" 5"/"12", a float 1.5, or an
        -- overflowing literal all yield NULL k on both engines. The
        -- plain CAST(->>'$.k' AS INT) used before coerced quoted
        -- strings and diverged (caught by the ADVICE-r6 hostile rows).
        SELECT event_id,
               k_typed,
               absent_field,
               CAST(k_typed // 10 AS INT) AS k_decile,
               k_typed >= 50 AS is_high
        FROM (
            SELECT event_id,
                   TRY_CAST(CASE WHEN json_valid(props) THEN
                       (CASE WHEN CAST(json_extract(props, '$.k') AS VARCHAR)
                                  ~ '^-?[0-9]+$'
                             THEN CAST(json_extract(props, '$.k') AS VARCHAR)
                        END)
                   END AS INT) AS k_typed,
                   CASE WHEN json_valid(props)
                        THEN CAST(props->>'$.absent' AS VARCHAR)
                   END AS absent_field
            FROM events
            WHERE event_type = 'purchase'
        )
    """,
    doc="from_json with an EXPLICIT schema (struct<k:int, absent:string>): "
    "typed extraction in one parse instead of per-path get_json_object "
    "re-parses; missing keys surface as typed NULLs",
    tags=("advanced", "json", "functions"),
)
def q_from_json_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Jackson parse per row materializes ALL declared fields —
    at 100 TB this halves (or better) the CPU of the N-path
    get_json_object pattern, and the declared schema makes downstream
    types static for codegen. Missing keys are typed NULLs (the
    'absent' field), not errors. Malformed-input handling is NOT
    oracle-checked: Spark's Jackson accepts trailing garbage that
    DuckDB's json_valid rejects (verified empirically), so the
    cross-engine contract covers valid JSON only."""
    events = load_table(spark, sf_dir, "events")
    parsed = F.from_json(F.col("props"), "struct<k:int, absent:string>")
    return (
        events.filter(F.col("event_type") == "purchase")
        .select("event_id", parsed.alias("_p"))
        .select(
            "event_id",
            F.col("_p.k").alias("k_typed"),
            F.col("_p.absent").alias("absent_field"),
            F.floor(F.col("_p.k") / 10).cast("int").alias("k_decile"),
            (F.col("_p.k") >= 50).alias("is_high"),
        )
    )


# ---------------------------------------------------------------------------
# Map-function surface (create/filter/concat/lookup, canonical-string render)
# ---------------------------------------------------------------------------
@register(
    "map_function_sampler",
    oracle="""
        -- concat_ws mirrors Spark's array_join NULL policy (both SKIP
        -- null elements): an entry whose VALUE is NULL drops out of the
        -- rendered string on both engines instead of nulling the whole
        -- render ('x' || NULL would) — adversarial-corpus finding.
        SELECT o_orderkey,
               concat_ws(',',
                   CASE WHEN length(o_orderpriority) > 1
                        THEN 'prio=' || o_orderpriority END,
                   CASE WHEN length(o_orderstatus) > 1
                        THEN 'status=' || o_orderstatus END) AS kept_entries,
               o_orderpriority AS prio_lookup,
               concat_ws(',',
                   'cust=' || CAST(o_custkey AS VARCHAR),
                   'prio=' || o_orderpriority,
                   'status=' || o_orderstatus) AS merged_entries,
               CAST(3 AS INTEGER) AS merged_size,
               'cust,prio,status' AS merged_keys
        FROM orders
    """,
    doc="map-typed column surface: create_map, map_concat, map_filter, "
    "element_at lookup, map_entries/map_keys — rendered as canonical "
    "sorted strings (the driver cannot hash complex types)",
    tags=("advanced", "functions", "map"),
)
def q_map_function_sampler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exercises the MapType expression family end-to-end while keeping
    the OUTPUT flat: entries render as sorted 'k=v' joins. map_filter
    drops the 1-char status value (length > 1 predicate) — the oracle
    states the surviving entry literally, so a semantics drift in
    map_filter/map_concat breaks the hash."""
    o = load_table(spark, sf_dir, "orders")
    base = F.create_map(
        F.lit("status"), F.col("o_orderstatus"), F.lit("prio"), F.col("o_orderpriority")
    )
    kept = F.map_filter(base, lambda k, v: F.length(v) > 1)
    merged = F.map_concat(
        base, F.create_map(F.lit("cust"), F.col("o_custkey").cast("string"))
    )

    def render(m):
        return F.array_join(
            F.array_sort(
                F.transform(
                    F.map_entries(m), lambda e: F.concat(e["key"], F.lit("="), e["value"])
                )
            ),
            ",",
        )

    return o.select(
        "o_orderkey",
        render(kept).alias("kept_entries"),
        F.element_at(base, F.lit("prio")).alias("prio_lookup"),
        render(merged).alias("merged_entries"),
        F.size(merged).alias("merged_size"),
        F.array_join(F.array_sort(F.map_keys(merged)), ",").alias("merged_keys"),
    )


# ---------------------------------------------------------------------------
# String distance + manipulation surface
# ---------------------------------------------------------------------------
@register(
    "string_distance_sampler",
    oracle="""
        -- Levenshtein is distance-UNIT-mismatched across engines on
        -- non-ASCII input (Spark counts codepoints, DuckDB counts
        -- bytes — a unicode part name measured 15 vs 19; hostile-star
        -- finding), so the oracle-checked contract scopes the distance
        -- to printable-ASCII pairs and yields NULL otherwise, the same
        -- move that keeps ln/exp and soundex out of the oracle
        -- surface. split_part is NULL-guarded: DuckDB returns '' for a
        -- NULL input where Spark propagates NULL.
        SELECT p_partkey,
               CAST(CASE WHEN regexp_matches(p_brand, '^[ -~]*$')
                          AND regexp_matches(p_type, '^[ -~]*$')
                         THEN levenshtein(p_brand, p_type) END
                    AS INTEGER) AS brand_type_dist,
               CAST(CASE WHEN regexp_matches(p_name, '^[ -~]*$')
                          AND regexp_matches(p_type, '^[ -~]*$')
                         THEN levenshtein(p_name, p_type) END
                    AS INTEGER) AS name_type_dist,
               CASE WHEN p_name IS NOT NULL
                    THEN split_part(p_name, ' ', 1) END AS name_head,
               CASE WHEN p_name IS NOT NULL
                    THEN split_part(p_name, ' ', -1) END AS name_tail,
               translate(p_name, 'aeiou', 'AEIOU') AS name_caps_vowels,
               repeat(p_brand, 2) AS brand_twice,
               CAST(strpos(p_name, 'widget') AS INTEGER) AS widget_pos,
               starts_with(p_type, 'ECONOMY') AS is_economy,
               contains(p_name, 'blue') AS has_blue
        FROM part
    """,
    doc="string-distance + manipulation parity: levenshtein (ASCII-scoped "
    "contract), split_part (positive and negative index), translate, repeat, "
    "instr/strpos, starts_with, contains — all JVM built-ins, one codegen stage",
    tags=("advanced", "functions", "string"),
)
def q_string_distance_sampler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein at 100 TB: O(len^2) per pair but JVM-side and
    shuffle-free as a projection; for pairwise fuzzy JOINS use the
    blocked dedup operators instead (soundex exists Spark-side but has
    no DuckDB twin, so it stays out of the oracle surface). The
    distance contract is scoped to printable-ASCII pairs (NULL
    otherwise): the engines disagree on the distance UNIT for
    multi-byte text (codepoints vs bytes — see oracle comment)."""
    p = load_table(spark, sf_dir, "part")

    def _ascii(c: str):
        return F.col(c).rlike("^[ -~]*$")

    return p.select(
        "p_partkey",
        F.when(
            _ascii("p_brand") & _ascii("p_type"),
            F.levenshtein("p_brand", "p_type"),
        ).alias("brand_type_dist"),
        F.when(
            _ascii("p_name") & _ascii("p_type"),
            F.levenshtein("p_name", "p_type"),
        ).alias("name_type_dist"),
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("name_head"),
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(-1)).alias("name_tail"),
        F.translate("p_name", "aeiou", "AEIOU").alias("name_caps_vowels"),
        F.repeat("p_brand", 2).alias("brand_twice"),
        F.instr("p_name", "widget").alias("widget_pos"),
        F.startswith(F.col("p_type"), F.lit("ECONOMY")).alias("is_economy"),
        F.contains(F.col("p_name"), F.lit("blue")).alias("has_blue"),
    )


# ---------------------------------------------------------------------------
# Conditional aggregation surface (FILTER-style aggregates)
# ---------------------------------------------------------------------------
@register(
    "conditional_agg_sampler",
    oracle=f"""
        SELECT o_orderpriority,
               CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
                   AS n_fulfilled,
               {sql_exact_round_sum_fast("CASE WHEN o_orderstatus = 'O' THEN o_totalprice END")}
                   AS open_revenue,
               bool_or(o_totalprice > 300000.0) AS any_jumbo,
               bool_and(o_totalprice > 0.0) AS all_positive,
               CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_statuses
        FROM orders
        GROUP BY o_orderpriority
    """,
    doc="conditional aggregates: count_if, filtered sum, bool_or/bool_and "
    "(any/every), distinct count — the FILTER-clause surface in one "
    "partial-aggregable pass",
    tags=("advanced", "functions", "aggregate"),
)
def q_conditional_agg_sampler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All five shapes stay partial-aggregable (one Exchange): a
    conditional aggregate is just an aggregate of a projected CASE, so
    the combiner effect is preserved — no second pass, no subquery per
    condition. Money sum rounds 2dp per float policy; booleans and
    counts are exact."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count_if(F.col("o_orderstatus") == "F").cast("bigint").alias("n_fulfilled"),
        exact_round_sum_fast(F.when(F.col("o_orderstatus") == "O", F.col("o_totalprice"))).alias("open_revenue"),
        F.bool_or(F.col("o_totalprice") > 300000.0).alias("any_jumbo"),
        F.bool_and(F.col("o_totalprice") > 0.0).alias("all_positive"),
        F.count_distinct("o_orderstatus").cast("bigint").alias("n_statuses"),
    )


# ---------------------------------------------------------------------------
# Regexp function surface
# ---------------------------------------------------------------------------
@register(
    "regexp_sampler",
    oracle=r"""
        SELECT doc_id,
               regexp_extract(text, '([a-z]+)', 1) AS first_word,
               CAST(len(regexp_extract_all(text, '[a-z]+ing')) AS INTEGER)
                   AS n_ing_words,
               regexp_matches(text, 'customer|supplier') AS mentions_party,
               regexp_replace(text, '[0-9]+', '#', 'g') AS digits_masked,
               CAST(len(regexp_extract_all(text, '\b[a-z]{4}\b')) AS INTEGER)
                   AS n_4letter
        FROM documents
    """,
    doc="regexp surface: extract (group), extract_all count, match test, "
    "global replace, word-boundary count — conservative patterns valid in "
    "both Java regex and RE2",
    tags=("advanced", "functions", "regexp"),
)
def q_regexp_sampler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan-local, zero shuffle. Patterns deliberately avoid
    lookaround/backreferences (Java-only) and stay in the common
    Java/RE2 dialect; Spark regexp_replace is global by default where
    DuckDB needs the explicit 'g' flag (float-policy doc, r1)."""
    d = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        F.regexp_extract(t, r"([a-z]+)", 1).alias("first_word"),
        F.size(F.regexp_extract_all(t, F.lit(r"[a-z]+ing"), F.lit(0))).alias(
            "n_ing_words"
        ),
        t.rlike("customer|supplier").alias("mentions_party"),
        F.regexp_replace(t, r"[0-9]+", "#").alias("digits_masked"),
        F.size(F.regexp_extract_all(t, F.lit(r"\b[a-z]{4}\b"), F.lit(0))).alias(
            "n_4letter"
        ),
    )


# ---------------------------------------------------------------------------
# Array set-operation surface (canonical-string render)
# ---------------------------------------------------------------------------
@register(
    "array_setops_sampler",
    oracle="""
        SELECT doc_id,
               coalesce(array_to_string(list_sort(list_distinct(
                   regexp_split_to_array(trim(text), '[ \t\n\r\f]+')[1:6])), ','), '')
                   AS head_vocab,
               coalesce(array_to_string(list_sort(list_intersect(
                   regexp_split_to_array(trim(text), '[ \t\n\r\f]+')[1:6],
                   ['data', 'query', 'table', 'row', 'join'])), ','), '')
                   AS head_keywords,
               coalesce(array_to_string(list_sort(list_distinct(list_filter(
                   regexp_split_to_array(trim(text), '[ \t\n\r\f]+')[1:6],
                   x -> NOT list_contains(['data', 'query', 'table', 'row', 'join'], x)))), ','), '')
                   AS head_rest,
               list_contains(regexp_split_to_array(trim(text), '[ \t\n\r\f]+')[1:6],
                             'spark') AS head_has_spark,
               coalesce(CAST(list_position(
                   regexp_split_to_array(trim(text), '[ \t\n\r\f]+')[1:6],
                   'spark') AS INTEGER), 0) AS spark_pos
        FROM documents
    """,
    doc="array set operations over the first 6 tokens: distinct, sort, "
    "intersect, except (as filter), contains, position — rendered as "
    "canonical sorted strings (flat-schema contract)",
    tags=("advanced", "functions", "array"),
)
def q_array_setops_sampler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's array_intersect/array_except preserve LEFT-argument
    order while DuckDB's list_intersect does not guarantee one — every
    set-valued result is array_sort'ed before rendering so the oracle
    compares sets, not engine-internal orderings. Scan-local, no
    shuffle. list_position/array_position agree on 1-based-with-0-miss."""
    d = load_table(spark, sf_dir, "documents")
    head = F.slice(F.split(F.trim(F.col("text")), r"[ \t\n\r\f]+"), 1, 6)
    kw = F.array(*[F.lit(w) for w in ("data", "query", "table", "row", "join")])
    # NULL-text policy (pinned by tests/test_adversarial_corpus.py):
    # rendered strings coalesce to '' on BOTH engines (Spark array_join
    # propagates NULL, DuckDB's empty-list array_to_string already needed
    # the coalesce), position coalesces to 0, the boolean stays NULL.
    return d.select(
        "doc_id",
        F.coalesce(
            F.array_join(F.array_sort(F.array_distinct(head)), ","), F.lit("")
        ).alias("head_vocab"),
        F.coalesce(
            F.array_join(F.array_sort(F.array_intersect(head, kw)), ","), F.lit("")
        ).alias("head_keywords"),
        F.coalesce(
            F.array_join(F.array_sort(F.array_except(head, kw)), ","), F.lit("")
        ).alias("head_rest"),
        F.array_contains(head, "spark").alias("head_has_spark"),
        F.coalesce(F.array_position(head, "spark"), F.lit(0)).cast("int").alias(
            "spark_pos"
        ),
    )


# ---------------------------------------------------------------------------
# Exact percentiles / median (interpolated, cross-engine bit-exact)
# ---------------------------------------------------------------------------
@register(
    "exact_percentiles_per_priority",
    oracle="""
        SELECT o_orderpriority,
               median(o_totalprice) AS med_price,
               quantile_cont(o_totalprice, 0.25) AS q1_price,
               quantile_cont(o_totalprice, 0.75) AS q3_price,
               quantile_cont(o_totalprice, 0.75)
                   - quantile_cont(o_totalprice, 0.25) AS iqr_price
        FROM orders
        GROUP BY o_orderpriority
    """,
    doc="exact interpolated percentiles (median/Q1/Q3/IQR) per group — "
    "complements the approx_percentile accuracy-contract query with the "
    "exact path",
    tags=("advanced", "aggregate", "percentile"),
)
def q_exact_percentiles_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both engines use the same linear interpolation ((1-f)·a + f·b on
    the two adjacent order statistics), verified bit-exact on the
    fixture — no rounding policy needed. Exact percentiles sort each
    group; at 100 TB prefer approx_percentile (one-pass sketch) unless
    exactness is contractual — that trade is exactly why both queries
    exist."""
    o = load_table(spark, sf_dir, "orders")
    q1 = F.percentile("o_totalprice", F.lit(0.25))
    q3 = F.percentile("o_totalprice", F.lit(0.75))
    return o.groupBy("o_orderpriority").agg(
        F.median("o_totalprice").alias("med_price"),
        q1.alias("q1_price"),
        q3.alias("q3_price"),
        (q3 - q1).alias("iqr_price"),
    )
