"""Reference-parity queries — one per capability of the 10 hadoop-lab jobs.

Each query re-expresses a lab's map/reduce pipeline (SURVEY.md §2) over
the driver's synthetic star schema (FIXTURES.md §2 maps fixture → table).
The oracle SQL encodes identical semantics for DuckDB, including the
deterministic tie-break / sort-order policies of SURVEY §2.10.7-8.

Plan-shape notes ("would this hold at 100 TB?") are in each docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_lab_spark.operators import (
    argmax_per_group,
    bucketize,
    classify_threshold,
    collect_per_group,
    coo_matmul,
    count_per_group,
    max_per_group,
    row_greatest,
    wordcount,
)
from hadoop_lab_spark.plans.registry import register
from hadoop_lab_spark.sources import load_table


# ---------------------------------------------------------------------------
# lab2 — WordCount (`lab2/WordCount.sh:61-123`)
# ---------------------------------------------------------------------------
@register(
    "wordcount",
    oracle="""
        SELECT word, count(*) AS cnt
        FROM (
            SELECT unnest(regexp_split_to_array(text, '[ \t\n\r\f]+')) AS word
            FROM documents
        )
        WHERE word <> ''
        GROUP BY word
    """,
    doc="lab2 parity: case-sensitive whitespace word count over documents.text",
    tags=("parity", "lab2", "aggregate"),
)
def q_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan reads only `text`; explode → partial count → one shuffle of
    (word, partial) pairs → final count. lab2's combiner is implicit."""
    return wordcount(load_table(spark, sf_dir, "documents"), "text")


# ---------------------------------------------------------------------------
# lab3 — HighestTemperature (`lab3/HighestTemperature.sh:62-136`)
# ---------------------------------------------------------------------------
@register(
    "max_price_per_year",
    oracle="""
        SELECT CAST(year(l_shipdate) AS INTEGER) AS ship_year,
               max(l_extendedprice) AS max_price
        FROM lineitem
        GROUP BY 1
    """,
    doc="lab3 parity: max value per year group (max l_extendedprice per ship year)",
    tags=("parity", "lab3", "aggregate"),
)
def q_max_price_per_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAX is order-insensitive — no rounding needed. Scan reads 2 of 11
    columns; shuffle carries one (year, partial-max) row per partition."""
    li = load_table(spark, sf_dir, "lineitem")
    li = li.select(F.year("l_shipdate").alias("ship_year"), "l_extendedprice")
    return max_per_group(li, "ship_year", "l_extendedprice", out="max_price")


# ---------------------------------------------------------------------------
# lab4 — StudentGrades (`lab4/StudentGrades.sh:61-140`): CASE bucket + collect
# ---------------------------------------------------------------------------
@register(
    "grade_bucket",
    oracle="""
        SELECT c_custkey,
               CASE WHEN c_acctbal >= 9000 THEN 'A'
                    WHEN c_acctbal >= 8000 THEN 'B'
                    WHEN c_acctbal >= 7000 THEN 'C'
                    WHEN c_acctbal >= 6000 THEN 'D'
                    ELSE 'F' END AS grade
        FROM customer
    """,
    doc="lab4 parity (map side): CASE-chain bucketing of a numeric column",
    tags=("parity", "lab4", "transform"),
)
def q_grade_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure row transform — stays in one codegen stage, zero shuffles."""
    cust = load_table(spark, sf_dir, "customer")
    boundaries = tuple((t * 100, g) for t, g in ((90, "A"), (80, "B"), (70, "C"), (60, "D")))
    return cust.select("c_custkey", bucketize("c_acctbal", boundaries).alias("grade"))


@register(
    "grades_collect_per_segment",
    oracle="""
        -- || not concat(): Spark's concat PROPAGATES a NULL argument
        -- while DuckDB's concat SKIPS it (a NULL c_name collected as
        -- ':F' on one engine only — hostile-star finding). The ANSI ||
        -- operator NULL-propagates on both, pinning the contract that
        -- a NULL-named row contributes no entry.
        SELECT c_mktsegment,
               string_agg(entry, ', ' ORDER BY entry) AS collected
        FROM (
            SELECT c_mktsegment,
                   c_name || ':' ||
                          CASE WHEN c_acctbal >= 9000 THEN 'A'
                               WHEN c_acctbal >= 8000 THEN 'B'
                               WHEN c_acctbal >= 7000 THEN 'C'
                               WHEN c_acctbal >= 6000 THEN 'D'
                               ELSE 'F' END AS entry
            FROM customer
        )
        GROUP BY c_mktsegment
    """,
    doc="lab4 parity (reduce side): collect 'name:grade' strings per group, sorted",
    tags=("parity", "lab4", "aggregate", "collect"),
)
def q_grades_collect_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lab4's reducer concatenates subject:grade pairs per student
    (`lab4/StudentGrades.sh:107-120`); elements sorted per SURVEY §2.10.8."""
    cust = load_table(spark, sf_dir, "customer")
    boundaries = tuple((t * 100, g) for t, g in ((90, "A"), (80, "B"), (70, "C"), (60, "D")))
    entry = F.concat(F.col("c_name"), F.lit(":"), bucketize("c_acctbal", boundaries))
    return collect_per_group(
        cust.select("c_mktsegment", entry.alias("entry")), "c_mktsegment", "entry"
    )


# ---------------------------------------------------------------------------
# lab5 — MatrixMultiplication (`lab5/MatrixMultiplication.sh:61-159`)
# ---------------------------------------------------------------------------
# Cells are CLAMPED to ±1e6 before quantization: embeddings are
# unit-scale by contract, but a degenerate 1e30 value must quantize to a
# deterministic clamp on both engines, not saturate Spark's BIGINT floor
# / overflow DuckDB's INT cast (tests/test_adversarial_corpus.py).
_MATMUL_CELLS_SQL = """
    SELECT vec_id,
           unnest(range(0, len(embedding))) AS pos,
           CAST(floor(least(greatest(CAST(unnest(embedding) AS DOUBLE),
                                     -1000000.0), 1000000.0) * 100) AS INTEGER) AS cell
    FROM embeddings
"""


@register(
    "matmul_coo",
    oracle=f"""
        WITH cells AS ({_MATMUL_CELLS_SQL}),
        a AS (SELECT vec_id AS i, pos AS k, cell AS v FROM cells WHERE vec_id < 8),
        b AS (SELECT pos AS k, vec_id - 8 AS j, cell AS v FROM cells
              WHERE vec_id >= 8 AND vec_id < 16)
        SELECT a.i AS i, b.j AS j,
               CAST(sum(CAST(a.v AS BIGINT) * b.v) AS BIGINT) AS value
        FROM a JOIN b ON a.k = b.k
        GROUP BY a.i, b.j
    """,
    doc="lab5 parity: COO sparse matrix multiply as join + group-sum "
    "(A: 8x64 from vec_id<8, B: 64x8 from vec_id 8..15; integer cells so "
    "the sum is exact and order-independent)",
    tags=("parity", "lab5", "join", "aggregate"),
)
def q_matmul_coo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational matmul (SURVEY §2.5 J1): join on the contraction index,
    group-sum per output cell. Dimensions derive from the data — the
    reference hardcodes K=2 (`lab5:86,106`) and replicates rows K times
    through the shuffle; this plan shuffles each cell once and Catalyst
    broadcasts the small side."""
    emb = load_table(spark, sf_dir, "embeddings")
    cells = emb.select(
        "vec_id",
        F.posexplode("embedding").alias("pos", "val"),
    ).select(
        "vec_id",
        "pos",
        # clamp ±1e6 pre-quantize — see _MATMUL_CELLS_SQL comment
        F.floor(
            F.least(
                F.greatest(F.col("val").cast("double"), F.lit(-1_000_000.0)),
                F.lit(1_000_000.0),
            )
            * 100
        )
        .cast("int")
        .alias("cell"),
    )
    a = cells.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("i"), F.col("pos").alias("j"), F.col("cell").alias("value")
    )
    b = cells.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 16)).select(
        F.col("pos").alias("i"), (F.col("vec_id") - 8).alias("j"), F.col("cell").alias("value")
    )
    out = coo_matmul(a, b, broadcast_b=True)
    return out.select("i", "j", F.col("value").cast("long").alias("value"))


# ---------------------------------------------------------------------------
# lab6 — MaxElectricityConsumption (`lab6/MaxElectricityConsumption.sh:61-134`)
# ---------------------------------------------------------------------------
@register(
    "row_greatest_max_per_year",
    oracle="""
        SELECT CAST(year(l_shipdate) AS INTEGER) AS ship_year,
               max(greatest(l_quantity, l_extendedprice / 1000, l_tax * 100)) AS max_metric
        FROM lineitem
        GROUP BY 1
    """,
    doc="lab6 parity: per-row horizontal max (greatest) computed below the "
    "aggregate, then max per year group",
    tags=("parity", "lab6", "transform", "aggregate"),
)
def q_row_greatest_max_per_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`greatest` is evaluated map-side (pre-Exchange) exactly like lab6's
    mapper computing the row max before the shuffle (`lab6:90-98`), so the
    shuffle carries one double per row, not the wide row. Scalar double
    math is IEEE-identical across engines — no rounding needed."""
    li = load_table(spark, sf_dir, "lineitem")
    metric = row_greatest(
        F.col("l_quantity"), F.col("l_extendedprice") / 1000, F.col("l_tax") * 100
    )
    rows = li.select(F.year("l_shipdate").alias("ship_year"), metric.alias("metric"))
    return max_per_group(rows, "ship_year", "metric", out="max_metric")


# ---------------------------------------------------------------------------
# lab7 — WeatherAnalyzer (`lab7/WeatherAnalyzer.sh:61-127`)
# ---------------------------------------------------------------------------
@register(
    "classify_day",
    oracle="""
        SELECT CAST(ts AS DATE) AS day,
               CASE WHEN max(value) >= 250 THEN 'Shiny' ELSE 'Cool' END AS weather
        FROM events
        GROUP BY 1
    """,
    doc="lab7 parity: per-day threshold classification of the day's max value "
    "(boundary inclusive, >= — SURVEY §2.10.3)",
    tags=("parity", "lab7", "transform"),
)
def q_classify_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    per_day = max_per_group(
        events.select(F.to_date("ts").alias("day"), "value"), "day", "value", out="mx"
    )
    return per_day.select(
        "day", classify_threshold("mx", 250, "Shiny", "Cool").alias("weather")
    )


# ---------------------------------------------------------------------------
# lab8 / lab10 — count per group (`lab8/ProductSalesAnalyzer.sh:61-128`,
# `lab10/BookPublicationFrequency.sh:61-116`)
# ---------------------------------------------------------------------------
@register(
    "count_per_priority",
    oracle="""
        SELECT o_orderpriority, count(*) AS cnt
        FROM orders
        GROUP BY o_orderpriority
    """,
    doc="lab8/lab10 parity: COUNT(*) per group key (orders per priority)",
    tags=("parity", "lab8", "lab10", "aggregate"),
)
def q_count_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    return count_per_group(load_table(spark, sf_dir, "orders"), "o_orderpriority")


@register(
    "count_per_event_type",
    oracle="""
        SELECT event_type, count(*) AS cnt
        FROM events
        GROUP BY event_type
    """,
    doc="lab8/lab10 parity variant: COUNT(*) per event_type",
    tags=("parity", "lab8", "lab10", "aggregate"),
)
def q_count_per_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    return count_per_group(load_table(spark, sf_dir, "events"), "event_type")


# ---------------------------------------------------------------------------
# lab9 — MovieTagsAnalyzer (`lab9/MovieTagsAnalyzer.sh:61-114`)
# ---------------------------------------------------------------------------
@register(
    "collect_types_per_user",
    oracle="""
        SELECT user_id,
               string_agg(event_type, ', ' ORDER BY event_type) AS collected
        FROM events
        GROUP BY user_id
    """,
    doc="lab9 parity: string-collect all values per key with ', ' separator, "
    "elements sorted (deterministic divergence, SURVEY §2.10.8)",
    tags=("parity", "lab9", "aggregate", "collect"),
)
def q_collect_types_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return collect_per_group(events, "user_id", "event_type")


# ---------------------------------------------------------------------------
# lab11 — UberTripAnalyzer (`lab11/UberTripAnalyzer.sh:61-137`)
# ---------------------------------------------------------------------------
@register(
    "argmax_type_per_day",
    oracle="""
        SELECT day, argmax, max_value
        FROM (
            SELECT CAST(ts AS DATE) AS day,
                   event_type AS argmax,
                   value AS max_value,
                   row_number() OVER (
                       PARTITION BY CAST(ts AS DATE)
                       ORDER BY value DESC, event_type ASC
                   ) AS rn
            -- NULL measures cannot win an argmax (engine policy): Spark's
            -- min-of-struct sorts NULL first (it would WIN) while this
            -- window's DESC NULLS LAST puts it last — filter on both
            -- sides instead of relying on either engine's NULL order.
            -- NaN likewise (ADVICE-r3 class): DuckDB orders NaN above
            -- every real value (it would win) while Spark's negated
            -- min_by struct puts it last — NaN is not a rankable measure.
            -- A NULL WITNESS cannot win either (hostile-events finding):
            -- on a value tie Spark's struct-min sorts the NULL witness
            -- first (it wins) while this window's ASC NULLS LAST ranks
            -- it last — an argmax with no name is excluded by policy.
            FROM events
            WHERE value IS NOT NULL AND NOT isnan(value)
              AND event_type IS NOT NULL
        )
        WHERE rn = 1
    """,
    doc="lab11 parity: per-day argmax (event_type with the highest value); "
    "ties broken on the smallest witness (SURVEY §2.10.7); NULL measures "
    "excluded by policy",
    tags=("parity", "lab11", "aggregate", "argmax"),
)
def q_argmax_type_per_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single hash aggregate via min_by over (−value, witness) — no window
    sort; the reference needs a full reducer with a running max
    (`lab11:94-112`)."""
    events = load_table(spark, sf_dir, "events")
    rows = events.select(F.to_date("ts").alias("day"), "value", "event_type").filter(
        # NULL/NaN measures and NULL witnesses excluded by policy — see
        # oracle comment
        F.col("value").isNotNull()
        & ~F.isnan("value")
        & F.col("event_type").isNotNull()
    )
    return argmax_per_group(rows, "day", "value", "event_type")
