"""The 10 reference jobs as Spark pipelines over their raw text inputs.

A user of BiswajitHemram/hadoop-lab points these at the SAME text files
their ``./<Lab>.sh`` scripts consume and gets the same answers — this is
the drop-in parity surface (the parquet-path queries in plans/parity.py
express the same operators over the star schema for the oracle gate).

Each function returns the final DataFrame; ``run_lab`` writes it in the
reference's `key\\tvalue`, string-sorted, single-file shape through
``sources.reference_text.write_reference_output``, which reads each text
input with one scan task per core. Every lab but lab7 ends in a grouped
aggregate, so its rows already come out of a shuffle and the sink
gathers them into the one writing task without a second exchange;
lab7's day-by-day rows have no aggregate (``MAP_ONLY_LABS``) and keep
the sink's own exchange, so their scan and parse stay parallel.

Determinism divergences (documented, SURVEY.md §2.10.7-8): collected
strings are element-sorted, argmax ties break on the smallest witness —
the reference is shuffle-arrival-order non-deterministic in both.
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
    wordcount,
)
from hadoop_lab_spark.sources.reference_text import (
    arity_at_least,
    field,
    non_blank,
    read_lines,
    skip_header_first_token,
    skip_header_prefix,
    split_lines,
    try_int,
)


def lab2_wordcount(spark: SparkSession, path: str) -> DataFrame:
    """lab2/WordCount.sh:61-123 — case-sensitive whitespace word count."""
    lines = read_lines(spark, path)
    return wordcount(lines, "value")


def lab3_highest_temperature(spark: SparkSession, path: str) -> DataFrame:
    """lab3/HighestTemperature.sh:62-136 — max temperature per year.

    No BOM/header special-case: the BOM'd header row survives the arity
    guard and dies on the int cast, exactly like the Java parse failure
    (`lab3:88-92`)."""
    rows = (
        split_lines(spark, path, r"\s+", trim=True)
        .filter(F.size("p") == 2)
        .select(field(F.col("p"), 0).alias("year"), try_int(field(F.col("p"), 1)).alias("temp"))
        .filter(F.col("temp").isNotNull())
    )
    return max_per_group(rows, "year", "temp", out="max_temp")


def lab4_student_grades(spark: SparkSession, path: str) -> DataFrame:
    """lab4/StudentGrades.sh:61-140 — marks→letter grade, collect
    'subject:grade' per student (elements sorted — §2.10.8)."""
    rows = (
        split_lines(spark, path, ",")
        .filter(F.size("p") == 3)
        .select(
            field(F.col("p"), 0).alias("student"),
            field(F.col("p"), 1).alias("subject"),
            try_int(field(F.col("p"), 2)).alias("marks"),
        )
        .filter(F.col("marks").isNotNull())
    )
    entry = F.concat(F.col("subject"), F.lit(":"), bucketize("marks"))
    return collect_per_group(rows.select("student", entry.alias("entry")), "student", "entry")


def lab5_matrix_multiply(spark: SparkSession, path: str) -> DataFrame:
    """lab5/MatrixMultiplication.sh:61-159 — COO matmul; input lines
    `tag,row,col,value` with tag∈{A,B}. Dimensions derive from the data
    (the reference hardcodes K=2 — `lab5:86,106`); the composite output
    key `"i,j"` is rendered at the sink, kept as real columns here."""
    cells = (
        split_lines(spark, path, ",")
        .filter(arity_at_least(F.col("p"), 4))
        .select(
            field(F.col("p"), 0).alias("tag"),
            try_int(field(F.col("p"), 1)).alias("i"),
            try_int(field(F.col("p"), 2)).alias("j"),
            try_int(field(F.col("p"), 3)).alias("value"),
        )
        .filter(F.col("i").isNotNull() & F.col("j").isNotNull() & F.col("value").isNotNull())
    )
    a = cells.filter(F.col("tag") == "A").select("i", "j", "value")
    b = cells.filter(F.col("tag") == "B").select("i", "j", "value")
    out = coo_matmul(a, b)
    return out.select(
        F.concat_ws(",", F.col("i"), F.col("j")).alias("cell"), F.col("value")
    )


def lab6_max_electricity(spark: SparkSession, path: str) -> DataFrame:
    """lab6/MaxElectricityConsumption.sh:61-134 — per-year max of the
    monthly columns, EXCLUDING the trailing annual_avg (`lab6:93`).

    The row max is `array_max` over cols 1..n-2 computed map-side (the
    wide row never crosses the shuffle), generalized to any width —
    the reference's loop bound `i < parts.length - 1` made per-file.

    Row-skip, not value-skip: the reference's try/catch wraps the whole
    month loop (`lab6:88-99`), so a row with ANY unparseable month is
    dropped entirely — hence the `forall isNotNull` guard, not a
    null-ignoring max."""
    months = F.transform(
        F.slice(F.col("p"), 2, F.size("p") - 2),
        lambda c: F.trim(c).try_cast("int"),
    )
    rows = (
        split_lines(spark, path, r"\s+", trim=True)
        .filter(arity_at_least(F.col("p"), 3))
        .filter(skip_header_first_token(F.col("p"), "year"))
        .select(field(F.col("p"), 0).alias("year"), months.alias("m"))
        .filter(F.forall("m", lambda x: x.isNotNull()))
        .select("year", F.array_max("m").alias("row_max"))
    )
    return max_per_group(rows, "year", "row_max", out="max_consumption")


def lab7_weather(spark: SparkSession, path: str) -> DataFrame:
    """lab7/WeatherAnalyzer.sh:61-127 — classify each day Shiny/Cool by
    max temp (>= 30 → Shiny, boundary inclusive — §2.10.3)."""
    rows = (
        split_lines(spark, path, r"\s+", trim=True, keep=non_blank(F.col("value")))
        .filter(arity_at_least(F.col("p"), 2))
        .filter(skip_header_first_token(F.col("p"), "date"))
        .select(
            field(F.col("p"), 0).alias("date"),
            try_int(field(F.col("p"), 1)).alias("maxtemp"),
        )
        .filter(F.col("maxtemp").isNotNull())
    )
    return rows.select("date", classify_threshold("maxtemp").alias("weather"))


def lab8_product_sales(spark: SparkSession, path: str) -> DataFrame:
    """lab8/ProductSalesAnalyzer.sh:61-128 — transaction count per
    country (field 9 of 13; counts ROWS, not distinct products —
    §2.10.5)."""
    rows = (
        split_lines(spark, path, ",", keep=skip_header_prefix(F.col("value"), "Transaction"))
        .filter(arity_at_least(F.col("p"), 9))
        .select(field(F.col("p"), 8).alias("country"))
    )
    return count_per_group(rows, "country")


def lab9_movie_tags(spark: SparkSession, path: str) -> DataFrame:
    """lab9/MovieTagsAnalyzer.sh:61-114 — concatenate tags per movie
    (`::`-delimited input; elements sorted — §2.10.8)."""
    rows = (
        split_lines(spark, path, "::")
        .filter(arity_at_least(F.col("p"), 3))
        .select(field(F.col("p"), 1).alias("movie_id"), field(F.col("p"), 2).alias("tag"))
    )
    return collect_per_group(rows, "movie_id", "tag", out="tags")


def lab10_book_publications(spark: SparkSession, path: str) -> DataFrame:
    """lab10/BookPublicationFrequency.sh:61-116 — book count per
    publication year.

    Parity subtleties: NAIVE comma split (an unquoted comma inside a
    later field is harmless because YEAR_INDEX=3 precedes the overflow —
    §1.4.2, a real CSV parser would differ) and the year stays a STRING
    (§2.10.6)."""
    rows = (
        split_lines(spark, path, ",", keep=skip_header_prefix(F.col("value"), "ISBN"))
        .filter(arity_at_least(F.col("p"), 4))
        .select(field(F.col("p"), 3).alias("year"))
    )
    return count_per_group(rows, "year")


def lab11_uber_trips(spark: SparkSession, path: str) -> DataFrame:
    """lab11/UberTripAnalyzer.sh:61-137 — per date, the dispatching base
    with the most trips (strictly-greater running max in the reference;
    deterministic smallest-base tie-break here — §2.10.7)."""
    rows = (
        split_lines(
            spark, path, ",", keep=skip_header_prefix(F.col("value"), "dispatching_base_number")
        )
        .filter(arity_at_least(F.col("p"), 4))
        .select(
            field(F.col("p"), 0).alias("base"),
            field(F.col("p"), 1).alias("date"),
            try_int(field(F.col("p"), 3)).alias("trips"),
        )
        .filter(F.col("trips").isNotNull())
    )
    return argmax_per_group(rows, "date", "trips", "base", max_out="trips", witness_out="base")


#: Lab number → pipeline, for the CLI and the golden-fixture tests.
LABS = {
    2: lab2_wordcount,
    3: lab3_highest_temperature,
    4: lab4_student_grades,
    5: lab5_matrix_multiply,
    6: lab6_max_electricity,
    7: lab7_weather,
    8: lab8_product_sales,
    9: lab9_movie_tags,
    10: lab10_book_publications,
    11: lab11_uber_trips,
}

#: Labs whose result has no grouped aggregate above the scan; every
#: other lab's result already ends in an exchange.
MAP_ONLY_LABS = frozenset({7})


def run_lab(spark: SparkSession, lab: int, input_path: str, output_dir: str | None = None) -> DataFrame:
    """Run one lab pipeline; optionally write the reference-shaped output
    (tab-separated, key-string-sorted, single file)."""
    from hadoop_lab_spark.sources.reference_text import write_reference_output

    df = LABS[lab](spark, input_path)
    if output_dir is not None:
        write_reference_output(
            df, output_dir, *df.columns, ends_in_exchange=lab not in MAP_ONLY_LABS
        )
    return df
