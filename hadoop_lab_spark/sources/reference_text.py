"""Reference-text reader: the §1.4 quirk semantics as composable Columns.

The reference jobs read raw text lines and parse them with naive
``split`` + positional indexing (SURVEY.md §1.3-1.4). A real CSV parser
would *diverge* on two of its own datasets (unquoted commas inside
fields — `lab10/Books-mini.csv:13`; BOM'd headers dropped only by parse
failure — `lab3/Temperature.txt:1`), so parity requires reproducing the
naive semantics, isolated here so the parquet-path queries stay clean.

Everything is a Column expression over ``spark.read.text`` lines — the
whole parse pipeline runs inside the scan's codegen stage; at 100 TB
this is exactly how you'd land raw text into a first-pass bronze table.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_lab_spark.session import scoped_conf


def read_lines(spark: SparkSession, path: str) -> DataFrame:
    """Raw text lines, one row per line, column `value` (operator S1)."""
    return spark.read.text(path)


def naive_split(line: Column, delim: str) -> Column:
    """The reference's ``String.split(delim)`` — NO quoting, NO escaping
    (operator S2/S3/S4). `delim` is a Java regex ('\\s+', ',', '::').

    Java split drops trailing empty strings; Spark's split keeps them.
    That difference IS reachable through the lab consumers — a line with
    n-1 real fields plus a trailing delimiter ("a,b," with arity>=3 and
    a STRING-typed last field, the lab8/9/10 shape) passes the Spark
    arity guard with a phantom '' field where Java drops the row.

    Emulation is Java's ACTUAL order — split first, then drop the
    trailing run of empty fields. The earlier textual form (strip the
    trailing delimiter run from the string, then split) mis-frames
    multi-char delimiters: on ':::::' the greedy '(?:::)+$' strip eats
    four chars that Java tokenizes as two delimiters plus a ':' TOKEN,
    turning Java's ['', '', ':'] into [':'] — found by the hypothesis
    twin in tests/test_java_split_semantics.py. Split-then-strip is
    exact for every input, including the all-delimiter line (',,,' →
    [] as in Java) and the empty string ([''], Java's one special
    case).

    The trailing-run length is an `aggregate` fold (running counter
    reset on non-empty). HOFs are CodegenFallback, which is fine HERE:
    this parser exists for the raw-text lab drop-in path, not the
    parquet hot path.
    """
    arr = F.split(line, delim)
    trailing = F.aggregate(
        arr,
        F.lit(0),
        lambda acc, x: F.when(x == "", acc + 1).otherwise(F.lit(0)),
    )
    stripped = F.slice(arr, F.lit(1), F.size(arr) - trailing)
    return F.when(line == "", F.array(F.lit(""))).otherwise(stripped)


def split_lines(
    spark: SparkSession,
    path: str,
    delim: str,
    *,
    trim: bool = False,
    keep: Column | None = None,
) -> DataFrame:
    """The lab parse front end: the lines of `path`, each split the Java
    way ONCE, as the single array column `p`.

    `trim` splits ``trim(value)`` (the whitespace-delimited labs);
    `keep` is a predicate over the raw line column `value` (header or
    blank-line guard), applied before the split.

    The split sits in a one-element generator, ``explode(array(...))``,
    which is an optimizer barrier: a filter on `p` refers to the
    generator's output, so Catalyst cannot push it below the generator
    and inline the whole split into it (SPARK-33544 also keeps
    ``InferFiltersFromGenerate`` off ``CreateArray`` children). Through
    a plain projection Catalyst would substitute the split into a lab's
    arity guard, its cast guard and its projection, each re-running the
    split and the fold of `naive_split`.
    """
    lines = read_lines(spark, path)
    if keep is not None:
        lines = lines.filter(keep)
    line = F.trim(F.col("value")) if trim else F.col("value")
    return lines.select(F.explode(F.array(naive_split(line, delim))).alias("p"))


def field(parts: Column, idx: int) -> Column:
    """Positional projection with per-field trim (operators P1 + P6).
    0-based like the Java code; element_at is 1-based."""
    return F.trim(F.element_at(parts, idx + 1))


def arity_at_least(parts: Column, n: int) -> Column:
    """Malformed-row filter: keep rows with >= n fields (operator P3)."""
    return F.size(parts) >= n


def try_int(c: Column) -> Column:
    """`Integer.parseInt` with skip-on-exception semantics (operator P4):
    try_cast keeps the row as NULL, the caller filters isNotNull.

    Also covers the lab3 BOM/header case with NO special-casing: the
    header row's value column fails the cast exactly like the Java
    parse failure (`lab3/HighestTemperature.sh:88-92`)."""
    return c.try_cast("int")


def non_blank(line: Column) -> Column:
    """Empty-line filter (operator P5, `lab7/WeatherAnalyzer.sh:79-81`)."""
    return F.length(F.trim(line)) > 0


def skip_header_prefix(line: Column, prefix: str) -> Column:
    """Header-skip by literal prefix match (`lab8:85`, `lab10:79`,
    `lab11:81`)."""
    return ~line.startswith(prefix)


def skip_header_first_token(parts: Column, token: str) -> Column:
    """Header-skip by case-insensitive first token (`lab6:84`, `lab7:85`)."""
    return F.lower(field(parts, 0)) != token.lower()


def to_reference_lines(df: DataFrame, *cols: str, ends_in_exchange: bool = False) -> DataFrame:
    """Render rows as the reference's sink format (operators S7 + O1):
    tab-separated values, sorted by the STRING form of the first column
    (Hadoop sorts Text keys lexicographically — years sort as strings,
    deliberately), in ONE partition — the reference's single reducer
    (`lab2/WordCount.sh:155`).

    The rows are brought to one partition and sorted inside it; a global
    ``orderBy`` would first run a job that samples keys for range
    partitioning, only for the single writing task to hold every row
    anyway.

    ``ends_in_exchange`` says that `df`'s plan already ends in an
    exchange (a grouped aggregate). Then ``coalesce(1)`` stands in for
    a second exchange: the final aggregate, the sort and the write run
    in one task that reads the aggregate's shuffle — the reference's
    single reducer — and one job is saved. Without it, as for a
    map-only result (lab7), ``repartition(1)`` adds one exchange to a
    single partition, so the scan and parse below it keep their
    parallelism; a coalesce there would pull them into the one task.

    Returns a 1-column DataFrame `line`, in key order.
    """
    key = F.col(cols[0]).cast("string")
    single = df.coalesce(1) if ends_in_exchange else df.repartition(1)
    return single.sortWithinPartitions(key.asc()).select(
        F.concat_ws("\t", *[F.col(c).cast("string") for c in cols]).alias("line")
    )


def write_reference_output(
    df: DataFrame, path: str, *cols: str, ends_in_exchange: bool = False
) -> None:
    """Reference sink parity: one tab-separated text file, key-sorted
    (``to_reference_lines``; ``ends_in_exchange`` as there).

    The write runs with the text scans split across every core. A file
    scan's split size is ``min(filesMaxPartitionBytes,
    max(openCostInBytes, bytes / default parallelism))``, so the 4 MB
    default open cost makes a lab input of a few MB one scan task.
    With the open cost at 1 byte the split is about bytes / cores, and
    inputs of at least 128 MB x cores split exactly as before. (At 0,
    an input of fewer bytes than cores gets a split size of 0, which
    Spark rejects.) Spark reads these values from the session conf only
    (``FilePartition.maxSplitBytes``); a reader option cannot set them,
    so the open cost is a :func:`~hadoop_lab_spark.session.scoped_conf`:
    session-wide while the write runs, and always restored.

    The part file is renamed to ``part-r-00000`` — the exact MapReduce
    reducer-output name every reference walkthrough ``cat``s
    (`lab2/WordCount.sh:158`), so existing muscle memory works verbatim.
    An empty result still writes that one (empty) file."""
    lines = to_reference_lines(df, *cols, ends_in_exchange=ends_in_exchange)
    with scoped_conf(df.sparkSession, "spark.sql.files.openCostInBytes", "1"):
        lines.write.mode("overwrite").text(path)
    parts = glob.glob(os.path.join(path, "part-*"))
    if len(parts) == 1 and os.path.basename(parts[0]) != "part-r-00000":
        os.replace(parts[0], os.path.join(path, "part-r-00000"))
