"""SparkSession factory and runtime tuning.

The reference (hadoop-lab) hand-assembles a Hadoop ``Job`` per query and
relies on framework defaults (HashPartitioner, single reducer — see
SURVEY.md §3.2). Here the equivalent is a single SparkSession with
scale-aware defaults: AQE re-plans shuffles at runtime (partition
coalescing, skew-join splitting), Arrow accelerates any pandas exchange,
and the session timezone is pinned to UTC so timestamp semantics match
the DuckDB oracle exactly.

The confs are applied once, where a session enters the engine (as the
reference configures its ``Job`` once, at submit); no lane sets one, so
a caller's own setting holds. Two entry points:

- :func:`get_spark` — build a session (local runs, tests, bench).
- :func:`tune_session` — apply the runtime-settable subset of the same
  confs to a session we did *not* create: the verify driver's (applied
  by ``__spark_entry__``), or one you built yourself.

:func:`scoped_conf` changes one conf for the length of a block and
restores it.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

# Conf values that are safe (and wanted) at any scale. Static confs — must
# be set before the JVM starts; applied only by get_spark().
_STATIC_CONF = {
    "spark.sql.shuffle.partitions": None,  # filled from cpu count below
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    # one JVM locally, many executors on a cluster: either way, off-heap
    # columnar reads and a sane broadcast threshold.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
}

# Runtime-settable confs: applied both at build time and to foreign sessions.
_RUNTIME_CONF = {
    # AQE: runtime shuffle-partition coalescing, skew-join splitting, and
    # dynamic broadcast conversion — the knobs the reference hardcodes
    # (combiner placement, single reducer) become adaptive here.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas_udf / toPandas path (similarity, multimodal).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic timestamp semantics vs the DuckDB oracle
    # (DuckDB timestamps are UTC-naive).
    "spark.sql.session.timeZone": "UTC",
    # 10 MB default is conservative; dims like region/nation/supplier are
    # tiny even at 100 TB lineitem scale.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Spark has no TIMESTAMP(NANOS) type; read nano columns as raw int64
    # nanos and let the loader convert (sources/tables.py::_normalize).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # InferFiltersFromGenerate synthesizes `size(e) > 0 AND isnotnull(e)`
    # below every explode, where `e` is the generator's INPUT EXPRESSION.
    # For a stored array column that predicate is a cheap column read; for
    # a COMPUTED array (explode(split(text)), the shingle pipelines) the
    # alias gets substituted on pushdown and the whole tokenize/slide/
    # distinct chain is evaluated a second time per row purely to decide
    # "is the array I am about to build non-empty" — a pure CPU doubling,
    # since explode already emits zero rows for empty arrays (identical
    # semantics with or without the rule). Measured at sf0.1: the rule
    # costs 2.6x on dedup_ngram_jaccard (5.9 -> 2.3 s; r9,
    # PERFORMANCE.md). Only ATTRIBUTE-child generators are affected —
    # Spark's own SPARK-33544 guard already skips expression children
    # like wordcount's explode(split(text)), so that lane was never hit.
    # Every explode in this repo feeds a computed array except two
    # stored-column posexplode("embedding") sites, where the inferred
    # filter saves nothing (the lanes pre-filter NULL vectors).
    # Excluding the rule is semantics-neutral by construction.
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
}


def default_parallelism() -> int:
    """Shuffle-partition default: env override, else 2× local cores.

    On a real cluster you want 2-3× total executor cores (and AQE coalesces
    down); locally SPARK_GRAFT_CPUS drives it.
    """
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        try:
            return max(2 * int(env), 4)
        except ValueError:
            pass
    return max(2 * (os.cpu_count() or 4), 4)


_EXCLUDED_RULES_KEY = "spark.sql.optimizer.excludedRules"


def _merged_excluded_rules(spark: SparkSession, ours: str) -> str:
    """Append our rule exclusions to whatever the session owner already
    excluded (comma-joined, deduped, owner's order preserved) — setting
    the conf wholesale on a foreign session would silently clobber
    their exclusions (ADVICE r9)."""
    try:
        existing = spark.conf.get(_EXCLUDED_RULES_KEY, None)
    except Exception:
        existing = None
    rules = [r.strip() for r in (existing or "").split(",") if r.strip()]
    for r in ours.split(","):
        r = r.strip()
        if r and r not in rules:
            rules.append(r)
    return ",".join(rules)


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an existing session.

    Used once, when a session the engine did not build enters it. Only
    touches confs that Spark allows changing at runtime; additive
    confs (rule exclusions) merge with the owner's value rather than
    replace it.
    """
    for key, value in _RUNTIME_CONF.items():
        try:
            if key == _EXCLUDED_RULES_KEY:
                value = _merged_excluded_rules(spark, value)
            spark.conf.set(key, value)
        except Exception:
            # Foreign session may restrict some confs; never fail a query
            # over a tuning hint.
            pass
    return spark


@contextmanager
def scoped_conf(spark: SparkSession, key: str, value: str):
    """Scope in which the session conf ``key`` reads ``value``.

    The setting is session-wide for the duration of the scope (the
    engine runs one plan build or write at a time per session). The
    previous value is always restored, and unset again if it was unset.
    A session that refuses to read or set the conf runs the body
    unchanged: like :func:`tune_session`, a scope that only tunes speed
    or plan shape never fails the query."""
    try:
        prev = spark.conf.get(key, None)
        spark.conf.set(key, value)
        applied = True
    except Exception:
        applied = False
    if not applied:
        yield
        return
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def get_spark(
    app_name: str = "hadoop-lab-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``);
    on a cluster, pass the real master URL or rely on spark-submit.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"

    builder = SparkSession.builder.appName(app_name).master(master)

    static = dict(_STATIC_CONF)
    static["spark.sql.shuffle.partitions"] = str(
        shuffle_partitions or default_parallelism()
    )
    if master.startswith("local"):
        # In local mode the driver JVM IS every executor, yet Spark's
        # default heap is 1 GiB — 32 concurrent tasks spill-thrash and
        # can OOM outright (found by the 10× scale sweep: a sort-based
        # aggregation fallback died in stage 7). Static conf: must be
        # set before the JVM starts, so only get_spark() sessions get
        # it; SPARK_GRAFT_DRIVER_MEM overrides.
        static.setdefault(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
    for key, value in {**static, **_RUNTIME_CONF, **(extra_conf or {})}.items():
        if value is not None:
            builder = builder.config(key, value)

    spark = builder.getOrCreate()
    return tune_session(spark)
