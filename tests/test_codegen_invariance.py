"""Codegen-fallback invariance: a registered query must return IDENTICAL
results with whole-stage codegen + compiled expressions DISABLED
(interpreted evaluation paths).

This is not testing Spark for sport — interpreted fallback is a REAL
at-scale execution mode: generated code that exceeds the JVM's 64KB
method limit (wide schemas, long CASE chains, deep expression trees —
exactly what grows with production column counts) makes Spark silently
fall back per-stage (`spark.sql.codegen.fallback` is default-true), so
a 100 TB plan can run some stages compiled and others interpreted
within one query. If any expression this repo leans on (xxhash64
chains, decimal casts/rounds, higher-order array lambdas, regexp,
aes/md5 hashing) disagreed between its compiled and interpreted
implementations, answers would drift at scale with no error anywhere.

Scope: the expression-heavy families (text/hashing/dedup/sketch/array/
json/regexp/string/decimal-money TPC-H). Pandas-UDF lanes execute in
Python either way and the pure join/agg shapes are covered by the
oracle mirror; burning a second pass there adds cost, not signal.
"""

from __future__ import annotations

import pytest

from hadoop_lab_spark.plans.registry import REGISTRY, load_all_query_modules
from hadoop_lab_spark.session import scoped_conf

from tests.conftest import SF_DIR

load_all_query_modules()

_EXPR_HEAVY_TAGS = {
    "text",
    "dedup",
    "functions",
    "string",
    "array",
    "map",
    "regexp",
    "json",
    "sketch",
    "vector",
    "simhash",
    "lsh",
    "tpch",
    "quality",
    "ngram",
    "tfidf",
}

CANDIDATES = sorted(
    n
    for n, s in REGISTRY.items()
    if "streaming" not in s.tags and _EXPR_HEAVY_TAGS & set(s.tags)
)


def test_selection_is_substantial():
    assert len(CANDIDATES) >= 50, len(CANDIDATES)


def _rows(df):
    return sorted(repr(tuple(r)) for r in df.collect())


@pytest.mark.parametrize("name", CANDIDATES)
def test_identical_interpreted_vs_codegen(spark, name):
    spec = REGISTRY[name]
    with scoped_conf(spark, "spark.sql.codegen.wholeStage", "true"):
        a = _rows(spec.fn(spark, SF_DIR))
    with (
        scoped_conf(spark, "spark.sql.codegen.wholeStage", "false"),
        scoped_conf(spark, "spark.sql.codegen.factoryMode", "NO_CODEGEN"),
    ):
        b = _rows(spec.fn(spark, SF_DIR))
    assert a == b, f"{name}: results differ between codegen and interpreted"
