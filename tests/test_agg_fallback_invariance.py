"""Aggregation memory-pressure invariance: a registered query must return
IDENTICAL results when Spark's aggregation falls back from hash-based to
sort-based execution.

At 100 TB this fallback is not hypothetical — it is the DESIGNED
response to memory pressure: ObjectHashAggregate (the operator behind
collect_list/collect_set/percentile/min_by TypedImperativeAggregates)
switches to sort-based aggregation mid-task once its map exceeds
`spark.sql.objectHashAggregate.sortBased.fallbackThreshold` (default
128) entries, and a cluster under pressure can take the sort path on
some tasks and the hash path on others within ONE query. Sort-based
aggregation feeds each group's rows in SORT order, hash-based in
ARRIVAL order — any aggregate whose result leans on accumulation order
(unsorted collects, first-bias, float folds) answers differently per
task under load while looking stable on a fat dev box.

Two hostile legs against the default:
  leg B: fallbackThreshold=1 — every ObjectHashAggregate falls back
         after its first entry (the under-pressure execution).
  leg C: useObjectHashAggregateExec=false — the planner never offers
         the hash operator at all (pure SortAggregate plans, also the
         shape older Spark versions ran).

Scope: aggregation-bearing lane families (collect/argmax/percentile/
aggregate/sketch/topk tags). Both confs are runtime-settable, and no
lane sets a conf, so each leg holds for the lanes it builds.
"""

from __future__ import annotations

import pytest

from hadoop_lab_spark.plans.registry import REGISTRY, load_all_query_modules

from tests.conftest import SF_DIR

load_all_query_modules()

_AGG_TAGS = {
    "collect",
    "argmax",
    "aggregate",
    "percentile",
    "sketch",
    "topk",
    "grouping-sets",
    "rollup",
}

CANDIDATES = sorted(
    n
    for n, s in REGISTRY.items()
    if "streaming" not in s.tags and _AGG_TAGS & set(s.tags)
)

_THRESH = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
_USEOBJ = "spark.sql.execution.useObjectHashAggregateExec"


def test_selection_is_substantial():
    assert len(CANDIDATES) >= 40, len(CANDIDATES)


def _rows(df):
    return sorted(repr(tuple(r)) for r in df.collect())


@pytest.mark.parametrize("name", CANDIDATES)
def test_identical_under_agg_fallback(spark, name):
    spec = REGISTRY[name]
    try:
        a = _rows(spec.fn(spark, SF_DIR))
        spark.conf.set(_THRESH, "1")
        b = _rows(spec.fn(spark, SF_DIR))
        spark.conf.set(_USEOBJ, "false")
        c = _rows(spec.fn(spark, SF_DIR))
    finally:
        spark.conf.unset(_THRESH)
        spark.conf.unset(_USEOBJ)
    assert a == b, f"{name}: results differ under sort-based agg fallback"
    assert a == c, f"{name}: results differ without ObjectHashAggregate"
