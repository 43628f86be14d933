"""AQE-invariance differential: a registered query must return IDENTICAL
results with Adaptive Query Execution ON and OFF.

AQE is a runtime RE-PLANNER — it coalesces shuffle partitions from live
statistics, converts sort-merge joins to broadcast joins mid-query, and
splits skewed partitions. Every one of those rewrites changes task
boundaries and per-task row order, i.e. the same freedoms the shuffle-
partition and file-layout gates vary — but chosen by the engine at RUN
time from data statistics, so a lane that survives both static gates
can still lean on an AQE-specific accident (a coalesced partition's
accumulation order, a broadcast side's build order). Production
clusters also genuinely differ on this switch (AQE is default-on in
Spark 3.2+ but widely pinned off for plan stability), so "same answer
either way" is a portability contract, not paranoia.

Scope: the shuffle-heavy lane families where AQE actually rewrites
something (joins, windows, dedup/LSH self-joins, iterative graph,
grouping sets, sampling windows). Scan-local lanes have nothing for
AQE to re-plan; the oracle mirror already covers them at this SF, so
burning a second full-registry pass here would be cost without signal.
"""

from __future__ import annotations

import pytest

from hadoop_lab_spark.plans.registry import REGISTRY, load_all_query_modules
from hadoop_lab_spark.session import scoped_conf

from tests.conftest import SF_DIR

load_all_query_modules()

_AQE = "spark.sql.adaptive.enabled"

_AQE_SENSITIVE_TAGS = {
    "join",
    "window",
    "dedup",
    "graph",
    "lsh",
    "grouping-sets",
    "sampling",
    "skew",
    "topk",
    "iterative",
}

CANDIDATES = sorted(
    n
    for n, s in REGISTRY.items()
    if "streaming" not in s.tags and _AQE_SENSITIVE_TAGS & set(s.tags)
)


def test_selection_is_substantial():
    assert len(CANDIDATES) >= 40, len(CANDIDATES)


def _rows(df):
    return sorted(repr(tuple(r)) for r in df.collect())


@pytest.mark.parametrize("name", CANDIDATES)
def test_identical_with_and_without_aqe(spark, name):
    # Lanes set no conf, so the OFF leg is a plain scoped set; the
    # assertion inside the leg fails the gate if a lane ever resets it.
    spec = REGISTRY[name]
    assert spark.conf.get(_AQE) == "true"
    a = _rows(spec.fn(spark, SF_DIR))
    with scoped_conf(spark, _AQE, "false"):
        b = _rows(spec.fn(spark, SF_DIR))
        assert (
            spark.conf.get(_AQE) == "false"
        ), "OFF leg was overridden — the gate would be vacuous"
    assert a == b, f"{name}: results differ between AQE on and off"
