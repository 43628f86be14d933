"""Join-strategy invariance: a registered query must return IDENTICAL
results when broadcast-hash joins are globally disabled (threshold -1,
forcing sort-merge/shuffled-hash plans).

This is the STATIC planner twin of the AQE gate: which side builds the
hash table, whether a dim is replicated or shuffled, and whether rows
meet in build order or sort order are all freedoms the optimizer owns —
on a real cluster they flip with executor memory and table statistics,
not with the query. A lane that leans on broadcast-build row order
(first()-recovered attributes, unordered collects fed by the join,
limit-without-sort downstream) is run-stable locally and wrong at
scale. Explicit broadcast() hints still force those joins; the gate
covers the hint-free joins Catalyst auto-selects — which is exactly
where a threshold change on a production cluster silently re-plans.

Scope: join-tagged lanes (plus asof/semi/anti/outer via their tags'
overlap with "join"). Lanes set no conf, so the OFF leg sets the
runtime-settable threshold for its own length with ``scoped_conf``.
"""

from __future__ import annotations

import pytest

from hadoop_lab_spark.plans.registry import REGISTRY, load_all_query_modules
from hadoop_lab_spark.session import _RUNTIME_CONF, scoped_conf

from tests.conftest import SF_DIR

load_all_query_modules()

_KEY = "spark.sql.autoBroadcastJoinThreshold"

CANDIDATES = sorted(
    n
    for n, s in REGISTRY.items()
    if "streaming" not in s.tags and {"join", "asof", "range-join"} & set(s.tags)
)


def test_selection_is_substantial():
    assert len(CANDIDATES) >= 30, len(CANDIDATES)


def _rows(df):
    return sorted(repr(tuple(r)) for r in df.collect())


@pytest.mark.parametrize("name", CANDIDATES)
def test_identical_without_auto_broadcast(spark, name):
    spec = REGISTRY[name]
    assert spark.conf.get(_KEY) == _RUNTIME_CONF[_KEY]
    a = _rows(spec.fn(spark, SF_DIR))
    with scoped_conf(spark, _KEY, "-1"):
        b = _rows(spec.fn(spark, SF_DIR))
        assert spark.conf.get(_KEY) == "-1", "OFF leg overridden — vacuous gate"
    assert a == b, f"{name}: results differ when auto-broadcast is disabled"
