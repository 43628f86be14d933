"""tune_session contract on foreign (driver-owned) sessions.

The verify driver passes its OWN session into ``queries()``; every conf
tune_session touches there is a guest edit. Most engine confs are plain
overrides, but rule exclusions are ADDITIVE configuration — overwriting
``spark.sql.optimizer.excludedRules`` wholesale would silently clobber
whatever the session owner had excluded (ADVICE r9).

The session is tuned once, where it enters the engine (``get_spark``,
``__spark_entry__``); lanes and loaders set no conf, so a caller's
setting holds for every lane built after it.
"""

from __future__ import annotations

import ast
import pathlib

import pytest

from hadoop_lab_spark.plans.registry import REGISTRY, load_all_query_modules
from hadoop_lab_spark.session import (
    _EXCLUDED_RULES_KEY,
    _RUNTIME_CONF,
    _merged_excluded_rules,
    scoped_conf,
    tune_session,
)

from tests.conftest import SF_DIR

load_all_query_modules()

_OURS = _RUNTIME_CONF[_EXCLUDED_RULES_KEY]
_PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "hadoop_lab_spark"


def _conf_writes(tree: ast.AST) -> list[int]:
    """Line numbers of ``tune_session(...)`` and ``<x>.conf.set/unset(...)``
    calls in one module."""
    lines = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
        conf_write = (
            isinstance(f, ast.Attribute)
            and f.attr in ("set", "unset")
            and isinstance(f.value, ast.Attribute)
            and f.value.attr == "conf"
        )
        if name == "tune_session" or conf_write:
            lines.append(node.lineno)
    return lines


def test_only_the_session_module_sets_conf():
    """Static half of "lanes set no conf", over the whole package (and so
    every registered lane): only session.py sets, unsets or tunes a
    session conf. ``scoped_conf`` users stay allowed — the scope
    restores what it changed."""
    found = {}
    for path in sorted(_PACKAGE.rglob("*.py")):
        if path.name == "session.py" and path.parent == _PACKAGE:
            continue
        lines = _conf_writes(ast.parse(path.read_text(), str(path)))
        if lines:
            found[str(path.relative_to(_PACKAGE))] = lines
    assert not found, f"conf set outside session.py (file: lines): {found}"


#: Values no engine default has, so an overwrite cannot go unseen.
_SENTINELS = {
    "spark.sql.autoBroadcastJoinThreshold": "12345",
    "spark.sql.adaptive.skewJoin.enabled": "false",
}

#: One cheap lane per plan module (a stream lane among them), plus the
#: bucketed-join lane, which relies on Spark's default bucketing conf.
_BUILD_LANES = [
    "asof_purchase_last_signup",  # advanced
    "bucketed_join_order_lines",  # advanced
    "chunk_documents_overlap",  # mlprep
    "wordcount",  # parity
    "text_stats",  # pipeline
    "pricing_summary",  # relational
    "stratified_sample_events",  # scale_ops
    "stream_windowed_event_counts",  # stream_queries
    "q7_volume_shipping",  # tpch_deep
]


def test_build_lanes_cover_every_plan_module():
    modules = {s.fn.__module__ for s in REGISTRY.values()}
    assert {REGISTRY[n].fn.__module__ for n in _BUILD_LANES} == modules


@pytest.fixture
def sentinel_session(spark):
    s = spark.newSession()
    for key, value in _SENTINELS.items():
        s.conf.set(key, value)
    return s


@pytest.mark.parametrize("name", _BUILD_LANES)
def test_lane_build_leaves_the_session_conf_unchanged(sentinel_session, name):
    """Dynamic half: building a lane (and, for the stream lane, running
    its replay) changes no conf of the session it is given."""
    before = sentinel_session.conf.getAll
    REGISTRY[name].fn(sentinel_session, SF_DIR)
    assert sentinel_session.conf.getAll == before


def test_driver_entry_tunes_the_session_it_is_given(sentinel_session):
    """The other side of the boundary: ``queries()[name]`` applies every
    engine conf to the driver's session before building."""
    import __spark_entry__ as e

    s = sentinel_session
    for key in _RUNTIME_CONF:
        if key not in _SENTINELS:
            s.conf.unset(key)
    e.queries()["wordcount"](s, SF_DIR)
    for key, value in _RUNTIME_CONF.items():
        assert s.conf.get(key, None) == value, key


def test_merge_preserves_owner_exclusions(spark):
    original = spark.conf.get(_EXCLUDED_RULES_KEY, None)
    try:
        owner_rule = "org.apache.spark.sql.catalyst.optimizer.CombineFilters"
        spark.conf.set(_EXCLUDED_RULES_KEY, owner_rule)
        tune_session(spark)
        merged = spark.conf.get(_EXCLUDED_RULES_KEY)
        rules = [r.strip() for r in merged.split(",")]
        assert owner_rule in rules, merged
        for ours in _OURS.split(","):
            assert ours.strip() in rules, merged
        # Owner's rule keeps first position: append, don't reorder.
        assert rules[0] == owner_rule
    finally:
        if original is None:
            spark.conf.unset(_EXCLUDED_RULES_KEY)
        else:
            spark.conf.set(_EXCLUDED_RULES_KEY, original)
        tune_session(spark)


def test_merge_is_idempotent(spark):
    original = spark.conf.get(_EXCLUDED_RULES_KEY, None)
    try:
        tune_session(spark)
        once = spark.conf.get(_EXCLUDED_RULES_KEY)
        tune_session(spark)
        twice = spark.conf.get(_EXCLUDED_RULES_KEY)
        assert once == twice
        assert twice.count(_OURS) == 1
    finally:
        if original is None:
            spark.conf.unset(_EXCLUDED_RULES_KEY)
        else:
            spark.conf.set(_EXCLUDED_RULES_KEY, original)
        tune_session(spark)


def test_merge_handles_blank_and_duplicates():
    class _FakeConf:
        def __init__(self, value):
            self._v = value

        def get(self, key, default=None):
            return self._v if self._v is not None else default

    class _FakeSpark:
        def __init__(self, value):
            self.conf = _FakeConf(value)

    assert _merged_excluded_rules(_FakeSpark(None), "a.B") == "a.B"
    assert _merged_excluded_rules(_FakeSpark(""), "a.B") == "a.B"
    assert _merged_excluded_rules(_FakeSpark("a.B"), "a.B") == "a.B"
    assert (
        _merged_excluded_rules(_FakeSpark(" x.Y , a.B "), "a.B") == "x.Y,a.B"
    )


_AQE = "spark.sql.adaptive.enabled"


@pytest.mark.parametrize("prev", [None, "true"], ids=["unset", "set"])
def test_scoped_conf_sets_and_restores(spark, prev):
    original = spark.conf.get(_AQE, None)
    try:
        if prev is None:
            spark.conf.unset(_AQE)
        else:
            spark.conf.set(_AQE, prev)
        with scoped_conf(spark, _AQE, "false"):
            assert spark.conf.get(_AQE) == "false"
        assert spark.conf.get(_AQE, None) == prev
    finally:
        if original is None:
            spark.conf.unset(_AQE)
        else:
            spark.conf.set(_AQE, original)


@pytest.mark.parametrize("refused", ["get", "set"])
def test_scoped_conf_runs_the_body_on_a_session_that_refuses_the_conf(refused):
    """A session that will not read or set the conf runs the body
    unchanged instead of failing it, and nothing is restored after."""
    calls = []

    class _RefusingConf:
        def get(self, key, default=None):
            calls.append("get")
            if refused == "get":
                raise RuntimeError("conf is not readable")
            return "x"

        def set(self, key, value):
            calls.append("set")
            raise RuntimeError("conf is not modifiable")

        def unset(self, key):
            calls.append("unset")

    class _FakeSpark:
        conf = _RefusingConf()

    ran = []
    with scoped_conf(_FakeSpark(), "k", "v"):
        ran.append(True)
    assert ran == [True]
    assert calls == (["get"] if refused == "get" else ["get", "set"])
