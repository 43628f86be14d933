"""tune_session contract on foreign (driver-owned) sessions.

The verify driver passes its OWN session into ``queries()``; every conf
tune_session touches there is a guest edit. Most engine confs are plain
overrides, but rule exclusions are ADDITIVE configuration — overwriting
``spark.sql.optimizer.excludedRules`` wholesale would silently clobber
whatever the session owner had excluded (ADVICE r9).
"""

from __future__ import annotations

import pytest

from hadoop_lab_spark.session import (
    _EXCLUDED_RULES_KEY,
    _RUNTIME_CONF,
    _merged_excluded_rules,
    scoped_conf,
    tune_session,
)

_OURS = _RUNTIME_CONF[_EXCLUDED_RULES_KEY]


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
