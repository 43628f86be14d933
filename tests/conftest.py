from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", SF_DIR)


@pytest.fixture(scope="session")
def spark():
    from hadoop_lab_spark.session import get_spark

    spark = get_spark(app_name="hadoop-lab-spark-tests", shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(autouse=True)
def _session_conf_unchanged(request):
    """State guard: a test that uses the shared session must leave its
    runtime conf as it found it. Lanes set no conf, so a leak here is
    the test's own set without a restore (use ``scoped_conf``), and it
    would otherwise change the plan of every later test. The session is
    put back before the test is failed, so one leak names one test."""
    if "spark" not in request.fixturenames:
        yield
        return
    spark = request.getfixturevalue("spark")
    before = spark.conf.getAll
    yield
    after = spark.conf.getAll
    if after == before:
        return
    changed = {
        k: (before.get(k), after.get(k))
        for k in before.keys() | after.keys()
        if before.get(k) != after.get(k)
    }
    for key, (old, _new) in changed.items():
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    pytest.fail(f"test left the session conf changed (before, after): {changed}")


@pytest.fixture(scope="session")
def oracle_con():
    from hadoop_lab_spark.testing import duckdb_connection

    con = duckdb_connection(SF_DIR_ORACLE)
    yield con
    con.close()
