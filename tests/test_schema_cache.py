"""The parquet schema lookup (`sources.tables.parquet_schema`) never
serves a stale schema, and a warm load launches no Spark job.

Every load infers once per version of the files; these tests change the
files or the inference confs in the ways a cache keyed too loosely would
miss, and check that the next `load_table` reads what a fresh
`spark.read.parquet` infers.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hadoop_lab_spark.session import scoped_conf
from hadoop_lab_spark.sources import tables
from hadoop_lab_spark.sources.tables import load_table, parquet_schema, table_path
from hadoop_lab_spark.streaming.jobs import stream_events

from tests.conftest import SF_DIR

_INSTANTS = [
    dt.datetime(2024, 1, 1, 0, 0, 0, 123456),
    dt.datetime(2024, 6, 30, 23, 59, 59, 999999),
    dt.datetime(1999, 12, 31, 12, 0, 0, 1),
]
_EXPECTED_MICROS = [
    (t - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1) for t in _INSTANTS
]


def _jobs_launched(spark, body) -> int:
    """Jobs ``body`` launches, counted in a job group of its own. A
    sentinel job in a second group runs after it; the listener bus is
    FIFO, so once the sentinel is visible every earlier job is too."""
    sc = spark.sparkContext
    keys = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
    saved = {k: sc.getLocalProperty(k) for k in keys}
    group, sentinel = f"schema-{uuid.uuid4().hex}", f"sentinel-{uuid.uuid4().hex}"
    try:
        sc.setJobGroup(group, "counted")
        body()
        sc.setJobGroup(sentinel, "sentinel")
        spark.range(1).count()
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(sentinel):
        assert time.monotonic() < deadline, "sentinel job never reached the status tracker"
        time.sleep(0.01)
    return len(tracker.getJobIdsForGroup(group))


def _write_region(sf_dir, table: pa.Table) -> str:
    path = table_path(str(sf_dir), "region")
    pq.write_table(table, path)
    return path


def test_in_place_rewrite_with_same_size_and_mtime_reads_the_new_schema(spark, tmp_path):
    """Same path, inode, byte size and mtime: only the footer differs."""
    path = _write_region(tmp_path, pa.table({"aa": pa.array([1, 2, 3], pa.int64())}))
    other = str(tmp_path / "other.parquet")
    pq.write_table(pa.table({"bb": pa.array([1, 2, 3], pa.int64())}), other)
    new_bytes = open(other, "rb").read()
    before = os.stat(path)
    assert len(new_bytes) == before.st_size  # the case needs equal sizes

    assert load_table(spark, str(tmp_path), "region").columns == ["aa"]
    with open(path, "r+b") as f:
        f.write(new_bytes)
    os.utime(path, ns=(before.st_atime_ns, before.st_mtime_ns))
    after = os.stat(path)
    assert (after.st_ino, after.st_size, after.st_mtime_ns) == (
        before.st_ino, before.st_size, before.st_mtime_ns)

    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == ["bb"]
    assert sorted(r.bb for r in df.collect()) == [1, 2, 3]


def _write_events(sf_dir, unit: str) -> None:
    ts = pa.array(_INSTANTS, pa.timestamp("us")).cast(pa.timestamp(unit))
    table = pa.table({"event_id": pa.array([1, 2, 3], pa.int64()), "ts": ts})
    pq.write_table(table, table_path(str(sf_dir), "events"), version="2.6")


def _ts_micros(df) -> list[int]:
    rows = df.select(F.unix_micros(F.col("ts").cast("timestamp")).alias("us")).collect()
    return sorted(r.us for r in rows)


def test_events_ts_switching_from_nanos_to_micros_reads_the_new_values(spark, tmp_path):
    """The round-3 layout switch at one path: a stale LongType schema
    on the MICROS file would shrink every instant 1000x."""
    _write_events(tmp_path, "ns")
    nanos = load_table(spark, str(tmp_path), "events")
    assert isinstance(nanos.schema["ts"].dataType, T.TimestampType)
    assert _ts_micros(nanos) == sorted(_EXPECTED_MICROS)

    _write_events(tmp_path, "us")
    micros = load_table(spark, str(tmp_path), "events")
    assert isinstance(micros.schema["ts"].dataType, T.TimestampNTZType)
    assert _ts_micros(micros) == sorted(_EXPECTED_MICROS)
    # the stream's raw schema comes from the same lookup
    raw = parquet_schema(spark, table_path(str(tmp_path), "events"))["ts"].dataType
    assert isinstance(raw, T.TimestampNTZType)


def test_added_part_file_changes_a_directory_tables_schema(spark, tmp_path):
    path = table_path(str(tmp_path), "orders")
    os.makedirs(path)
    pq.write_table(pa.table({"o_orderkey": pa.array([1, 2], pa.int64())}),
                   os.path.join(path, "part-000.parquet"))
    with scoped_conf(spark, "spark.sql.parquet.mergeSchema", "true"):
        assert load_table(spark, str(tmp_path), "orders").columns == ["o_orderkey"]
        pq.write_table(
            pa.table({"o_orderkey": pa.array([3], pa.int64()),
                      "o_extra": pa.array(["x"], pa.string())}),
            os.path.join(path, "part-001.parquet"),
        )
        df = load_table(spark, str(tmp_path), "orders")
        assert df.schema == spark.read.parquet(path).schema
        assert df.columns == ["o_orderkey", "o_extra"]
        assert df.count() == 3


def test_flipping_infer_timestamp_ntz_changes_the_schema(spark, tmp_path):
    _write_events(tmp_path, "us")
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    types = {}
    for value in ("true", "false", "true"):
        with scoped_conf(spark, key, value):
            types.setdefault(value, set()).add(
                type(load_table(spark, str(tmp_path), "events").schema["ts"].dataType))
    assert types == {"true": {T.TimestampNTZType}, "false": {T.TimestampType}}


def test_empty_directory_raises_the_same_error_every_time(spark, tmp_path):
    os.makedirs(table_path(str(tmp_path), "region"))
    errors = []
    for _ in range(2):
        with pytest.raises(AnalysisException) as exc:
            load_table(spark, str(tmp_path), "region")
        errors.append((exc.value.getCondition(), exc.value.getMessageParameters()))
    assert errors[0] == errors[1]
    assert errors[0][0] == "UNABLE_TO_INFER_SCHEMA"


def test_path_the_driver_cannot_stat_is_inferred_every_time(spark, tmp_path):
    """A URI (like hdfs:// or s3a://, here file://) is not a driver path:
    it is read as before and never enters the cache."""
    _write_region(tmp_path, pa.table({"r": pa.array([1], pa.int64())}))
    uri = "file://" + str(tmp_path)
    cached = dict(tables._schema_cache)
    for _ in range(2):
        assert load_table(spark, uri, "region").collect()[0].r == 1
    assert dict(tables._schema_cache) == cached


def test_cache_keeps_at_most_its_bound(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(tables, "_SCHEMA_CACHE_SIZE", 2)
    for i in range(3):
        d = tmp_path / f"sf{i}"
        d.mkdir()
        _write_region(d, pa.table({"r": pa.array([i], pa.int64())}))
        load_table(spark, str(d), "region")
    assert len(tables._schema_cache) <= 2


def test_warm_load_launches_no_job(spark, tmp_path):
    """A cold load infers with a Spark job; the same load again runs
    none (the parquet schema target: 0 inference jobs per warm load)."""
    shutil.copy(table_path(SF_DIR, "lineitem"), table_path(str(tmp_path), "lineitem"))
    assert _jobs_launched(spark, lambda: load_table(spark, str(tmp_path), "lineitem")) >= 1

    load_table(spark, SF_DIR, "lineitem")
    assert _jobs_launched(spark, lambda: load_table(spark, SF_DIR, "lineitem")) == 0


def test_warm_stream_schema_read_launches_no_job(spark):
    stream_events(spark, SF_DIR)
    assert _jobs_launched(spark, lambda: stream_events(spark, SF_DIR)) == 0
