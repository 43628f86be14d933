"""Unit tests for bench.py: per-lane checkpoint hygiene, the host-load
probe, and the compact last-line contract."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from tests.conftest import SF_DIR  # noqa: E402


def test_time_query_frees_lane_checkpoint_blocks(spark):
    """VERDICT r10 #5 'done' bar: two iterative lanes back-to-back
    through bench's own timing helper end with zero net new pinned
    blocks — each lane's final (deliberately retained) checkpoint set
    is freed once its noop write completes."""
    from hadoop_lab_spark.checkpoint import persistent_rdd_ids
    from hadoop_lab_spark.plans.registry import (
        REGISTRY,
        load_all_query_modules,
    )

    load_all_query_modules()
    sc = spark.sparkContext
    before = persistent_rdd_ids(sc)
    assert before is not None
    for lane in ("dedup_clusters", "pagerank_event_handoff"):
        bench._time_query(REGISTRY[lane].fn, spark, SF_DIR, 2)
    leaked = persistent_rdd_ids(sc) - before
    assert leaked == set(), f"back-to-back lanes left blocks pinned: {leaked}"


def test_loadavg_probe_shape():
    """The host-load probe returns three floats on Linux and never
    raises — it feeds the run record that every stall adjudication
    opens with."""
    got = bench._loadavg()
    assert got is None or (
        len(got) == 3 and all(isinstance(x, float) for x in got)
    )


def test_summary_line_is_compact_and_keyed():
    """The summary is the LAST stdout line, and a caller that keeps only
    a 2000-character tail must parse it whole: one line, exactly the
    contract keys, well under the tail — even with wide values."""
    line = bench.summary_line(
        total=123456789.123, sf=1000.0, repeats=1000, n_queries=100000
    )
    assert "\n" not in line
    assert len(line) < 2000
    assert set(json.loads(line)) == {
        "metric",
        "value",
        "unit",
        "sf",
        "repeats",
        "n_queries",
        "detail_file",
    }
