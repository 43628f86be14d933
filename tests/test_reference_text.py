"""Plan and sink shape of the raw-text lab path (sources/reference_text.py).

Three costs are pinned here, all invisible to the output-parity tests:

- every text row is split once: the Java-split array `p` is computed in
  one generator per scan, and no guard or projection above it re-runs
  the split (Catalyst would otherwise push the lab's filters below the
  projection and substitute the whole split into each of them);
- the key-sorted sink adds no range-partitioning job to sample keys,
  and no exchange at all when the lab's result already comes out of
  one: only the map-only lab7 keeps an exchange to a single partition;
- the write scans a small input with every core, and leaves the
  session conf as it found it.
"""

from __future__ import annotations

import os
import re

import pytest

from pyspark.sql import functions as F

from hadoop_lab_spark import labs
from hadoop_lab_spark.sources.reference_text import to_reference_lines, write_reference_output

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")

INPUTS = {
    2: "lab2_words.txt",
    3: "lab3_temperature.txt",
    4: "lab4_grades.csv",
    5: "lab5_matrix.csv",
    6: "lab6_electricity.txt",
    7: "lab7_weather.txt",
    8: "lab8_sales.csv",
    9: "lab9_tags.txt",
    10: "lab10_books.csv",
    11: "lab11_uber.csv",
}


@pytest.mark.parametrize("lab", sorted(set(INPUTS) - {2}))
def test_each_row_is_split_once(spark, lab):
    """Every plan line that mentions ``split(`` is the one-element
    generator, holding exactly one `naive_split` (one trailing-empty
    fold), and there is one such generator per text scan. Every lab
    reads its input once, except lab5, which reads it once per matrix
    side (its A and B filters feed the two sides of a join)."""
    df = labs.LABS[lab](spark, f"{FIXTURES}/{INPUTS[lab]}")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    with_split = [ln for ln in plan.splitlines() if "split(" in ln]
    scans = len(re.findall(r"Relation \[value#\d+\] text", plan))
    assert scans == (2 if lab == 5 else 1), plan
    assert len(with_split) == scans, plan
    for ln in with_split:
        assert "Generate explode(array(" in ln, plan
        assert ln.count("aggregate(") == 1, plan


def _sink(df, lab):
    """The sink frame exactly as ``labs.run_lab`` writes it."""
    return to_reference_lines(df, *df.columns, ends_in_exchange=lab not in labs.MAP_ONLY_LABS)


@pytest.mark.parametrize("lab", sorted(INPUTS))
def test_sink_is_one_exchange_without_range_sampling(spark, lab):
    """No range-sampling job; an aggregating lab's rows are gathered
    from its aggregate's shuffle without a second exchange, while the
    map-only lab7 keeps one exchange to a single partition."""
    df = labs.LABS[lab](spark, f"{FIXTURES}/{INPUTS[lab]}")
    plan = _sink(df, lab)._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan.lower(), plan
    if lab in labs.MAP_ONLY_LABS:
        assert "Exchange SinglePartition" in plan, plan
    else:
        assert "Exchange SinglePartition" not in plan, plan
        assert "Coalesce 1" in plan, plan


def _scan_below_coalesce(node, below: bool = False) -> bool:
    """Whether a file scan runs in the same stage as a Coalesce above
    it, i.e. no exchange lies between them."""
    kind = node.getClass().getSimpleName()
    if "Exchange" in kind:
        return False
    if kind == "FileSourceScanExec":
        return below
    below = below or kind == "CoalesceExec"
    children = node.children()
    return any(_scan_below_coalesce(children.apply(i), below) for i in range(children.size()))


@pytest.mark.parametrize("lab", sorted(INPUTS))
def test_map_only_labs_are_exactly_those_a_coalesce_would_serialize(spark, lab):
    """``MAP_ONLY_LABS`` matches the plans: a coalescing sink pulls the
    scan into its single task for the map-only labs, and for no other."""
    df = labs.LABS[lab](spark, f"{FIXTURES}/{INPUTS[lab]}")
    sink = to_reference_lines(df, *df.columns, ends_in_exchange=True)
    plan = sink._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()  # the initial plan, exchanges included
    assert _scan_below_coalesce(plan) == (lab in labs.MAP_ONLY_LABS), plan.toString()


@pytest.mark.parametrize(
    "content",
    ["", "x\n", "ISBN,Title,Author,Year,Publisher\n"],
    ids=["empty", "fewer_bytes_than_cores", "header_only"],
)
def test_sink_writes_one_part_file_when_no_rows_survive(spark, tmp_path, content):
    src = tmp_path / "books.csv"
    src.write_text(content)
    out = tmp_path / "out"
    labs.run_lab(spark, 10, str(src), str(out))
    parts = sorted(p for p in os.listdir(out) if p.startswith("part-"))
    assert parts == ["part-r-00000"]
    assert (out / "part-r-00000").read_text() == ""


OPEN_COST = "spark.sql.files.openCostInBytes"


@pytest.mark.parametrize("prev", [None, "8388608"], ids=["unset", "set"])
@pytest.mark.parametrize("raises", [False, True], ids=["ok", "raises"])
def test_write_leaves_open_cost_as_it_found_it(spark, tmp_path, prev, raises):
    if prev is None:
        spark.conf.unset(OPEN_COST)
    else:
        spark.conf.set(OPEN_COST, prev)
    try:
        if raises:
            df = spark.range(1).select(F.raise_error(F.lit("boom")).alias("x"))
            with pytest.raises(Exception, match="boom"):
                write_reference_output(df, str(tmp_path / "out"), "x")
        else:
            labs.run_lab(spark, 10, f"{FIXTURES}/{INPUTS[10]}", str(tmp_path / "out"))
        assert spark.conf.get(OPEN_COST, None) == prev
    finally:
        spark.conf.unset(OPEN_COST)


@pytest.mark.parametrize("lab", [3, 7])
def test_write_scans_a_small_input_with_every_core(spark, tmp_path, lab):
    """A lab input far below the 4 MB open cost is still read by one
    scan task per core, and the written file is the same."""
    sc = spark.sparkContext
    if sc.defaultParallelism < 2:
        pytest.skip("needs at least two cores")
    src = tmp_path / "in.txt"
    src.write_text("".join(f"{1900 + i % 97} {i % 41}\n" for i in range(20000)))
    group = f"small-input-scan-{lab}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        df = labs.run_lab(spark, lab, str(src), str(tmp_path / "out"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    tasks = [
        tracker.getStageInfo(stage).numTasks
        for job in tracker.getJobIdsForGroup(group)
        for stage in tracker.getJobInfo(job).stageIds
    ]
    assert max(tasks) >= min(sc.defaultParallelism, 4), tasks
    expected = [r["line"] + "\n" for r in to_reference_lines(df, *df.columns).collect()]
    assert (tmp_path / "out" / "part-r-00000").read_text() == "".join(expected)
