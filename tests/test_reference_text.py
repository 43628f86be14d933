"""Plan and sink shape of the raw-text lab path (sources/reference_text.py).

Two costs are pinned here, both invisible to the output-parity tests:

- every text row is split once: the Java-split array `p` is computed in
  one generator per scan, and no guard or projection above it re-runs
  the split (Catalyst would otherwise push the lab's filters below the
  projection and substitute the whole split into each of them);
- the key-sorted sink is one exchange to a single partition plus a local
  sort, with no range-partitioning job to sample keys.
"""

from __future__ import annotations

import os
import re

import pytest

from hadoop_lab_spark import labs
from hadoop_lab_spark.sources.reference_text import to_reference_lines

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
    fold), and there is one such generator per text scan (lab5 reads
    its input once per matrix side)."""
    df = labs.LABS[lab](spark, f"{FIXTURES}/{INPUTS[lab]}")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    with_split = [ln for ln in plan.splitlines() if "split(" in ln]
    scans = len(re.findall(r"Relation \[value#\d+\] text", plan))
    assert scans >= 1
    assert len(with_split) == scans, plan
    for ln in with_split:
        assert "Generate explode(array(" in ln, plan
        assert ln.count("aggregate(") == 1, plan


@pytest.mark.parametrize("lab", sorted(INPUTS))
def test_sink_is_one_exchange_without_range_sampling(spark, lab):
    df = labs.LABS[lab](spark, f"{FIXTURES}/{INPUTS[lab]}")
    plan = to_reference_lines(df, *df.columns)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" in plan, plan
    assert "rangepartitioning" not in plan.lower(), plan


@pytest.mark.parametrize("content", ["", "ISBN,Title,Author,Year,Publisher\n"], ids=["empty", "header_only"])
def test_sink_writes_one_part_file_when_no_rows_survive(spark, tmp_path, content):
    src = tmp_path / "books.csv"
    src.write_text(content)
    out = tmp_path / "out"
    labs.run_lab(spark, 10, str(src), str(out))
    parts = sorted(p for p in os.listdir(out) if p.startswith("part-"))
    assert parts == ["part-r-00000"]
    assert (out / "part-r-00000").read_text() == ""

