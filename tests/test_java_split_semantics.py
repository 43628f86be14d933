"""Java ``String.split`` trailing-empty semantics vs the engine's parser.

The reference's Java jobs split with ``String.split(regex)``, which drops
trailing empty strings; Spark's ``split`` keeps them. VERDICT r2 asked
for a property test demonstrating whether the divergence reaches lab
OUTPUT before emulating. It does: with a string-typed last field (lab8
country, lab9 tag, lab10 year), the line "a,b," passes a >=3 arity guard
in raw Spark split with a phantom '' field while Java drops the row.
``naive_split`` therefore strips the trailing delimiter run first; these
tests pin outcome-equivalence against a faithful Java-split twin through
every lab parse shape (guards, positional fields, int casts included).
"""

from __future__ import annotations

import re

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from hadoop_lab_spark.sources.reference_text import (
    arity_at_least,
    field,
    naive_split,
    try_int,
)


def java_split(s: str, delim: str) -> list[str]:
    """Faithful twin of Java ``String.split(delim)`` (limit=0): trailing
    empty strings removed; the empty input is the one special case that
    yields ['']."""
    if s == "":
        return [""]
    parts = re.split(delim, s)
    while parts and parts[-1] == "":
        parts.pop()
    return parts


# --- the four lab parse shapes (guard + positional projection + casts) ---


def _java_comma_string(lines):  # lab10 / lab8 class: arity>=4, string field
    out = []
    for ln in lines:
        p = java_split(ln, ",")
        if len(p) >= 4:
            out.append((p[0].strip(), p[3].strip()))
    return sorted(out)


def _java_comma_exact_int(lines):  # lab4 class: exact arity, int-cast last
    out = []
    for ln in lines:
        p = java_split(ln, ",")
        if len(p) == 3:
            try:
                out.append((p[0].strip(), int(p[2].strip())))
            except ValueError:
                pass
    return sorted(out)


def _java_doublecolon(lines):  # lab9 class: '::' delim, arity>=3, strings
    out = []
    for ln in lines:
        p = java_split(ln, "::")
        if len(p) >= 3:
            out.append((p[1].strip(), p[2].strip()))
    return sorted(out)


def _java_ws_exact(lines):  # lab3 class: trim + \s+, exact arity 2, int
    out = []
    for ln in lines:
        p = java_split(ln.strip(), r"\s+")
        if len(p) == 2:
            try:
                out.append((p[0].strip(), int(p[1].strip())))
            except ValueError:
                pass
    return sorted(out)


def _spark_all_shapes(spark, lines):
    df = spark.createDataFrame([(ln,) for ln in lines], ["value"])

    pc = naive_split(F.col("value"), ",").alias("p")
    comma_string = [
        tuple(r)
        for r in df.select(pc)
        .filter(arity_at_least(F.col("p"), 4))
        .select(field(F.col("p"), 0), field(F.col("p"), 3))
        .collect()
    ]
    comma_exact_int = [
        tuple(r)
        for r in df.select(pc)
        .filter(F.size("p") == 3)
        .select(field(F.col("p"), 0), try_int(field(F.col("p"), 2)).alias("v"))
        .filter(F.col("v").isNotNull())
        .collect()
    ]
    pd_ = naive_split(F.col("value"), "::").alias("p")
    doublecolon = [
        tuple(r)
        for r in df.select(pd_)
        .filter(arity_at_least(F.col("p"), 3))
        .select(field(F.col("p"), 1), field(F.col("p"), 2))
        .collect()
    ]
    pw = naive_split(F.trim(F.col("value")), r"\s+").alias("p")
    ws_exact = [
        tuple(r)
        for r in df.select(pw)
        .filter(F.size("p") == 2)
        .select(field(F.col("p"), 0), try_int(field(F.col("p"), 1)).alias("v"))
        .filter(F.col("v").isNotNull())
        .collect()
    ]
    return (
        sorted(comma_string),
        sorted(comma_exact_int),
        sorted(doublecolon),
        sorted(ws_exact),
    )


def _assert_all_shapes_match(spark, lines):
    cs, cei, dc, ws = _spark_all_shapes(spark, lines)
    assert cs == _java_comma_string(lines)
    assert cei == _java_comma_exact_int(lines)
    assert dc == _java_doublecolon(lines)
    assert ws == _java_ws_exact(lines)


DIVERGENCE_PROBES = [
    "a,b,",  # the demonstrated class: n-1 fields + trailing delim
    "a,b,,",
    "a,b,c,",  # trailing empty beyond the guard
    "t,p,d,q,pr,c,cu,co,",
    ",,,",  # all-delimiter line (documented residual, outcome-equal)
    ",a,b,c",  # LEADING empty is kept by Java — must survive
    "a,,b,c",  # interior empty kept by Java
    "x::y::",
    "1::2::3::",
    "::a::b",
    "2020 31 ",
    "  2020  31",
    "",
    "   ",
    "a,b,c,d",
    "9,8,7",
]


def test_handcrafted_divergence_probes(spark):
    """The deterministic catalogue of the divergence class — fails
    against raw F.split (phantom '' rows), passes with naive_split's
    Java emulation."""
    _assert_all_shapes_match(spark, DIVERGENCE_PROBES)


_FIELD = st.text(alphabet="ab1,: ", min_size=0, max_size=4)
_LINE = st.builds(
    lambda fields, delim, trail: delim.join(fields) + trail,
    st.lists(_FIELD, min_size=0, max_size=6),
    st.sampled_from([",", "::", " "]),
    st.sampled_from(["", ",", ",,", "::", " ", "  ,"]),
)


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(lines=st.lists(_LINE, min_size=1, max_size=8))
def test_property_parser_equals_java_twin(spark, lines):
    _assert_all_shapes_match(spark, lines)


# --- array level: the split itself, not only what the lab shapes keep ---

_DELIMS = (",", "::", r"\s+")


def _spark_arrays(spark, lines):
    """naive_split of every line under each delimiter, in one job."""
    df = spark.createDataFrame([(i, ln) for i, ln in enumerate(lines)], ["i", "value"])
    cols = [naive_split(F.col("value"), d).alias(f"d{k}") for k, d in enumerate(_DELIMS)]
    rows = sorted(df.select("i", *cols).collect())
    return [[list(r[f"d{k}"]) for r in rows] for k in range(len(_DELIMS))]


def _assert_arrays_match(spark, lines):
    got = _spark_arrays(spark, lines)
    for k, d in enumerate(_DELIMS):
        assert got[k] == [java_split(ln, d) for ln in lines], d


_ARRAY_LINE = st.text(alphabet="ab1,: \t", min_size=0, max_size=12)


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(lines=st.lists(_ARRAY_LINE, min_size=1, max_size=40))
def test_property_split_array_equals_java_split(spark, lines):
    """``naive_split(line, d) == java_split(line, d)`` element for
    element, for every delimiter the labs use."""
    _assert_arrays_match(spark, lines)


def test_seeded_fuzz_split_array_equals_java_split(spark):
    """A wide seeded sweep in a single job: lines drawn from the
    delimiter characters themselves, where the leading, interior and
    trailing empty-field runs live."""
    import random

    rnd = random.Random(20260)
    alphabet = "ab,:: \t"
    lines = DIVERGENCE_PROBES + [
        "".join(rnd.choice(alphabet) for _ in range(rnd.randint(0, 16))) for _ in range(5000)
    ]
    _assert_arrays_match(spark, lines)
