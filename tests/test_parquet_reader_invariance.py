"""Parquet decode invariance: every table must read to the IDENTICAL row
multiset with the vectorized columnar reader ON and OFF.

Spark silently drops to the row-by-row parquet reader whenever a file's
shape disqualifies vectorization (nested schemas today, and historically
specific type/encoding combinations) — so the same 100 TB dataset can be
decoded by BOTH readers across its files depending on how each was
written. The repo's riskiest decode path is deliberate: events.ts is
read under `spark.sql.legacy.parquet.nanosAsLong` (TIMESTAMP(NANOS)
physical type from rounds 1-2 drivers) and normalized in
sources/tables.py — a vectorized-vs-row divergence there would shift
every window and watermark by decode path. Comparing raw table
multisets is the right altitude: if decode is bit-identical, no lane
can differ; if it isn't, every lane is suspect and the table name is
the diagnosis.
"""

from __future__ import annotations

import pytest

from hadoop_lab_spark.session import scoped_conf
from hadoop_lab_spark.sources import load_table
from hadoop_lab_spark.sources.tables import TABLES

from tests.conftest import SF_DIR

_KEY = "spark.sql.parquet.enableVectorizedReader"


def _rows(df):
    return sorted(repr(tuple(r)) for r in df.collect())


@pytest.mark.parametrize("name", sorted(TABLES))
def test_table_decodes_identically(spark, name):
    with scoped_conf(spark, _KEY, "true"):
        a = _rows(load_table(spark, SF_DIR, name))
    with scoped_conf(spark, _KEY, "false"):
        b = _rows(load_table(spark, SF_DIR, name))
    assert a == b, f"{name}: vectorized and row-by-row readers decode differently"
