"""Arrow batch-boundary invariance: every Pandas-UDF lane must return
IDENTICAL results no matter how Arrow slices its input into record
batches.

This is the Python-side sibling of the scan-split / micro-batch gates
(the ninth engine-freedom axis): `spark.sql.execution.arrow.
maxRecordsPerBatch` (default 10000) is a throughput knob an operator
WILL retune at 100 TB — larger batches for wide binary columns, smaller
under executor memory pressure — and the runtime further splits batches
at partition boundaries, so batch shape is engine-owned, not semantic.
A decoder that accidentally computed anything ACROSS a batch (batch-
level normalization, running state inside the iterator, per-batch
seeding) would change answers with the knob; each mapInPandas body must
be a pure per-ROW function and each applyInPandas body a pure per-GROUP
function (Spark feeds grouped-map the whole group regardless of the
batch size — also pinned here).

Scope: the batch lanes tagged 'pandas' (the only Python execution paths
in the registry, each allowlisted in the plan lint). The streaming
stateful lane's batch-boundary freedom is covered by the micro-batch
replay gate in tests/test_streaming_multibatch.py.
"""

from __future__ import annotations

import pytest

from hadoop_lab_spark.plans.registry import REGISTRY, load_all_query_modules
from hadoop_lab_spark.session import scoped_conf

from tests.conftest import SF_DIR

load_all_query_modules()

CANDIDATES = sorted(
    n
    for n, s in REGISTRY.items()
    if "pandas" in s.tags and "streaming" not in s.tags
)

_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"


def test_selection_covers_the_pandas_family():
    # 4 multimodal decoders + the grouped-map demo; if this drops, a
    # pandas lane silently left the gate (e.g. a tag rename).
    assert len(CANDIDATES) >= 5, CANDIDATES


def _rows(df):
    return sorted(repr(tuple(r)) for r in df.collect())


@pytest.mark.parametrize("name", CANDIDATES)
def test_identical_across_arrow_batch_sizes(spark, name):
    spec = REGISTRY[name]
    a = _rows(spec.fn(spark, SF_DIR))
    with scoped_conf(spark, _CONF, "7"):  # many tiny batches
        b = _rows(spec.fn(spark, SF_DIR))
        # No lane sets a conf; assert INSIDE the leg that none reset
        # this one (the r6 vacuous-toggle lesson).
        assert spark.conf.get(_CONF) == "7"
    assert a == b, f"{name}: results depend on Arrow batch boundaries"
