"""Tracked ``localCheckpoint`` — materialize an intermediate AND be able
to free its blocks when it is superseded.

``DataFrame.localCheckpoint(eager=True)`` pins the computed partitions
as ordinary RDD blocks in the session's BlockManager, and NOTHING ever
frees them while the session lives. Two consumers need more control:

- **Iterative loops** (connected components, PageRank) checkpoint per
  round to truncate lineage; each round's blocks are dead the moment
  the next round is materialized, yet by default every round of every
  loop of every lane accumulates for the whole session. The r9
  round-of-record bench showed the cost of session-state accumulation:
  a lane at 6 s fresh ran 50+ s with ~30 lanes of history
  (VERDICT r9 #1/#2).
- **Diamond-shaped plans** (the ingest dedup pair stage) checkpoint a
  subtree so N consumers compute it once instead of N times —
  DataFrame reuse alone does NOT dedupe computation; each reference
  re-derives the whole subtree (the r9 composed ingest lane re-scanned
  `documents` 8x for exactly this reason).

``tracked_checkpoint`` returns the checkpointed frame plus the ids of
the RDD blocks the call pinned; ``unpersist_rdds`` frees a set of ids.
Both go through JavaSparkContext private accessors and degrade to
no-ops on any failure — block cleanup is a memory optimization and must
never affect results.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame


@contextmanager
def partitioning_preserved(spark):
    """Compile-and-checkpoint scope that keeps the frame's hash
    partitioning VISIBLE to Catalyst across the checkpoint.

    ``Dataset.checkpoint`` copies the physical plan's outputPartitioning
    into the resulting ``LogicalRDD`` — but under AQE the captured plan
    is the ``AdaptiveSparkPlanExec`` wrapper, which reports
    ``UnknownPartitioning``, so a checkpointed static table built with
    ``repartition(key)`` FORGETS that its blocks are hash-clustered
    (measured r11: a forced sort-merge PageRank round against an
    AQE-compiled checkpoint plans 4 shuffle Exchanges — it re-shuffles
    the |E|-sized edge table every round — vs 1 Exchange when the
    checkpoint was compiled with AQE off and the LogicalRDD carries
    ``hashpartitioning(src, N)``). At cluster scale, where both sides
    are too big to broadcast, that is the difference between shuffling
    10⁹ edges per round and shuffling only rank-sized rows.

    Applied to the graph operators only through the size-aware switch
    :func:`tracked_checkpoint_partitioned` (static tables of
    ``PARTITION_PRESERVE_MIN_BYTES`` or more). Unconditionally it
    loses — measured both ways (r11, PERFORMANCE.md "r11: checkpoint
    partitioning"): at bench SF the scope costs 2-4x wall on the
    PageRank lanes (the AQE-off build loses partition coalescing, so
    tiny checkpoints carry shuffle-partition-count partitions into
    every round, and the rounds lose AQE's runtime broadcast
    conversion), while AQE's runtime broadcast already keeps the edge
    table in place at that scale.

    Usage: build the DataFrame AND call :func:`tracked_checkpoint`
    inside the scope — Datasets compile their physical plan lazily at
    first materialization, so the AQE setting at CHECKPOINT time is
    what the LogicalRDD inherits. The toggle is session-global for its
    duration (the engine runs one plan build at a time per session);
    the previous value is always restored, and the loop bodies that
    consume the checkpoint still compile under the session's normal
    AQE setting. Degrades to a plain no-op scope if the conf is not
    readable (results never depend on this — tests/test_aqe_invariance
    pins answer equality either way)."""
    try:
        prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    except Exception:
        yield
        return
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def persistent_rdd_ids(sc) -> set[int] | None:
    """Ids of the RDDs currently pinned in the session's BlockManager,
    or ``None`` when the private-API probe fails.

    ``None`` means UNKNOWN, never "empty" (ADVICE r10): a failed
    'before' snapshot silently coerced to ``set()`` and diffed against
    a successful 'after' would claim every LIVE pinned RDD (another
    lane's cache, CC's static edge table) as newly pinned, and the
    caller's ``unpersist_rdds`` would then destroy unrecoverable
    localCheckpoint blocks mid-query — violating this module's
    "cleanup must never affect results" contract. Callers must skip
    cleanup on ``None``."""
    try:
        return {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}
    except Exception:  # private-API drift must never fail the lane
        return None


def unpersist_rdds(sc, ids: set[int]) -> None:
    """Drop the listed RDDs' blocks (non-blocking). Callers pass ids
    captured by :func:`tracked_checkpoint` once the checkpointed frame
    is superseded (iteration state) or fully consumed. Unpersisting a
    local checkpoint makes it unrecoverable — only free ids no live
    DataFrame still references."""
    if not ids:
        return
    try:
        jmap = sc._jsc.getPersistentRDDs()
        for k in jmap.keySet().toArray():
            if int(k) in ids:
                jmap.get(k).unpersist(False)
    except Exception:
        pass


#: Size-aware preserved-partitioning trigger (r12, VERDICT r11 #4).
#: Applied when a static iterative-loop table's MATERIALIZED size
#: clears this bar. The costs are asymmetric: triggering on a table
#: that would have been handled by AQE's runtime broadcast costs one
#: extra in-memory shuffle of the static table plus per-round task
#: overhead on uncoalesced partitions (at >=64 MiB that is >=2 MiB per
#: task at 32 shuffle partitions — ms-scale overhead; the r11 3.8x
#: loss came from sub-MB tables carried in 32+ partitions); NOT
#: triggering in the forced-SMJ regime costs a full static-table
#: re-shuffle EVERY round (4 vs 1 exchanges, measured r11 — at 10⁹
#: edges the dominant per-round cost, paid up to 25x in CC). So the
#: bar sits just above the regime where AQE's runtime broadcast of the
#: |V|-sized side is plausible (64 MiB of edges ≈ 2.4M edges ≈ a
#: rank/label side within reach of the 10 MB runtime-broadcast bar at
#: high average degree) and far below any genuinely large graph.
PARTITION_PRESERVE_MIN_BYTES = 64 * 1024 * 1024


def checkpointed_bytes(sc, ids: set[int]) -> int | None:
    """Total stored bytes (memory + disk) of the listed RDD ids, read
    off the SparkContext's storage listing — the materialized truth,
    available the moment an eager checkpoint returns, at ~zero cost
    (the decision point VERDICT r11 #4 prescribes). ``None`` means
    UNKNOWN (empty id set or private-API drift): callers must treat
    unknown as "keep the default shape", never guess large."""
    if not ids:
        return None
    try:
        total = 0
        seen = False
        for info in sc._jsc.sc().getRDDStorageInfo():
            if int(info.id()) in ids:
                seen = True
                total += int(info.memSize()) + int(info.diskSize())
        return total if seen else None
    except Exception:
        return None


def tracked_checkpoint_partitioned(
    df: DataFrame,
    *key_cols: str,
    min_bytes: int | None = None,
) -> tuple[DataFrame, set[int]]:
    """Checkpoint a static iterative-loop table, preserving its hash
    partitioning in the LogicalRDD when — and only when — the table is
    big enough that per-round re-shuffles would dominate (the
    size-aware switch, VERDICT r11 #4).

    Two-phase by design: first a plain :func:`tracked_checkpoint`
    under the session's normal AQE (partition-coalesced — the optimal
    small-table shape, and the only way to learn the true materialized
    size), then, iff the stored bytes clear ``min_bytes``, a second
    checkpoint of the SAME in-memory blocks re-keyed on ``key_cols``
    inside :func:`partitioning_preserved`, so the resulting LogicalRDD
    carries ``hashpartitioning(key)`` into every loop round (1 vs 4
    exchanges per forced-SMJ round, measured r11). The triggered path
    pays ONE extra shuffle of already-materialized blocks — repaid by
    the first round it keeps the table in place — and frees the
    superseded first checkpoint. Below the bar (and whenever the size
    probe returns unknown) the behavior and plan are bit-identical to
    ``tracked_checkpoint``: bench-scale lane digests must not change.
    """
    if min_bytes is None:  # resolved at call time so tests can patch it
        min_bytes = PARTITION_PRESERVE_MIN_BYTES
    out, ids = tracked_checkpoint(df)
    sc = df.sparkSession.sparkContext
    size = checkpointed_bytes(sc, ids)
    if size is None or size < min_bytes:
        return out, ids
    from pyspark.sql import functions as F

    with partitioning_preserved(df.sparkSession):
        out2, ids2 = tracked_checkpoint(
            out.repartition(*[F.col(k) for k in key_cols])
        )
    unpersist_rdds(sc, ids)
    return out2, ids2


def tracked_checkpoint(df: DataFrame) -> tuple[DataFrame, set[int]]:
    """``df.localCheckpoint(eager=True)`` + the ids of the RDD blocks
    the call pinned, so the caller can free them once superseded.

    If EITHER BlockManager snapshot fails, the returned id set is
    empty: the checkpoint still happened (results unaffected) but its
    blocks are reported as untracked rather than mis-attributed, so a
    later ``unpersist_rdds`` can never free blocks this call did not
    pin (ADVICE r10). The before/after diff assumes the session is not
    concurrently persisting RDDs from another thread — a concurrent
    persist landing between the snapshots would be attributed to this
    checkpoint; all engine callers run single-threaded lane plans."""
    sc = df.sparkSession.sparkContext
    before = persistent_rdd_ids(sc)
    out = df.localCheckpoint(eager=True)
    after = persistent_rdd_ids(sc)
    if before is None or after is None:
        return out, set()
    return out, after - before
