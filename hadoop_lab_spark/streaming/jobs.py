"""Structured Streaming jobs over the star-schema tables.

Design notes (100 TB / real-cluster view):

- Sources are ``readStream`` over parquet directories with an explicit
  schema (streaming readers cannot infer). In production these would be
  Kafka/files landing zones; the parquet form keeps the logical plan
  identical while letting tests replay bounded data with
  ``Trigger.AvailableNow`` and compare against a batch oracle.
- Aggregations carry watermarks so state is bounded: without one, a
  windowed agg keeps every window forever. The replay harness uses
  *update/complete* emission into a memory sink and re-aggregates the
  sink table, so results are batching-invariant (a key emitted in two
  micro-batches sums to the same total).
- The stateful job uses ``applyInPandasWithState`` — the escape hatch
  for semantics window/agg can't express (per SURVEY §7.1 M6). State is
  per-key and Arrow-batched; at scale this shuffles once on the key and
  keeps O(|keys|) state in the state store.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from hadoop_lab_spark.functions.numeric import micro_addend, nan_excluded
from hadoop_lab_spark.operators.wordcount import wordcount as wordcount_op
from hadoop_lab_spark.sources.tables import _normalize, parquet_schema, table_path

#: Extra options merged into every streaming reader. Production leaves
#: this empty; tests inject e.g. {"maxFilesPerTrigger": "1"} to force a
#: bounded replay through MULTIPLE micro-batches, proving the
#: batching-invariance the bounded-replay oracle checks rely on
#: (tests/test_streaming_batching.py).
STREAM_READER_OPTIONS: dict[str, str] = {}


def _read_stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Stream one star-schema table.

    The file stream source only accepts directories (it monitors for new
    files), while each table here is a single parquet file — so stream
    the sf_dir with a glob pinned to that table's file. In production
    the path would be a landing directory and the glob goes away.

    Streaming readers cannot infer a schema, so the raw schema comes
    from the batch reader's inference on the SAME file
    (`parquet_schema`, which infers once per version of the file and
    per inference conf), and `_normalize` applies the batch loader's ts
    handling. Hardcoding the raw schema here is how round 3's
    session-window bug happened: the testdata
    generator switched events.ts from TIMESTAMP(NANOS) (long under
    nanosAsLong) to TIMESTAMP(MICROS) (native timestamp), the pinned
    LongType schema kept "succeeding" — parquet surfaces µs as long when
    told to — and the now-stale ns→µs `div 1000` silently shrank every
    timestamp 1000×, collapsing all sessions into one per user. Deriving
    the stream schema from the batch reader keeps both paths identical
    under either file layout.
    """
    schema = parquet_schema(spark, table_path(sf_dir, name))
    reader = spark.readStream.schema(schema).option(
        "pathGlobFilter", f"{name}.parquet"
    )
    for k, v in STREAM_READER_OPTIONS.items():
        reader = reader.option(k, v)
    return reader.parquet(sf_dir)


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbounded view of `events` with a watermark-compatible TIMESTAMP
    column.

    `_normalize` (shared with the batch loader) handles int64-nanos
    files; native TIMESTAMP_NTZ files (what the parquet reader infers
    for µs-no-tz columns) additionally need a cast to TIMESTAMP because
    `withWatermark` only accepts the instant type. The session timezone
    is pinned to UTC (session.py), so the cast reinterprets the naive
    value as the same UTC instant — value-preserving, and identical to
    what the ns→µs path produces.
    """
    df = _normalize(_read_stream_table(spark, sf_dir, "events"))
    if isinstance(df.schema["ts"].dataType, T.TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def run_to_memory(stream: DataFrame, name: str, output_mode: str) -> None:
    """Replay a bounded stream to completion into a memory sink table.

    AvailableNow processes everything present, then stops — the
    streaming equivalent of a batch run, used by tests and the bounded
    query registry. The memory table `name` survives the stop.
    """
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_windowed_event_counts(
    spark: SparkSession, sf_dir: str, window: str = "1 hour", watermark: str = "1 hour"
) -> DataFrame:
    """Tumbling-window counts + sums per event_type with late-data bound.

    The watermark bounds state: windows older than (max event time −
    watermark) are finalized and dropped from the state store, so state
    is O(active windows), not O(stream length). Update mode emits each
    window's running result per micro-batch; the harness re-aggregates,
    making the output invariant to how the replay was batched.

    NULL event times are excluded EXPLICITLY on both engines: Spark's
    watermark operator silently drops them anyway, while a batch oracle
    would mint a NULL-window group — the filter turns an engine accident
    into a stated contract (r4 adversarial-stream finding).
    """
    events = (
        stream_events(spark, sf_dir)
        .filter(F.col("ts").isNotNull())
        .withWatermark("ts", watermark)
    )
    # The sum accumulates in exact integer MICROS (functions/numeric.py
    # micro_addend — the r8 fast path): state-store addition order
    # follows micro-batch arrival, so a double sum here would move at
    # the last ulp with HOW the replay was batched — the exact streaming
    # analogue of the input-file-layout bug. Integer micros addition is
    # associative, so the open accumulator is micro-batch-boundary
    # invariant; the lane finishes it with round_micros_to_double. NaN
    # addends are excluded explicitly (they still count in cnt); Spark
    # would NULL them into the micros cast while the batch oracle's
    # DuckDB CAST errors, so the guard is the stated contract.
    return events.groupBy(
        F.window("ts", window).alias("w"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(micro_addend(nan_excluded("value"))).alias("sum_micros"),
    ).select(
        F.col("w.start").alias("w_start"), "event_type", "cnt", "sum_micros"
    )


def stream_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming variant of the lab2 flagship: case-sensitive whitespace
    word count over documents.text (complete-mode aggregation).

    Tokenization is the SAME operator as the batch query it must equal
    exactly (operators/wordcount.py StringTokenizer class) — a private
    ``\\s+`` here would diverge from batch and oracle on vertical tabs.
    """
    docs = _read_stream_table(spark, sf_dir, "documents")
    return wordcount_op(docs, "text", "word", "cnt")


_STATE_SCHEMA = "cnt BIGINT, max_value DOUBLE"
_STATEFUL_OUT_SCHEMA = "user_id BIGINT, cnt BIGINT, max_value DOUBLE"


def stream_user_event_counts_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    event count + running max(value).

    This is the §7.1-M6 "custom stateful op" exemplar — semantics a
    built-in agg could also express, chosen precisely so the oracle can
    verify the stateful machinery end-to-end.

    The state function emits per-batch deltas (count) plus the running
    max, so downstream re-aggregation (sum of deltas, max of maxes) is
    invariant to micro-batch boundaries. It is defined NESTED and fully
    self-contained: a module-level function would pickle by reference to
    hadoop_lab_spark, which the consuming driver's Python workers cannot
    import (repo is on the driver's sys.path only).
    """

    def count_events_with_state(key, pdf_iter, state: GroupState):
        import pandas as pd

        cnt = 0
        mx = None
        for pdf in pdf_iter:
            cnt += len(pdf)
            if len(pdf):
                m = pdf["value"].max()  # pandas max skips NULL and NaN
                if not pd.isna(m):  # all-NULL/NaN batch contributes no max
                    m = float(m)
                    mx = m if mx is None else max(mx, m)
        if state.exists:
            old_cnt, old_mx = state.get
        else:
            old_cnt, old_mx = 0, None
        new_mx = old_mx if mx is None else (mx if old_mx is None else max(mx, old_mx))
        state.update((old_cnt + cnt, new_mx))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "cnt": [cnt],
                "max_value": [mx if mx is None else new_mx],
            }
        )

    events = stream_events(spark, sf_dir)
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            count_events_with_state,
            outputStructType=_STATEFUL_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_session_window_counts(
    spark: SparkSession, sf_dir: str, gap: str = "1 hour", watermark: str = "1 hour"
) -> DataFrame:
    """Session windows: per-user event counts over dynamic windows that
    close after `gap` of inactivity — the streaming twin of the batch
    lag-based sessionization (plans/relational.py sessions_per_user).

    State is one open session per (user, window) merged as events
    arrive; the watermark finalizes and evicts sessions whose close time
    passed it, bounding state to active sessions only.

    NULL event times excluded explicitly on both engines (same contract
    as the batch sessions_per_user: an undated event has no place in an
    inactivity timeline, and the watermark would drop it silently).
    """
    events = (
        stream_events(spark, sf_dir)
        .filter(F.col("ts").isNotNull())
        .withWatermark("ts", watermark)
    )
    return events.groupBy(
        F.session_window("ts", gap).alias("w"), "user_id"
    ).agg(F.count(F.lit(1)).alias("cnt")).select(
        "user_id",
        F.col("w.start").alias("s_start"),
        "cnt",
    )


def stream_stream_purchase_signup_join(
    spark: SparkSession, sf_dir: str, within: str = "7 days", watermark: str = "1 hour"
) -> DataFrame:
    """Stream-stream inner join: purchases matched to the same user's
    signups within a trailing time bound.

    Both sides carry watermarks and the join has an explicit event-time
    range — the two ingredients that let Spark bound join state (a side's
    rows are evicted once the other side's watermark passes their
    eligibility window). Without the range condition, state grows
    forever; this is THE canonical stream-stream join discipline.
    """
    events = stream_events(spark, sf_dir)
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_event_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", watermark)
    )
    signups = (
        events.filter(F.col("event_type") == "signup")
        .select(
            F.col("event_id").alias("s_event_id"),
            F.col("user_id").alias("s_user"),
            F.col("ts").alias("s_ts"),
        )
        .withWatermark("s_ts", watermark)
    )
    cond = (
        (F.col("p_user") == F.col("s_user"))
        & (F.col("s_ts") <= F.col("p_ts"))
        & (F.col("s_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {within}"))
    )
    return purchases.join(signups, cond).select(
        "p_event_id", "s_event_id", F.col("p_user").alias("user_id"), "p_ts", "s_ts"
    )


def stream_dedup_user_type(
    spark: SparkSession, sf_dir: str, delay: str = "35 days"
) -> DataFrame:
    """Streaming deduplication: first-seen (user_id, event_type) pairs,
    exactly once each (append mode).

    ``dropDuplicatesWithinWatermark`` keeps one state entry per key and
    EVICTS it once the watermark passes key-arrival + delay — the
    production form of streaming dedup (plain ``dropDuplicates`` on
    non-event-time keys never evicts). The delay here exceeds the
    bounded replay's whole time span, so the replay dedups exactly and
    equals batch DISTINCT; in production the delay is the dedup horizon
    (state is O(keys within horizon), not O(stream))."""
    events = stream_events(spark, sf_dir).withWatermark("ts", delay)
    return events.select("user_id", "event_type", "ts").dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )


def stream_foreachbatch_event_totals(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> None:
    """foreachBatch sink: idempotent per-micro-batch parquet upsert.

    The built-in file sink is append-only; ``foreachBatch`` is the
    escape hatch for transactional/upsert targets. Each micro-batch
    writes its per-type partial aggregates to a ``batch_id=N``
    partition with DYNAMIC partition overwrite — a retried batch
    replaces exactly its own partition, never touching others, which is
    the standard exactly-once recipe for non-transactional stores
    (batch_id is the idempotence key Spark guarantees stable on replay).

    The reader re-aggregates partials across batch partitions, so the
    result is batching-invariant: every event lands in exactly one
    micro-batch, partial sums add. At 100 TB/day the same shape feeds
    any idempotent bulk target (object store, JDBC staging table).
    """
    events = stream_events(spark, sf_dir)

    def write_batch(bdf: DataFrame, batch_id: int) -> None:
        # runs on the DRIVER per micro-batch; bdf is a normal DataFrame
        (
            bdf.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("cnt"),
                # exact integer-micros partials (micro_addend, the r8
                # fast path): partial-sum-of-partial-sums must equal the
                # one-pass answer REGARDLESS of how the replay was
                # batched, which double addition cannot promise at the
                # last ulp. NaN excluded per the numeric.py contract.
                F.sum(micro_addend(nan_excluded("value"))).alias("sum_micros"),
            )
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_dir)
        )

    q = (
        events.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", out_dir + "_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateless deterministic rate sampler over the event stream: the
    same per-stratum md5-rate filter as the batch
    ``stratified_sample_events`` lane, applied record-at-a-time.

    THE reason hash sampling (and not RNG sampling) is the streaming
    shape: membership is a pure function of the row key, so the sampled
    set is invariant to micro-batch boundaries, replays after restart,
    and backfills — `df.sample()`'s partition-seeded RNG would emit a
    different sample per batching. No state, no watermark: this is a
    scan-local filter the engine can fuse into the source projection.
    Batching-invariance is proven in tests/test_streaming_batching.py.
    """
    from hadoop_lab_spark.operators.sampling import hash_bucket
    from hadoop_lab_spark.plans.scale_ops import _DEFAULT_RATE, _STRATA_RATES

    rate = F.coalesce(
        *[
            F.when(F.col("event_type") == s, F.lit(r))
            for s, r in sorted(_STRATA_RATES.items())
        ],
        F.lit(_DEFAULT_RATE),
    )
    return (
        stream_events(spark, sf_dir)
        .filter(hash_bucket("event_id", 256) < rate)
        .select("event_id", "event_type", "value")
    )
