"""Registered Structured Streaming queries (bounded replay + oracle).

Each query replays the parquet table as a stream (AvailableNow), lands
emissions in a memory sink, then re-aggregates the sink so the result is
invariant to micro-batch boundaries (see streaming/jobs.py). The DuckDB
oracle is the equivalent *batch* SQL over the same data — streaming over
bounded input must equal the batch answer, which is exactly the
validation SURVEY §7.3 (risk 6) calls for.

Excluded from bench (`bench=False`): wall time here is dominated by
streaming-query startup/teardown, not operator throughput — the batch
twins of these plans are already in the headline set.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_lab_spark.plans.mlprep import CHUNK_STRIDE, CHUNK_WINDOW
from hadoop_lab_spark.plans import scale_ops as _SO
from hadoop_lab_spark.functions.numeric import (
    exact_round_sum_fast,
    nan_excluded,
    round_micros_to_double,
    sql_exact_round_sum_fast,
)
from hadoop_lab_spark.plans.registry import register
from hadoop_lab_spark.streaming.jobs import (
    run_to_memory,
    stream_user_event_counts_stateful,
    stream_windowed_event_counts,
    stream_wordcount,
)

#: Unique-per-invocation memory-sink suffix (a stopped query's name can
#: be reused, but a fresh table per run can never read stale rows).
_RUN_COUNTER = itertools.count()


def _replay(spark: SparkSession, stream: DataFrame, base: str, mode: str) -> DataFrame:
    name = f"{base}_{next(_RUN_COUNTER)}"
    run_to_memory(stream, name, mode)
    return spark.table(name)


@register(
    "stream_windowed_event_counts",
    oracle=f"""
        SELECT date_trunc('hour', ts) AS w_start,
               event_type,
               CAST(count(*) AS BIGINT) AS cnt,
               -- NaN addends excluded on both engines (numeric.py contract)
               {sql_exact_round_sum_fast("CASE WHEN NOT isnan(value) THEN value END")} AS sum_value
        FROM events
        -- explicit contract: the watermark operator drops NULL event
        -- times silently; the oracle must not mint a NULL-window group
        WHERE ts IS NOT NULL
        GROUP BY 1, 2
    """,
    doc="streaming tumbling-window (1h) counts + sums per event_type with "
    "watermark; bounded replay equals the batch answer",
    tags=("streaming", "window", "aggregate"),
    bench=False,
)
def q_stream_windowed_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complete-mode emission: the sink's final snapshot is the answer
    (batching-invariant by construction). The same pipeline in update
    mode + delta re-aggregation is exercised by the stateful query."""
    stream = stream_windowed_event_counts(spark, sf_dir)
    snap = _replay(spark, stream, "mem_wincounts", "complete")
    # sum_micros arrives as the job's exact integer-micros accumulator;
    # finish with the fast-path rescale (round_micros_to_double) so the
    # image matches the fast oracle formula, cast back to double for
    # the driver-hashable flat schema.
    return snap.select(
        "w_start",
        "event_type",
        "cnt",
        round_micros_to_double(F.col("sum_micros"), 2).alias("sum_value"),
    )


@register(
    "stream_wordcount",
    oracle="""
        SELECT word, count(*) AS cnt
        FROM (
            SELECT unnest(regexp_split_to_array(text, '[ \t\n\r\f]+')) AS word
            FROM documents
        )
        WHERE word <> ''
        GROUP BY word
    """,
    doc="streaming variant of the lab2 flagship wordcount (complete mode); "
    "must equal the batch wordcount exactly",
    tags=("streaming", "lab2", "aggregate"),
    bench=False,
)
def q_stream_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _replay(spark, stream_wordcount(spark, sf_dir), "mem_wordcount", "complete")


@register(
    "stream_user_counts_stateful",
    oracle="""
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS cnt,
               -- pandas .max() skips NULL AND NaN; DuckDB max() would
               -- let NaN win — mask it so the running max matches the
               -- state function's semantics (cnt still counts the row)
               max(CASE WHEN isnan(value) THEN NULL ELSE value END)
                   AS max_value
        FROM events
        GROUP BY user_id
    """,
    doc="custom stateful streaming op (applyInPandasWithState): per-user event "
    "count + running max, update-mode deltas re-aggregated",
    tags=("streaming", "stateful", "pandas"),
    bench=False,
)
def q_stream_user_counts_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deltas (per-batch counts, running maxes) are summed/maxed over the
    sink — the total is batching-invariant. MAX is order-insensitive and
    the counts are integers, so no float policy is needed."""
    snap = _replay(
        spark,
        stream_user_event_counts_stateful(spark, sf_dir),
        "mem_user_state",
        "update",
    )
    return snap.groupBy("user_id").agg(
        F.sum("cnt").alias("cnt"), F.max("max_value").alias("max_value")
    )


@register(
    "stream_session_window_counts",
    oracle="""
        WITH flagged AS (
            SELECT user_id, ts,
                   CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                             > INTERVAL 1 HOUR
                        OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WHERE ts IS NOT NULL  -- same contract as batch sessions_per_user
        ),
        sessions AS (
            SELECT user_id, ts,
                   sum(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS sid
            FROM flagged
        )
        SELECT user_id, min(ts) AS s_start, CAST(count(*) AS BIGINT) AS cnt
        FROM sessions
        GROUP BY user_id, sid
    """,
    doc="streaming session windows (1h inactivity gap) per user; bounded "
    "replay must equal the batch lag-based sessionization",
    tags=("streaming", "session-window", "stateful"),
    bench=False,
)
def q_stream_session_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_lab_spark.streaming.jobs import stream_session_window_counts

    stream = stream_session_window_counts(spark, sf_dir)
    snap = _replay(spark, stream, "mem_sessions", "complete")
    return snap.select("user_id", "s_start", "cnt")


@register(
    "stream_static_enrich_counts",
    oracle="""
        SELECT c.c_mktsegment, CAST(count(*) AS BIGINT) AS cnt
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY c.c_mktsegment
    """,
    doc="stream-static join: streaming events enriched against the static "
    "customer dimension (broadcast per micro-batch), counts per segment",
    tags=("streaming", "join"),
    bench=False,
)
def q_stream_static_enrich_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The static side is a plain DataFrame — Spark re-plans it per
    micro-batch and broadcasts it under the threshold, the standard
    dimension-enrichment shape for streaming ETL."""
    from hadoop_lab_spark.sources import load_table
    from hadoop_lab_spark.streaming.jobs import stream_events

    customers = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment")
    )
    enriched = stream_events(spark, sf_dir).join(
        customers, F.col("user_id") == F.col("c_custkey")
    )
    agg = enriched.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("cnt"))
    snap = _replay(spark, agg, "mem_enrich", "complete")
    return snap.select("c_mktsegment", "cnt")


@register(
    "stream_stream_purchase_signup_join",
    oracle="""
        SELECT p.event_id AS p_event_id, s.event_id AS s_event_id,
               p.user_id, p.ts AS p_ts, s.ts AS s_ts
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        JOIN (SELECT * FROM events WHERE event_type = 'signup') s
          ON p.user_id = s.user_id
         AND s.ts <= p.ts
         AND s.ts >= p.ts - INTERVAL 7 DAY
    """,
    doc="stream-stream inner join with watermarks + event-time range bound "
    "(state evicted past the eligibility window); bounded replay equals the "
    "batch range join",
    tags=("streaming", "join", "stream-stream"),
    bench=False,
)
def q_stream_stream_purchase_signup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append mode: each matched pair is emitted exactly once, so the
    sink content IS the join result regardless of batching."""
    from hadoop_lab_spark.streaming.jobs import stream_stream_purchase_signup_join

    stream = stream_stream_purchase_signup_join(spark, sf_dir)
    snap = _replay(spark, stream, "mem_ssjoin", "append")
    return snap.select("p_event_id", "s_event_id", "user_id", "p_ts", "s_ts")


@register(
    "stream_dedup_user_type",
    oracle="""
        SELECT DISTINCT user_id, event_type FROM events
    """,
    doc="streaming dedup (dropDuplicatesWithinWatermark): first-seen "
    "(user_id, event_type) pairs emitted exactly once, state evicted past "
    "the watermark horizon; bounded replay equals batch DISTINCT",
    tags=("streaming", "dedup", "stateful"),
    bench=False,
)
def q_stream_dedup_user_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_lab_spark.streaming.jobs import stream_dedup_user_type

    stream = stream_dedup_user_type(spark, sf_dir)
    snap = _replay(spark, stream, "mem_dedup", "append")
    return snap.select("user_id", "event_type")


@register(
    "stream_foreachbatch_totals",
    oracle=f"""
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS cnt,
               -- NaN addends excluded on both engines (numeric.py contract)
               {sql_exact_round_sum_fast("CASE WHEN NOT isnan(value) THEN value END")} AS sum_value
        FROM events GROUP BY event_type
    """,
    doc="foreachBatch sink: per-micro-batch aggregates upserted to "
    "batch_id-partitioned parquet with dynamic partition overwrite "
    "(idempotent on retry); reader re-aggregates partials — equals the "
    "batch groupBy",
    tags=("streaming", "sink", "foreachbatch"),
    bench=False,
)
def q_stream_foreachbatch_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each event lands in exactly one micro-batch, so partial (cnt,
    sum) rows add back to the exact batch answer regardless of how the
    replay was batched. Scratch output + checkpoint are recreated per
    run (a stale checkpoint would skip already-seen files and write
    nothing)."""
    import hashlib
    import os
    import shutil
    import tempfile

    from hadoop_lab_spark.streaming.jobs import stream_foreachbatch_event_totals

    sf_tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    out = os.path.join(tempfile.gettempdir(), f"hls_feb_{sf_tag}")
    for p in (out, out + "_ckpt"):
        shutil.rmtree(p, ignore_errors=True)
    stream_foreachbatch_event_totals(spark, sf_dir, out)
    parts = spark.read.parquet(out)
    # partials are exact integer micros (the job guards NaN and applies
    # micro_addend before summing) — re-summing micros is exact and
    # associative, so partial-of-partial equals the one-pass answer;
    # round_micros_to_double is the same finisher exact_round_sum_fast
    # applies, so the image matches the fast oracle formula.
    return parts.groupBy("event_type").agg(
        F.sum("cnt").cast("bigint").alias("cnt"),
        round_micros_to_double(F.sum("sum_micros"), 2).alias("sum_value"),
    )


@register(
    "stream_chunk_documents",
    oracle=f"""
        SELECT doc_id,
               CAST(off // {CHUNK_STRIDE} AS INTEGER) AS chunk_idx,
               substring(text, CAST(off + 1 AS INT), {CHUNK_WINDOW}) AS chunk_text,
               CAST(length(substring(text, CAST(off + 1 AS INT), {CHUNK_WINDOW}))
                    AS INTEGER) AS chunk_len
        FROM documents,
             unnest(generate_series(0, CAST(n_chars - 1 AS BIGINT), {CHUNK_STRIDE}))
                 AS t(off)
        WHERE n_chars > 0
    """,
    doc="STATELESS streaming transform: the mlprep chunking pipeline applied "
    "to a document stream (append mode, no watermark/state needed) — the "
    "streaming-ingest shape of RAG/embedding prep; must equal the batch "
    "chunker exactly",
    tags=("streaming", "mlprep", "chunking"),
    bench=False,
)
def q_stream_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A per-row Generate is trivially streamable (no state, no
    watermark, append mode): each micro-batch chunks only its own files.
    At scale this runs on the landing zone as documents arrive, with the
    SAME code the batch query uses — the point of sharing the logical
    plan between the two."""
    from hadoop_lab_spark.streaming.jobs import _read_stream_table

    docs = _read_stream_table(spark, sf_dir, "documents").filter(
        F.col("n_chars") > 0
    )
    offs = F.sequence(
        F.lit(0),
        F.greatest(F.col("n_chars") - 1, F.lit(0)).cast("bigint"),
        F.lit(CHUNK_STRIDE).cast("bigint"),
    )
    chunk = F.substring(F.col("text"), F.col("off").cast("int") + 1, CHUNK_WINDOW)
    stream = docs.select(
        "doc_id", "text", F.posexplode(offs).alias("chunk_idx", "off")
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        chunk.alias("chunk_text"),
        F.length(chunk).alias("chunk_len"),
    )
    return _replay(spark, stream, "mem_chunks", "append")


@register(
    "stream_stratified_sample",
    oracle=f"""
        WITH sampled AS (
            SELECT event_type, event_id, value
            FROM events
            WHERE {_SO._MD5_BUCKET_256.format(k="event_id")} < {_SO._rate_case_sql()}
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_sampled,
               {sql_exact_round_sum_fast("CASE WHEN NOT isnan(value) THEN value END")} AS sum_value,
               CAST(min(event_id) AS BIGINT) AS min_event_id,
               CAST(max(event_id) AS BIGINT) AS max_event_id
        FROM sampled GROUP BY event_type
    """,
    doc="streaming deterministic stratified sampling: the batch lane's "
    "per-stratum md5-rate filter applied to the event stream as a "
    "stateless append query — membership is a pure function of the row "
    "key, so the sample is identical under any micro-batching, restart, "
    "or backfill (proven multi-batch in tests/test_streaming_batching.py); "
    "bounded replay re-aggregated equals the batch oracle",
    tags=("streaming", "sampling"),
    bench=False,
)
def q_stream_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_lab_spark.streaming.jobs import stream_stratified_sample

    stream = stream_stratified_sample(spark, sf_dir)
    snap = _replay(spark, stream, "mem_strat_sample", "append")
    # NaN guard mirrors the batch twin (numeric.py non-finite policy).
    return snap.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sampled"),
        exact_round_sum_fast(nan_excluded("value")).alias("sum_value"),
        F.min("event_id").cast("bigint").alias("min_event_id"),
        F.max("event_id").cast("bigint").alias("max_event_id"),
    )
