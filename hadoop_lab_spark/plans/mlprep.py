"""Training-data preparation queries: chunking, sequence packing, TF-IDF,
snapshot diff (CDC), SCD1 upsert, unpivot, deterministic dataset splits.

These extend the LLM-pipeline surface (dedup/similarity/quality live in
plans/pipeline.py) with the dataset-shaping operators a 100 TB corpus
build needs between "raw documents" and "training shards". Every query
is oracle-checked; float policy per plans/registry.py (integer-ratio
outputs exact, money sums round 2dp, no ln/exp).

The reference has no counterpart for any of these (its 10 jobs are
teaching-scale MapReduce — SURVEY.md §2.11); they are judged as
first-class pipeline components alongside §2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_lab_spark.functions import text as X
from hadoop_lab_spark.operators.sampling import hash_bucket
from hadoop_lab_spark.functions.numeric import (
    exact_round_sum_fast,
    sql_exact_round_sum_fast,
)
from hadoop_lab_spark.plans.registry import register
from hadoop_lab_spark.sources import load_table

_TOKS = f"regexp_split_to_array(trim(text), '{X.WS_RE}')"
_HEXPAIR = (
    "((instr('0123456789abcdef', substring(md5(CAST({k} AS VARCHAR)), 1, 1)) - 1) * 16"
    " + (instr('0123456789abcdef', substring(md5(CAST({k} AS VARCHAR)), 2, 1)) - 1))"
)

CHUNK_WINDOW = 200  # chars per chunk
CHUNK_STRIDE = 150  # window - stride = 50 chars overlap
PACK_BUDGET = 512  # tokens per pack
PACK_BUCKETS = 32  # parallel packing lanes


# ---------------------------------------------------------------------------
# Document chunking (overlapping fixed-size windows)
# ---------------------------------------------------------------------------
@register(
    "chunk_documents_overlap",
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
    doc=f"overlapping char-window chunking ({CHUNK_WINDOW}-char windows, "
    f"{CHUNK_STRIDE}-char stride): explode over a stride sequence + substring — "
    "the RAG/embedding-prep primitive",
    tags=("mlprep", "chunking", "text"),
)
def q_chunk_documents_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunking is scan-local (sequence + posexplode + substring in one
    codegen stage): no shuffle, output rows ∝ total chars / stride, so
    it streams at 100 TB. The sequence end is clamped to >= 0 (empty
    docs are filtered on BOTH sides first — Spark's sequence(0,-1)
    counts backwards while DuckDB's generate_series is empty, the
    total-expression trap in tests/test_properties.py)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    offs = F.sequence(
        F.lit(0),
        F.greatest(F.col("n_chars") - 1, F.lit(0)).cast("bigint"),
        F.lit(CHUNK_STRIDE).cast("bigint"),
    )
    chunk = F.substring(F.col("text"), F.col("off").cast("int") + 1, CHUNK_WINDOW)
    return (
        docs.select("doc_id", "text", F.posexplode(offs).alias("chunk_idx", "off"))
        .select(
            "doc_id",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            chunk.alias("chunk_text"),
            F.length(chunk).alias("chunk_len"),
        )
    )


# ---------------------------------------------------------------------------
# Sequence packing (deterministic token-budget sharding)
# ---------------------------------------------------------------------------
@register(
    "pack_documents_greedy",
    oracle=f"""
        SELECT doc_id, bucket, n_tokens,
               CAST(coalesce(sum(n_tokens) OVER (
                        PARTITION BY bucket ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    // {PACK_BUDGET} AS BIGINT) AS pack_id
        FROM (
            SELECT doc_id,
                   CAST(doc_id % {PACK_BUCKETS} AS BIGINT) AS bucket,
                   CAST(len({_TOKS}) AS INTEGER) AS n_tokens
            FROM documents
        )
    """,
    doc=f"sequence packing: docs assigned to ≤{PACK_BUDGET}-token training packs "
    f"by exclusive running token count within {PACK_BUCKETS} parallel lanes — "
    "the context-window packing step of an LLM data pipeline",
    tags=("mlprep", "packing", "window"),
)
def q_pack_documents_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic SEQUENTIAL packing (doc order, exclusive cumsum ÷
    budget), not bin-packing — the standard scalable compromise: true
    first-fit is inherently serial, while this is one window over
    lanes. The lane hash (doc_id % buckets) bounds every window
    partition to n_docs/buckets rows, so no single task sorts the
    corpus; at 100 TB raise PACK_BUCKETS to O(cores) and the plan is
    unchanged. A doc may straddle a pack boundary (packs can exceed the
    budget by < 1 doc); callers that need hard caps split docs first
    (chunk_documents_overlap)."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % PACK_BUCKETS).alias("bucket"),
        X.token_count("text").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return docs.select(
        "doc_id",
        "bucket",
        "n_tokens",
        F.floor(cum_before / PACK_BUDGET).cast("long").alias("pack_id"),
    )


# ---------------------------------------------------------------------------
# TF-IDF top terms per document
# ---------------------------------------------------------------------------
@register(
    "tfidf_top_terms",
    oracle=f"""
        WITH tf AS (
            SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
            FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)
            WHERE tok <> ''
            GROUP BY doc_id, tok
        ),
        df_ AS (SELECT tok, CAST(count(*) AS BIGINT) AS df_ FROM tf GROUP BY tok),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.tok, tf.tf,
                   CAST(tf.tf * (n.n_docs + 1) AS BIGINT) / (df_.df_ + 1) AS score
            FROM tf JOIN df_ USING (tok) CROSS JOIN n
        )
        SELECT doc_id, tok, tf, score
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY doc_id ORDER BY score DESC, tok) AS rn
              FROM scored)
        WHERE rn <= 3
    """,
    doc="TF-IDF top-3 terms per document with a RATIO idf "
    "(tf·(N+1)/(df+1)) — integer-exact cross-engine scoring, no ln "
    "(log is not correctly-rounded across libm/JVM, float policy)",
    tags=("mlprep", "tfidf", "text"),
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle budget: one groupBy(doc_id, tok) for tf, one
    vocab-bounded groupBy(tok) for df (BROADCAST back onto tf — the
    vocab is orders of magnitude smaller than the corpus), a 1-row
    broadcast for N, and the top-k window repartitions by doc_id.
    The score ((tf·(N+1)) / (df+1)) multiplies integers exactly, then
    performs ONE double division — identical bits on both engines, so
    no rounding policy is needed. Ties break on the token string."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(X.tokens("text")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    df_ = tf.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("df_"))
    n = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    # df_ is UNHINTED (r4 broadcast audit): its cardinality is the
    # corpus vocabulary, which grows with the data — a forced broadcast
    # is an OOM bomb on a noisy 100 TB corpus. The planner broadcasts
    # it while it fits and falls back to a shuffle join on tok when it
    # doesn't; only the provably-tiny N (1 row) keeps its hint.
    scored = (
        tf.join(df_, "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            "tf",
            ((F.col("tf") * (F.col("n_docs") + 1)).cast("bigint") / (F.col("df_") + 1)).alias(
                "score"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("tok"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "tok", "tf", "score")
    )


# ---------------------------------------------------------------------------
# Snapshot diff (change data capture between two table versions)
# ---------------------------------------------------------------------------
_V1 = "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 10 <> 0"
_V2 = """
    SELECT o_orderkey, o_orderstatus,
           CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 10.0
                ELSE o_totalprice END AS o_totalprice
    FROM orders WHERE o_orderkey % 7 <> 0
"""


@register(
    "snapshot_diff_orders",
    oracle=f"""
        WITH v1 AS ({_V1}), v2 AS ({_V2})
        SELECT CASE WHEN v1.o_orderkey IS NULL THEN 'added'
                    WHEN v2.o_orderkey IS NULL THEN 'removed'
                    WHEN v1.o_totalprice <> v2.o_totalprice THEN 'changed'
                    ELSE 'unchanged' END AS change_type,
               CAST(count(*) AS BIGINT) AS n_rows,
               {sql_exact_round_sum_fast("coalesce(v2.o_totalprice, 0) - coalesce(v1.o_totalprice, 0)")}
                   AS price_delta
        FROM v1 FULL OUTER JOIN v2 USING (o_orderkey)
        GROUP BY 1
    """,
    doc="snapshot diff (CDC): two simulated table versions full-outer-joined "
    "on the key, classified added/removed/changed/unchanged with the price "
    "delta per class — the incremental-ingest audit primitive",
    tags=("mlprep", "cdc", "join"),
)
def q_snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One co-partitioned full-outer shuffle join on the key, then a
    4-group aggregate — at 100 TB both snapshots bucket by the key at
    write time and the join is shuffle-free. The simulated update adds
    an EXACT 10.0 (single IEEE add — engine-identical); the delta sum
    stays cent-exact, so round(·, 2) is hash-safe per float policy."""
    o = load_table(spark, sf_dir, "orders")
    v1 = o.filter(F.col("o_orderkey") % 10 != 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    v2 = o.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 3 == 0, F.col("o_totalprice") + 10.0)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    # Presence is detected via constant marker flags, NOT the price
    # column: a row that EXISTS with a NULL price must classify as
    # unchanged/changed, never as added/removed (adversarial finding —
    # the oracle keys presence on the join key for the same reason).
    v1 = v1.withColumn("_in_a", F.lit(True))
    v2 = v2.withColumn("_in_b", F.lit(True))
    j = v1.alias("a").join(v2.alias("b"), "o_orderkey", "full_outer")
    change = (
        F.when(F.col("a._in_a").isNull(), "added")
        .when(F.col("b._in_b").isNull(), "removed")
        .when(F.col("a.o_totalprice") != F.col("b.o_totalprice"), "changed")
        .otherwise("unchanged")
    )
    delta = F.coalesce(F.col("b.o_totalprice"), F.lit(0.0)) - F.coalesce(
        F.col("a.o_totalprice"), F.lit(0.0)
    )
    return (
        j.select(change.alias("change_type"), delta.alias("_d"))
        .groupBy("change_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            exact_round_sum_fast("_d").alias("price_delta"),
        )
    )


# ---------------------------------------------------------------------------
# SCD type-1 upsert (merge-into semantics as a join)
# ---------------------------------------------------------------------------
@register(
    "upsert_orders_scd1",
    oracle=f"""
        WITH base AS ({_V1}),
             updates AS (
                SELECT o_orderkey, o_orderstatus, o_totalprice + 10.0 AS o_totalprice
                FROM orders WHERE o_orderkey % 3 = 0
             ),
             merged AS (
                SELECT coalesce(u.o_orderkey, b.o_orderkey) AS o_orderkey,
                       coalesce(u.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
                       coalesce(u.o_totalprice, b.o_totalprice) AS o_totalprice
                FROM base b FULL OUTER JOIN updates u USING (o_orderkey)
             )
        SELECT o_orderstatus,
               CAST(count(*) AS BIGINT) AS n_rows,
               {sql_exact_round_sum_fast("o_totalprice")} AS sum_price
        FROM merged
        GROUP BY o_orderstatus
    """,
    doc="SCD type-1 upsert (MERGE WHEN MATCHED UPDATE / NOT MATCHED INSERT) "
    "expressed as a full-outer join + coalesce — the lakehouse merge "
    "primitive on engines without a MERGE statement",
    tags=("mlprep", "upsert", "join"),
)
def q_upsert_orders_scd1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE semantics with last-writer-wins per key: updates override
    base via column-wise coalesce after a full-outer join. The same
    co-partitioning note as snapshot_diff applies; on a real lakehouse
    table this becomes a partition-pruned rewrite of only the
    partitions holding matched keys."""
    o = load_table(spark, sf_dir, "orders")
    base = o.filter(F.col("o_orderkey") % 10 != 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    updates = o.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey", "o_orderstatus", (F.col("o_totalprice") + 10.0).alias("o_totalprice")
    )
    merged = base.alias("b").join(updates.alias("u"), "o_orderkey", "full_outer").select(
        F.coalesce(F.col("u.o_orderstatus"), F.col("b.o_orderstatus")).alias(
            "o_orderstatus"
        ),
        F.coalesce(F.col("u.o_totalprice"), F.col("b.o_totalprice")).alias(
            "o_totalprice"
        ),
    )
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        exact_round_sum_fast("o_totalprice").alias("sum_price"),
    )


# ---------------------------------------------------------------------------
# Unpivot (wide → long)
# ---------------------------------------------------------------------------
@register(
    "unpivot_part_metrics",
    oracle="""
        SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS value
        FROM part
        UNION ALL
        SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value
        FROM part
    """,
    doc="unpivot/melt (wide→long): the inverse of pivot_revenue_by_status — "
    "each metric column becomes (key, metric, value) rows",
    tags=("mlprep", "unpivot", "relational"),
)
def q_unpivot_part_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's unpivot is a Generate (row fan-out ×2) in the scan stage —
    no shuffle, columnar input, value columns cast to one type up
    front as unpivot requires."""
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        "p_retailprice",
    )
    return p.unpivot(
        ids=["p_partkey"],
        values=["p_size", "p_retailprice"],
        variableColumnName="metric",
        valueColumnName="value",
    )


# ---------------------------------------------------------------------------
# Deterministic train/val/test split
# ---------------------------------------------------------------------------
@register(
    "train_val_test_split",
    oracle=f"""
        SELECT CASE WHEN b < 204 THEN 'train'
                    WHEN b < 230 THEN 'val'
                    ELSE 'test' END AS split,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               CAST(sum(n_chars) AS BIGINT) / count(*) AS avg_chars
        FROM (SELECT n_chars, {_HEXPAIR.format(k="doc_id")} % 256 AS b
              FROM documents)
        GROUP BY 1
    """,
    doc="deterministic ~80/10/10 train/val/test split by md5 hash bucket of "
    "the doc key: membership is a pure function of the key, stable across "
    "engines, reruns and repartitionings — df.randomSplit can't promise that",
    tags=("mlprep", "split", "sampling"),
)
def q_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The split survives incremental corpus growth: adding documents
    never reassigns existing ones (no modulo-on-count, no RNG state).
    avg_chars is ONE int/int double division (exact per float policy),
    computed explicitly instead of avg() — DuckDB's avg accumulates
    doubles incrementally, which is not bit-stable cross-engine."""
    docs = load_table(spark, sf_dir, "documents")
    b = hash_bucket("doc_id", 256)
    split = (
        F.when(b < 204, "train").when(b < 230, "val").otherwise("test")
    )
    agg = docs.select(split.alias("split"), "n_chars").groupBy("split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )
    return agg.select(
        "split",
        "n_docs",
        "total_chars",
        (F.col("total_chars") / F.col("n_docs")).alias("avg_chars"),
    )


# ---------------------------------------------------------------------------
# Corpus composition report (per-source stats)
# ---------------------------------------------------------------------------
@register(
    "corpus_source_stats",
    oracle="""
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               CAST(sum(n_chars) AS BIGINT) / count(*) AS avg_chars,
               quantile_cont(n_chars, 0.5) AS median_chars,
               CAST(max(n_chars) AS BIGINT) AS max_chars
        FROM documents
        GROUP BY source
    """,
    doc="corpus composition report: per-source doc counts, language "
    "diversity, char totals and exact median length — the first audit "
    "run on any training corpus before mixing sources",
    tags=("mlprep", "aggregate", "text"),
)
def q_corpus_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One shuffle on `source` (low-cardinality but not skew-prone at
    corpus scale — sources are crawls/dumps of comparable size). The
    exact median uses Spark's interpolated `percentile`, whose twin is
    DuckDB's quantile_cont: both sort bigints and interpolate the
    midpoint as one double division, so the result is bit-stable.
    avg_chars is ONE int/int division (see train_val_test_split)."""
    docs = load_table(spark, sf_dir, "documents")
    agg = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.expr("percentile(n_chars, 0.5)").alias("median_chars"),
        F.max("n_chars").cast("bigint").alias("max_chars"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_langs",
        "total_chars",
        (F.col("total_chars") / F.col("n_docs")).alias("avg_chars"),
        "median_chars",
        "max_chars",
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination (token-8-gram overlap vs a probe set)
# ---------------------------------------------------------------------------
DECON_N = 8  # tokens per contamination shingle
DECON_PROBE_MOD = 101  # doc_id % MOD == 0 ⇒ benchmark/probe doc


@register(
    "decontamination_8gram",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '{X.WS_RE}') AS t
            FROM documents
        ),
        probe AS (
            SELECT DISTINCT
                   md5(array_to_string(list_slice(t, CAST(i AS INT),
                                                  CAST(i + {DECON_N - 1} AS INT)), ' ')) AS g
            FROM toks, unnest(range(1, len(t) - {DECON_N - 2})) AS r(i)
            WHERE doc_id % {DECON_PROBE_MOD} = 0 AND len(t) >= {DECON_N}
        ),
        corp AS (
            SELECT DISTINCT doc_id,
                   md5(array_to_string(list_slice(t, CAST(i AS INT),
                                                  CAST(i + {DECON_N - 1} AS INT)), ' ')) AS g
            FROM toks, unnest(range(1, len(t) - {DECON_N - 2})) AS r(i)
            WHERE doc_id % {DECON_PROBE_MOD} <> 0 AND len(t) >= {DECON_N}
        )
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared_8grams
        FROM corp JOIN probe USING (g)
        GROUP BY doc_id
    """,
    doc=f"benchmark decontamination: flag training docs sharing any "
    f"token-{DECON_N}-gram with the probe/benchmark set (doc_id % "
    f"{DECON_PROBE_MOD} == 0), with the count of distinct shared shingles",
    tags=("mlprep", "dedup", "text", "join"),
)
def q_decontamination_8gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shared_probe_ngrams(load_table(spark, sf_dir, "documents"))


def shared_probe_ngrams(
    docs: DataFrame, probe_mod: int = DECON_PROBE_MOD, n: int = DECON_N
) -> DataFrame:
    """(doc_id, n_shared_8grams) for corpus docs sharing token-n-grams
    with the probe partition (doc_id % probe_mod == 0).

    The canonical pre-training hygiene pass: drop (here: flag) corpus
    docs that leak benchmark text. Scale shape: the probe side is a
    benchmark suite — thousands of docs, not billions — so its distinct
    shingle set broadcasts and the corpus side joins without ever
    shuffling its full shingle stream; the only wide exchanges are the
    per-doc DISTINCT and final groupBy, both keyed by (doc_id, gram) /
    doc_id which are uniform by construction. Shingles are md5'd to
    16-byte keys scan-side so the exchanges never carry raw n-gram text.
    Docs shorter than n tokens can't be flagged (no complete shingle —
    both engines filter them before the fan-out, which also dodges
    Spark's backwards sequence(1, n<1) trap)."""
    toks = X.tokens("text")
    base = docs.select("doc_id", toks.alias("t")).filter(F.size("t") >= n)
    grams = base.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(t) - {n - 1}), "
                f"i -> md5(array_join(slice(t, i, {n}), ' ')))"
            )
        ).alias("g"),
    )
    probe = (
        grams.filter(F.col("doc_id") % probe_mod == 0)
        .select("g")
        .distinct()
    )
    corp = grams.filter(F.col("doc_id") % probe_mod != 0).distinct()
    return (
        corp.join(F.broadcast(probe), "g", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_8grams"))
    )


# ---------------------------------------------------------------------------
# Embedding int8 quantization (scale + reconstruction-error audit)
# ---------------------------------------------------------------------------
@register(
    "embedding_quantize_int8",
    oracle="""
        WITH s AS (
            SELECT vec_id,
                   embedding,
                   coalesce(list_max(list_transform(embedding,
                       x -> abs(CAST(x AS DOUBLE)))), 0.0) / 127 AS sc
            FROM embeddings
            WHERE embedding IS NOT NULL AND len(embedding) > 0
        )
        SELECT vec_id,
               -- + 0.0 normalizes negative zero: DuckDB's abs() INSIDE a
               -- list_transform lambda preserves the sign bit of -0.0
               -- (scalar abs clears it), so a [-0.0] vector yields sc =
               -- -0.0 and a repr-visible -0.0 scale. IEEE -0.0 + 0.0 =
               -- +0.0 and x + 0.0 is the identity for everything else.
               -- Found by the hypothesis embeddings fuzzer.
               CASE WHEN isnan(sc) THEN NULL
                    ELSE floor(sc * 1e6) / 1e6 + 0.0 END AS scale_q,
               -- same + 0.0 normalization: a -0.0 ELEMENT with sc != 0
               -- folds to err -0.0 through the sign-preserving lambda
               -- abs, and list_max can hand it back as the maximum
               CASE WHEN sc = 0 THEN 0.0
                    WHEN isnan(sc) THEN NULL
                    ELSE (SELECT CASE WHEN isnan(m) THEN NULL
                                      ELSE floor(m * 1e6) / 1e6 + 0.0 END
                          FROM (SELECT coalesce(list_max(list_transform(embedding,
                                   x -> abs(CAST(x AS DOUBLE)
                                            - floor(CAST(x AS DOUBLE) / sc + 0.5) * sc))),
                                   0.0) AS m))
               END AS max_abs_err
        FROM s
    """,
    doc="int8 symmetric quantization audit: per-vector scale (max|x|/127) "
    "and max reconstruction error after round-trip — the compression "
    "check run before shipping an embedding corpus to int8 ANN serving",
    tags=("mlprep", "vector", "transform"),
)
def q_embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    return int8_quantize_audit(load_table(spark, sf_dir, "embeddings"))


def int8_quantize_audit(vectors: DataFrame) -> DataFrame:
    """(vec_id, scale_q, max_abs_err) over a (vec_id, embedding) frame.

    Scan-local (zero shuffle): both the scale and the error are array
    folds inside one codegen stage, so this streams over 100 TB of
    vectors at scan speed. Rounding is floor(x/s + 0.5) on BOTH engines
    (IEEE-deterministic; `round()` half-cases differ cross-engine), and
    the degenerate lanes are pinned: all-zero vector → sc=0 → err=0
    (not 0/0=NaN), NULL/empty vectors filtered, NULL elements skipped by
    greatest/list_max, NaN/±inf elements → NULL outputs via nanvl."""
    e = vectors.filter(
        F.col("embedding").isNotNull() & (F.size("embedding") > 0)
    )
    null_d = F.lit(None).cast("double")
    absmax = F.aggregate(
        F.col("embedding"),
        F.lit(0.0),
        lambda a, x: F.greatest(a, F.abs(x.cast("double"))),
    )
    s = e.select("vec_id", "embedding", (absmax / F.lit(127.0)).alias("sc"))
    err = F.aggregate(
        F.col("embedding"),
        F.lit(0.0),
        lambda a, x: F.greatest(
            a,
            F.abs(
                x.cast("double")
                - F.floor(x.cast("double") / F.col("sc") + F.lit(0.5)) * F.col("sc")
            ),
        ),
    )
    return s.select(
        "vec_id",
        # + 0.0: negative-zero normalization, mirroring the oracle (the
        # Spark fold already yields +0.0 via greatest(0.0, ·); the twin
        # term keeps both expressions aligned).
        (F.nanvl(X.trunc(F.col("sc")), null_d) + F.lit(0.0)).alias("scale_q"),
        (
            F.when(F.col("sc") == 0, F.lit(0.0))
            .otherwise(F.nanvl(X.trunc(err), null_d))
            + F.lit(0.0)
        ).alias("max_abs_err"),
    )


# ---------------------------------------------------------------------------
# Equi-width histogram (profiling primitive)
# ---------------------------------------------------------------------------
HIST_LO = 0.0
HIST_HI = 500_000.0
HIST_BINS = 20


@register(
    "price_histogram",
    oracle=f"""
        SELECT CAST(least(greatest(floor((o_totalprice - {HIST_LO})
                                         / {(HIST_HI - HIST_LO)} * {HIST_BINS}),
                                   0), {HIST_BINS - 1}) AS BIGINT) AS bin,
               CAST(count(*) AS BIGINT) AS n_orders,
               {sql_exact_round_sum_fast("o_totalprice")} AS bin_total
        FROM orders
        WHERE o_totalprice IS NOT NULL AND NOT isnan(o_totalprice)
        GROUP BY 1
    """,
    doc=f"equi-width histogram: {HIST_BINS} fixed bins over o_totalprice "
    f"[{HIST_LO}, {HIST_HI}) with overflow clamped into the edge bins — "
    "the data-profiling primitive behind every distribution dashboard",
    tags=("mlprep", "aggregate", "stats"),
)
def q_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed (data-independent) bin bounds make this one partial-agg
    pass — no pre-scan for min/max, no sort, ≤{HIST_BINS} output rows
    from any input size. floor of one double division is IEEE-identical
    cross-engine; out-of-range values clamp into the boundary bins so
    the histogram is total over non-NULL, non-NaN prices (ADVICE r3:
    Spark FLOOR maps NaN into bin 0 while DuckDB's CAST(NaN AS BIGINT)
    raises — NaN is excluded on both engines, not binned)."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull() & ~F.isnan("o_totalprice")
    )
    raw = F.floor(
        (F.col("o_totalprice") - F.lit(HIST_LO)) / F.lit(HIST_HI - HIST_LO) * HIST_BINS
    )
    bin_ = F.least(F.greatest(raw, F.lit(0)), F.lit(HIST_BINS - 1)).cast("bigint")
    return o.groupBy(bin_.alias("bin")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        exact_round_sum_fast("o_totalprice").alias("bin_total"),
    )


# ---------------------------------------------------------------------------
# Feature standardization (fit groupwise stats, transform rows)
# ---------------------------------------------------------------------------
@register(
    "feature_standardize_lineitem",
    oracle="""
        WITH stats AS (
            SELECT l_returnflag AS flag,
                   avg(l_extendedprice) AS mu,
                   stddev_samp(l_extendedprice) AS sigma,
                   CAST(count(*) AS BIGINT) AS n
            FROM lineitem
            GROUP BY 1
        )
        SELECT l_orderkey, l_linenumber, flag,
               CASE WHEN sigma IS NULL OR sigma = 0 OR isnan(sigma) THEN NULL
                    ELSE floor((l_extendedprice - mu) / sigma * 1e4) / 1e4
               END AS z_price,
               n AS group_n
        FROM lineitem JOIN stats ON l_returnflag = flag
    """,
    doc="fit-transform standardization: per-group mean/stddev joined back "
    "onto every row as a z-score — the feature-scaling pass of an ML prep "
    "pipeline, expressed as aggregate + broadcast re-join (no window)",
    tags=("mlprep", "stats", "join"),
)
def q_feature_standardize_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fitted stats table is |groups| rows — broadcast back onto the
    fact scan, so the transform adds ZERO wide shuffles beyond the fit
    aggregate (a window over the same partition would instead sort the
    full fact table). z is truncated at 4dp: mu/sigma are accumulation-
    order-sensitive doubles, and 4dp is the precision the cross-engine
    contract can guarantee (the engines agree on ~7 significant digits;
    z magnitudes stay single-digit). Degenerate sigma (single-row or
    constant group → NULL/0/NaN) yields NULL, single-eval via nanvl +
    try_divide."""
    li = load_table(spark, sf_dir, "lineitem")
    stats = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.avg("l_extendedprice").alias("mu"),
        F.stddev_samp("l_extendedprice").alias("sigma"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    z_raw = F.try_divide(
        F.col("l_extendedprice") - F.col("mu"),
        F.when(F.col("sigma") != 0, F.col("sigma")),
    )
    z = F.nanvl(z_raw, F.lit(None).cast("double"))
    return (
        li.join(F.broadcast(stats), li["l_returnflag"] == F.col("flag"))
        .select(
            "l_orderkey",
            "l_linenumber",
            "flag",
            (F.floor(z * 1e4) / 1e4).alias("z_price"),
            F.col("n").alias("group_n"),
        )
    )


# ---------------------------------------------------------------------------
# Dataset card (single-row corpus summary)
# ---------------------------------------------------------------------------
@register(
    "corpus_dataset_card",
    oracle=f"""
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               CAST(sum(CASE WHEN trim(text) = '' OR text IS NULL THEN 0
                   ELSE len({_TOKS})
                   END) AS BIGINT) AS total_tokens,
               CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique_texts,
               CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT)
                   / count(*) AS exact_dup_rate
        FROM documents
    """,
    doc="dataset card: one-row corpus summary (docs, languages, sources, "
    "chars, tokens, exact-duplicate rate) — the header block of every "
    "dataset datasheet",
    tags=("mlprep", "aggregate", "text"),
)
def q_corpus_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One pass, one reduce to a single row: every metric is a plain or
    distinct aggregate (Spark expands the three DISTINCTs via one
    Expand — still a single scan). The dup rate is int/int (exact
    double). NULL text hashes: md5(NULL) is NULL on both engines and
    count(DISTINCT) ignores NULLs identically; the token total skips
    empty/NULL docs explicitly on both sides because DuckDB's split of
    '' yields [''] (len 1) while the convention counts zero tokens."""
    docs = load_table(spark, sf_dir, "documents")
    tok_n = F.when(
        F.col("text").isNull() | (F.trim("text") == ""), F.lit(0)
    ).otherwise(X.token_count("text"))
    return docs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum(tok_n).cast("bigint").alias("total_tokens"),
        F.countDistinct(F.md5("text")).cast("bigint").alias("n_unique_texts"),
        (
            (F.count(F.lit(1)) - F.countDistinct(F.md5("text"))).cast("bigint")
            / F.count(F.lit(1))
        ).alias("exact_dup_rate"),
    )


# ---------------------------------------------------------------------------
# SCD type-2 history (versioned rows with supersession chain)
# ---------------------------------------------------------------------------
@register(
    "orders_scd2_history",
    oracle="""
        WITH hist AS (
            SELECT o_orderkey, o_totalprice, CAST(1 AS INTEGER) AS version
            FROM orders WHERE o_orderkey % 10 <> 0
            UNION ALL
            SELECT o_orderkey, o_totalprice + 10.0, CAST(2 AS INTEGER)
            FROM orders WHERE o_orderkey % 3 = 0
        )
        SELECT o_orderkey, version, o_totalprice,
               lead(version) OVER w AS superseded_by,
               lead(version) OVER w IS NULL AS is_current
        FROM hist
        WINDOW w AS (PARTITION BY o_orderkey ORDER BY version)
    """,
    doc="SCD type-2: two order snapshots unioned into a versioned history "
    "with a lead()-derived supersession pointer and current-row flag — "
    "the keep-history counterpart of the SCD1 upsert (upsert_orders_scd1)",
    tags=("mlprep", "cdc", "window"),
)
def q_orders_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 keeps every version instead of overwriting (SCD1): the union
    of snapshots is windowed per business key in version order, and
    lead(version) closes superseded rows. One shuffle on the key; the
    window partitions are per-key (2-3 rows) so no task ever sorts more
    than a key's history. On a lakehouse table the same plan applies
    with snapshot timestamps as versions."""
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    base = o.filter(F.col("o_orderkey") % 10 != 0).select(
        "o_orderkey", "o_totalprice", F.lit(1).cast("int").alias("version")
    )
    upd = o.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        (F.col("o_totalprice") + 10.0).alias("o_totalprice"),
        F.lit(2).cast("int").alias("version"),
    )
    hist = base.unionByName(upd)
    w = Window.partitionBy("o_orderkey").orderBy("version")
    superseded = F.lead("version").over(w)
    return hist.select(
        "o_orderkey",
        "version",
        "o_totalprice",
        superseded.alias("superseded_by"),
        superseded.isNull().alias("is_current"),
    )


# ---------------------------------------------------------------------------
# Embedding norm statistics per label (vector QA report)
# ---------------------------------------------------------------------------
@register(
    "embedding_norm_stats",
    oracle="""
        WITH clean AS (
            SELECT label,
                   list_filter(embedding, x -> x IS NOT NULL) AS emb
            FROM embeddings
            WHERE embedding IS NOT NULL
        ),
        norms AS (
            SELECT label,
                   sqrt(list_aggregate(list_transform(emb,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
                       AS l2
            FROM clean
            WHERE len(emb) > 0
        )
        SELECT label,
               CAST(count(*) AS BIGINT) AS n_vecs,
               floor(min(l2) * 1e6) / 1e6 AS min_l2,
               floor(max(l2) * 1e6) / 1e6 AS max_l2,
               floor(quantile_cont(l2, 0.5) * 1e6) / 1e6 AS median_l2
        FROM norms
        GROUP BY label
    """,
    doc="embedding QA: per-label L2-norm count/min/max/median — the "
    "first sanity report on any embedding corpus (zero or exploding "
    "norms flag a broken encoder before ANN indexes are built)",
    tags=("mlprep", "vector", "stats"),
)
def q_embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Norms are a scan-local array fold (sqrt is IEEE
    correctly-rounded, so no rounding is needed until the aggregate
    boundary); the only shuffle is the tiny per-label groupBy. min/max
    of identical doubles are engine-exact; the interpolated median is
    one division over sorted values — all truncated at 6dp on both
    engines only because quantile interpolation mixes two doubles.

    The fold ORDER is position order on both engines (Spark aggregate,
    DuckDB list_aggregate sum left-to-right), so the accumulated sums
    are bit-identical — same-order accumulation, not reassociation.

    NULL-element contract (ADVICE r3): elements are dropped BEFORE the
    fold on both engines (Spark array filter / DuckDB list_filter), so
    a vector with some NULL elements contributes its partial norm and a
    vector whose elements are ALL NULL is excluded entirely (from
    n_vecs too) — without this, Spark's `a + x*x` fold NULL-poisons
    the whole norm while DuckDB's list_aggregate('sum') skips NULLs,
    a silent cross-engine divergence."""
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    clean = F.filter(F.col("embedding"), lambda x: x.isNotNull())
    e = e.select("label", clean.alias("emb")).filter(F.size("emb") > 0)
    l2 = F.sqrt(
        F.aggregate(
            F.col("emb"),
            F.lit(0.0),
            lambda a, x: a + x.cast("double") * x.cast("double"),
        )
    )
    norms = e.select("label", l2.alias("l2"))
    # X.trunc, not raw floor: Spark's FLOOR(double) saturates at BIGINT
    # range, so a 1e30-norm vector (hostile-embeddings fixture) would
    # silently truncate to 9.2e12 — the exact bug class trunc's 2^53
    # guard exists for.
    return norms.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        X.trunc(F.min("l2")).alias("min_l2"),
        X.trunc(F.max("l2")).alias("max_l2"),
        X.trunc(F.expr("percentile(l2, 0.5)")).alias("median_l2"),
    )


# ---------------------------------------------------------------------------
# Language rebalancing: per-language sampling rates toward uniform share
# ---------------------------------------------------------------------------
@register(
    "language_rebalance_weights",
    oracle="""
        SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
               round(least(1.0,
                     (SELECT count(*) FROM documents WHERE lang IS NOT NULL) * 1.0
                     / (SELECT count(DISTINCT lang) FROM documents)
                     / count(*)), 4) AS sample_rate
        FROM documents WHERE lang IS NOT NULL GROUP BY lang
    """,
    doc="per-language downsampling rates toward a uniform language mix — "
    "the corpus-rebalancing step of a multilingual training-data build "
    "(rate = min(1, fair_share / lang_count), capped so no language is "
    "upsampled)",
    tags=("mlprep", "aggregate", "text"),
)
def q_language_rebalance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One corpus-wide groupBy(lang) — bounded cardinality (languages,
    not documents) — then the fair share is derived from that SAME tiny
    aggregate via an unpartitioned window (single-partition exchange
    over ≤|languages| rows, bounded at any corpus scale; the documents
    table itself is never re-scanned or re-shuffled). Division order
    (total / k / n_docs) is identical on both engines: each step is one
    correctly-rounded IEEE division of exact integer counts.

    NULL-lang contract: documents without a language id are excluded on
    BOTH engines (they can't be rebalanced) — without the filter Spark's
    groupBy keeps a NULL group that inflates the language count while
    DuckDB's count(DISTINCT lang) skips NULLs, a cross-engine divergence
    the adversarial corpus reproduces."""
    from pyspark.sql import Window

    per_lang = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("lang").isNotNull())
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )
    w = Window.partitionBy()
    fair = F.sum("n_docs").over(w).cast("double") / F.count(F.lit(1)).over(w)
    return per_lang.select(
        "lang",
        "n_docs",
        F.round(F.least(F.lit(1.0), fair / F.col("n_docs")), 4).alias("sample_rate"),
    )
