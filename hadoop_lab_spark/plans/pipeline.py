"""Training-data-pipeline queries: text analysis, dedup, similarity.

These are the extension surface beyond the 10 reference jobs (SURVEY.md
§7.1 M6, BASELINE.json north star): the operators a 100 TB training-data
pipeline needs. Every query here is registered with a full DuckDB oracle
— including the MinHash/LSH and SimHash pipelines, whose hashes are
engine-portable md5 minima precisely so the oracle can replay them.

Cross-engine float policy (see plans/registry.py): ratios of integers
and single-op scalar math are bit-identical and unrounded; folded float
accumulations (cosines, quality score) are rounded to 6dp on BOTH sides
before any ranking, so accumulation-order ulps can't flip a rank.

DuckDB-vs-Spark gotchas encoded below (learned the hard way):
- DuckDB ``CAST(double AS INT)`` rounds half-even; Spark truncates →
  every fractional index in oracle SQL goes through ``floor()``.
- DuckDB ``regexp_replace`` replaces the FIRST match unless the ``'g'``
  flag is passed; Spark replaces all.
- DuckDB list slicing is 1-based inclusive ``list_slice(l, i, j)``;
  Spark is ``slice(l, i, length)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_lab_spark.functions import dedup as D
from hadoop_lab_spark.functions import multimodal as M
from hadoop_lab_spark.functions import similarity as S
from hadoop_lab_spark.functions import sketch as K
from hadoop_lab_spark.functions import text as X
from hadoop_lab_spark.plans.registry import register
from hadoop_lab_spark.sources import load_table


def _sql_list(items: tuple[str, ...]) -> str:
    return "[" + ", ".join(f"'{s}'" for s in items) + "]"


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------
# The SAME explicit whitespace class as the Spark side (text.WS_RE):
# Java \s includes U+000B, RE2 \s does not — the shared constant removes
# the divergence class entirely.
_TOKS = f"regexp_split_to_array(trim(text), '{X.WS_RE}')"


@register(
    "text_stats",
    oracle=f"""
        SELECT doc_id,
               CAST(len({_TOKS}) AS INTEGER) AS n_tokens,
               CAST(len(regexp_extract_all(text, '{X.BPE_TOKEN_RE}')) AS INTEGER)
                   AS n_bpe_tokens,
               length(regexp_replace(text, '{X.WS_RE}', '', 'g'))
                   / len({_TOKS}) AS mean_token_len
        FROM documents
    """,
    doc="token counting: whitespace tokens, BPE-ish subword tokens, mean token length",
    tags=("pipeline", "text"),
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One codegen stage over the scan, zero shuffles — at 100 TB this is
    a single pass that reads only (doc_id, text)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        X.token_count("text").alias("n_tokens"),
        X.bpe_token_count("text").alias("n_bpe_tokens"),
        X.mean_token_length("text").alias("mean_token_len"),
    )


@register(
    "text_quality",
    oracle=f"""
        WITH t AS (
            SELECT doc_id,
                   {_TOKS} AS toks,
                   len({_TOKS}) AS n_tok,
                   len(regexp_extract_all(text, '[!-/:-@\\[-`{{-~]'))
                       / greatest(length(text), 1) AS punct,
                   length(regexp_replace(text, '{X.WS_RE}', '', 'g')) AS non_space
            FROM documents
        )
        SELECT doc_id,
               floor((0.3 * least(n_tok / 100.0, 1.0)
                   + 0.3 * (len(list_filter(toks,
                         t -> list_contains({_sql_list(X.QUALITY_STOPWORDS)}, t))) / n_tok)
                   + 0.2 * (1.0 - punct)
                   + 0.2 * least((non_space / n_tok) / 8.0, 1.0)) * 1000000)
                   / 1000000 AS quality
        FROM t
    """,
    doc="document quality scoring: length + stopword ratio + punctuation + token shape",
    tags=("pipeline", "text"),
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", X.quality_score("text").alias("quality"))


@register(
    "lang_id",
    oracle=f"""
        WITH t AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(lower(text)), '{X.WS_RE}') AS toks,
                   len(regexp_extract_all(text, '{X.CJK_RE}')) AS cjk
            FROM documents
        ),
        h AS (
            SELECT doc_id, cjk,
                   {", ".join(
                       f"len(list_filter(toks, t -> list_contains({_sql_list(marks)}, t))) AS h_{lang}"
                       for lang, marks in sorted(X.LANG_MARKERS.items())
                   )}
            FROM t
        )
        SELECT doc_id,
               CASE WHEN cjk > 0 THEN 'zh'
                    WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
                    WHEN h_de = greatest(h_de, h_en, h_es, h_fr) THEN 'de'
                    WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en'
                    WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es'
                    WHEN h_fr = greatest(h_de, h_en, h_es, h_fr) THEN 'fr'
                    ELSE 'und' END AS lang_pred
        FROM h
    """,
    doc="language ID: CJK codepoint check + marker-stopword argmax heuristic",
    tags=("pipeline", "text"),
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", X.lang_id("text").alias("lang_pred"))


@register(
    "doc_fingerprints",
    oracle=f"""
        SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '{X.WS_RE}', ' ', 'g'))) AS fp_canon,
               list_min(list_transform(
                   range(1, greatest(length(text) - {X.FINGERPRINT_K - 1}, 1) + 1),
                   i -> md5(substring(text, CAST(i AS INT), {X.FINGERPRINT_K}))
               )) AS fp_chargram
        FROM documents
    """,
    doc="document fingerprinting: canonical-form md5 + min rolling k-gram hash",
    tags=("pipeline", "text", "dedup"),
)
def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        X.fingerprint_md5("text").alias("fp_canon"),
        X.fingerprint_chargram_min("text").alias("fp_chargram"),
    )


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------
@register(
    "dedup_exact",
    oracle=f"""
        SELECT md5(trim(regexp_replace(lower(text), '{X.WS_RE}', ' ', 'g'))) AS fp,
               CAST(count(*) AS BIGINT) AS cnt,
               min(doc_id) AS keeper
        FROM documents
        GROUP BY 1
    """,
    doc="exact dedup: hash-groupBy on the canonical fingerprint; keeper = min doc_id",
    tags=("pipeline", "dedup"),
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-side partial agg on the fingerprint → one shuffle keyed on a
    uniform hash: perfectly balanced at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", X.fingerprint_md5("text").alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("cnt"), F.min("doc_id").alias("keeper"))
    )


_SHINGLES_SQL = f"""
    SELECT DISTINCT doc_id,
           array_to_string(list_slice(toks, CAST(i AS INT),
                                      CAST(i AS INT) + {D.SHINGLE_N - 1}), ' ') AS shingle
    FROM (
        SELECT doc_id, {_TOKS} AS toks FROM documents
        WHERE len({_TOKS}) >= {D.SHINGLE_N}
    ), UNNEST(range(1, len(toks) - {D.SHINGLE_N - 1} + 1)) AS u(i)
"""

_ROWS_PER_BAND = D.MINHASH_SEEDS // D.LSH_BANDS

_BANDS_SQL = f"""
    SELECT doc_id, band, md5(string_agg(mh, '|' ORDER BY seed)) AS band_sig
    FROM (
        SELECT doc_id, seed,
               CAST(floor(seed / {_ROWS_PER_BAND}) AS INT) AS band,
               min(md5(CAST(seed AS VARCHAR) || '#' || shingle)) AS mh
        FROM sh CROSS JOIN (SELECT unnest(range(0, {D.MINHASH_SEEDS})) AS seed) s
        GROUP BY doc_id, seed
    )
    GROUP BY doc_id, band
"""

_JACCARD_SQL = """
    SELECT p.id_a, p.id_b,
           i.inter / (sa.n_sh + sb.n_sh - i.inter) AS jaccard
    FROM pairs p
    JOIN (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2
    ) i ON i.id_a = p.id_a AND i.id_b = p.id_b
    JOIN (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1) sa ON sa.doc_id = p.id_a
    JOIN (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1) sb ON sb.doc_id = p.id_b
"""

#: Verification thresholds for the near-dup pipelines. The synthetic
#: corpus is random prose, so genuinely high-Jaccard pairs are rare —
#: thresholds are set where the sf0.01 corpus produces non-trivial,
#: non-empty result sets (verified empirically).
MINHASH_THRESHOLD = 0.10
NGRAM_THRESHOLD = 0.10
COSINE_DUP_THRESHOLD = 0.35


@register(
    "dedup_minhash_lsh",
    oracle=f"""
        WITH sh AS ({_SHINGLES_SQL}),
        bands AS ({_BANDS_SQL}),
        pairs AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.band_sig = b.band_sig
            WHERE a.doc_id < b.doc_id
        )
        SELECT * FROM ({_JACCARD_SQL}) WHERE jaccard >= {MINHASH_THRESHOLD}
    """,
    doc="MinHash+LSH near-dedup: shingle → minhash → band → bucket-join → "
    "exact-Jaccard verify",
    tags=("pipeline", "dedup", "lsh"),
)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate generation is the band-signature self-join — cost scales
    with collisions, never n². See functions/dedup.py for the 100 TB
    analysis (hot-key caps, bounded ×seeds blowup)."""
    docs = load_table(spark, sf_dir, "documents")
    out = D.minhash_near_dups(docs, "doc_id", "text", MINHASH_THRESHOLD)
    return out.select("id_a", "id_b", "jaccard")


@register(
    "dedup_minhash_incremental",
    oracle=f"""
        WITH sh AS ({_SHINGLES_SQL}),
        bands AS ({_BANDS_SQL}),
        pairs AS (
            SELECT DISTINCT d.doc_id AS new_id, b.doc_id AS base_id
            FROM bands d JOIN bands b
              ON d.band = b.band AND d.band_sig = b.band_sig
            WHERE d.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
        )
        SELECT p.new_id, p.base_id,
               i.inter / (sa.n_sh + sb.n_sh - i.inter) AS jaccard
        FROM pairs p
        JOIN (
            SELECT a.doc_id AS new_id, b.doc_id AS base_id,
                   CAST(count(*) AS BIGINT) AS inter
            FROM sh a JOIN sh b ON a.shingle = b.shingle
            GROUP BY 1, 2
        ) i ON i.new_id = p.new_id AND i.base_id = p.base_id
        JOIN (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1) sa
          ON sa.doc_id = p.new_id
        JOIN (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1) sb
          ON sb.doc_id = p.base_id
        WHERE i.inter / (sa.n_sh + sb.n_sh - i.inter) >= {MINHASH_THRESHOLD}
    """,
    doc="incremental MinHash dedup: a delta batch (doc_id % 5 = 0) "
    "probed against the base corpus's LSH band index — the growing-"
    "corpus ingest shape (no base×base or delta×delta re-pairing)",
    tags=("pipeline", "dedup", "lsh", "incremental"),
)
def q_dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The delta split stands in for an ingest batch; in production the
    base band signatures are a maintained index table and only the
    delta-sized probe side is computed per batch. See
    functions/dedup.py:minhash_incremental_dups for the scale analysis."""
    docs = load_table(spark, sf_dir, "documents")
    delta = docs.filter(F.col("doc_id") % 5 == 0)
    base = docs.filter(F.col("doc_id") % 5 != 0)
    return D.minhash_incremental_dups(base, delta, "doc_id", "text", MINHASH_THRESHOLD)


@register(
    "dedup_ingest_merge",
    oracle=f"""
        WITH RECURSIVE sh AS ({_SHINGLES_SQL}),
        bands AS ({_BANDS_SQL}),
        pairs AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.band_sig = b.band_sig
            WHERE a.doc_id < b.doc_id
              AND (a.doc_id % 5 = 0 OR b.doc_id % 5 = 0)
        ),
        ver AS (
            SELECT id_a, id_b FROM ({_JACCARD_SQL})
            WHERE jaccard >= {MINHASH_THRESHOLD}
        ),
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM ver
            UNION
            SELECT id_b AS src, id_a AS dst FROM ver
        ),
        nodes AS (
            SELECT doc_id FROM documents WHERE doc_id % 5 = 0
            UNION
            SELECT src AS doc_id FROM edges
        ),
        reach(root, node) AS (
            SELECT doc_id, doc_id FROM nodes
            UNION
            SELECT r.root, e.dst FROM reach r JOIN edges e ON e.src = r.node
        ),
        cc AS (SELECT root AS doc_id, min(node) AS keeper
               FROM reach GROUP BY root)
        SELECT doc_id, keeper,
               CASE WHEN keeper = doc_id THEN 'insert' ELSE 'merge' END AS action
        FROM cc WHERE doc_id % 5 = 0
    """,
    doc="end-to-end ingest-batch dedup (VERDICT r4 #8): the delta batch "
    "(doc_id % 5 = 0) is probed against the base corpus's LSH index AND "
    "deduped within itself, the verified pair graph is resolved to "
    "transitive clusters, and every delta doc gets its SCD1 upsert "
    "action — 'insert' (it is its own cluster keeper) or 'merge' (an "
    "existing/earlier doc keeps the cluster; the record maps to keeper)",
    tags=("pipeline", "dedup", "lsh", "graph", "incremental"),
)
def q_dedup_ingest_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production ingest path: ONE composed pair stage
    (``minhash_ingest_pairs`` — the delta batch is shingled and signed
    once and probes a union target of base bands + delta bands, giving
    both the cross-probe and the within-batch collisions from a single
    candidate join, verified by exact Jaccard), then
    ``connected_components`` over ONLY the touched subgraph (delta docs
    + base docs hit by a cross pair — the untouched 99%+ of a 100 TB
    base corpus never enters the iteration), and finally the keeper
    classification that feeds an SCD1 upsert (plans/mlprep.py's scd1
    lane is the apply step: 'insert' rows append, 'merge' rows update
    their keeper's alias list). Output is per-delta-doc, so result
    size ∝ batch, not corpus."""
    from hadoop_lab_spark.checkpoint import tracked_checkpoint, unpersist_rdds
    from hadoop_lab_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    delta = docs.filter(F.col("doc_id") % 5 == 0)
    base = docs.filter(F.col("doc_id") % 5 != 0)
    # The verified pair list is consumed twice (node list + CC's edge
    # symmetrization) and CC evaluates eagerly — checkpoint it so the
    # whole pair stage runs exactly once (it is batch-bounded: at most
    # the near-dup collisions of one ingest batch). The pair stage's
    # own set/band checkpoints are dead once the pair list is
    # materialized; free them so repeated lane runs (bench repeats,
    # driver verify) do not accumulate corpus-sized blocks.
    pair_blocks: list = []
    edges, _ = tracked_checkpoint(
        D.minhash_ingest_pairs(
            base, delta, "doc_id", "text", MINHASH_THRESHOLD,
            block_ids=pair_blocks,
        ).select("id_a", "id_b")
    )
    unpersist_rdds(spark.sparkContext, set(pair_blocks))
    # id_a is always a delta doc; id_b is the only endpoint that can be
    # a base doc, so delta ∪ edges.id_b covers the touched subgraph.
    nodes = (
        delta.select("doc_id")
        .unionByName(edges.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    cc = connected_components(nodes, edges, "doc_id")
    return cc.filter(F.col("id") % 5 == 0).select(
        F.col("id").alias("doc_id"),
        F.col("comp").alias("keeper"),
        F.when(F.col("comp") == F.col("id"), "insert")
        .otherwise("merge")
        .alias("action"),
    )


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
        WITH sh AS ({_SHINGLES_SQL}),
        capped AS (
            SELECT doc_id, shingle FROM sh
            WHERE shingle IN (SELECT shingle FROM sh
                              GROUP BY 1 HAVING count(*) <= 1000)
        ),
        i AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(count(*) AS BIGINT) AS inter
            FROM capped a JOIN capped b ON a.shingle = b.shingle
            WHERE a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        s AS (SELECT doc_id, count(*) AS n_sh FROM capped GROUP BY 1)
        SELECT id_a, id_b,
               i.inter / (sa.n_sh + sb.n_sh - i.inter) AS jaccard
        FROM i
        JOIN s sa ON sa.doc_id = i.id_a
        JOIN s sb ON sb.doc_id = i.id_b
        WHERE i.inter / (sa.n_sh + sb.n_sh - i.inter) >= {NGRAM_THRESHOLD}
    """,
    doc="n-gram Jaccard near-dedup over the capped shingle representation "
    "(boilerplate shingles dropped): one self-join computes intersections, "
    "perfect recall w.r.t. the capped sets",
    tags=("pipeline", "dedup"),
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = D.ngram_jaccard_pairs(docs, "doc_id", "text", NGRAM_THRESHOLD)
    return out.select("id_a", "id_b", "jaccard")


_SIMHASH_SQL = f"""
        WITH tf AS (
            SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS w, md5(tok) AS h
            FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)
            GROUP BY doc_id, tok
        ),
        bits AS (
            SELECT doc_id, j,
                   sum(w * (2 * (((instr('0123456789abcdef',
                            substring(h, CAST(floor(j / 4) AS INT) + 1, 1)) - 1)
                            >> (3 - CAST(j % 4 AS INT))) & 1) - 1)) AS s
            FROM tf CROSS JOIN (SELECT unnest(range(0, {D.SIMHASH_BITS})) AS j) js
            GROUP BY doc_id, j
        )
        SELECT doc_id,
               string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY j)
                   AS simhash
        FROM bits
        GROUP BY doc_id
"""


@register(
    "dedup_simhash",
    oracle=_SIMHASH_SQL,
    doc="SimHash document signatures: tf-weighted signed bit sums over md5 token "
    "hashes, 64-bit '0'/'1' string",
    tags=("pipeline", "dedup", "simhash"),
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash_bits(docs, "doc_id", "text")


#: Hamming radius for SimHash near-dup pairs (banded candidates; see
#: dedup.simhash_near_dups for the recall trade at radii >= chunks).
SIMHASH_HAMMING_MAX = 10

_SIMHASH_PER_CHUNK = D.SIMHASH_BITS // D.SIMHASH_CHUNKS


@register(
    "dedup_simhash_pairs",
    oracle=f"""
        WITH s AS ({_SIMHASH_SQL}),
        c AS (SELECT doc_id, simhash, unnest(range(0, {D.SIMHASH_CHUNKS})) AS chunk
              FROM s),
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                   a.simhash AS ha, b.simhash AS hb
            FROM (SELECT doc_id, simhash, chunk,
                         substring(simhash, CAST(chunk * {_SIMHASH_PER_CHUNK} + 1 AS INT),
                                   {_SIMHASH_PER_CHUNK}) AS cs FROM c) a
            JOIN (SELECT doc_id, simhash, chunk,
                         substring(simhash, CAST(chunk * {_SIMHASH_PER_CHUNK} + 1 AS INT),
                                   {_SIMHASH_PER_CHUNK}) AS cs FROM c) b
              ON a.chunk = b.chunk AND a.cs = b.cs
            WHERE a.doc_id < b.doc_id
        )
        SELECT id_a, id_b,
               CAST(list_sum(list_transform(range(1, {D.SIMHASH_BITS} + 1),
                    i -> CASE WHEN substring(ha, CAST(i AS INT), 1)
                                 = substring(hb, CAST(i AS INT), 1)
                              THEN 0 ELSE 1 END)) AS BIGINT) AS hamming
        FROM cand
        WHERE list_sum(list_transform(range(1, {D.SIMHASH_BITS} + 1),
              i -> CASE WHEN substring(ha, CAST(i AS INT), 1)
                           = substring(hb, CAST(i AS INT), 1)
                        THEN 0 ELSE 1 END)) <= {SIMHASH_HAMMING_MAX}
    """,
    doc="SimHash near-dup pairs: pigeonhole-banded candidate join on signature "
    "chunks, exact Hamming verify within a radius",
    tags=("pipeline", "dedup", "simhash"),
)
def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash_near_dups(docs, "doc_id", "text", SIMHASH_HAMMING_MAX)


@register(
    "dedup_clusters",
    oracle=f"""
        WITH RECURSIVE sh AS ({_SHINGLES_SQL}),
        bands AS ({_BANDS_SQL}),
        pairs AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.band_sig = b.band_sig
            WHERE a.doc_id < b.doc_id
        ),
        jac AS (
            SELECT id_a, id_b FROM ({_JACCARD_SQL})
            WHERE jaccard >= {MINHASH_THRESHOLD}
        ),
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM jac
            UNION
            SELECT id_b AS src, id_a AS dst FROM jac
        ),
        reach(root, node) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT r.root, e.dst FROM reach r JOIN edges e ON e.src = r.node
        )
        SELECT root AS doc_id, min(node) AS keeper
        FROM reach GROUP BY root
    """,
    doc="near-dup cluster resolution: connected components over the "
    "MinHash-LSH pair graph; every document mapped to the min doc_id of "
    "its transitive near-duplicate cluster (singletons keep themselves)",
    tags=("pipeline", "dedup", "graph"),
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs alone don't dedup a corpus — filtering needs one keeper per
    transitive cluster. Spark side: iterative min-label propagation with
    pointer jumping over DataFrames (operators/graph.py — O(log n)
    rounds, per-round cost one edge join + one groupBy, no per-component
    hotspot). Oracle: DuckDB recursive CTE computing min reachable id.
    The fixpoint is unique, so both engines agree exactly."""
    from hadoop_lab_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_near_dups(docs, "doc_id", "text", MINHASH_THRESHOLD).select(
        "id_a", "id_b"
    )
    cc = connected_components(docs.select("doc_id"), pairs, "doc_id")
    return cc.select(F.col("id").alias("doc_id"), F.col("comp").alias("keeper"))


# ---------------------------------------------------------------------------
# Similarity search (embeddings: array<float>, 64-dim)
# ---------------------------------------------------------------------------
#: Query subset for the top-k demos: small, broadcastable.
_N_QUERIES = 8
_TOP_K = 5

_DOT = (
    "list_sum(list_transform(range(1, len({a}) + 1), "
    "i -> CAST({a}[CAST(i AS INT)] AS DOUBLE) * CAST({b}[CAST(i AS INT)] AS DOUBLE)))"
)


def _dot_sql(a: str, b: str) -> str:
    return _DOT.format(a=a, b=b)


# Degenerate-similarity policy (matching functions/similarity.py::cosine):
# zero-norm division → NULL (nullif), inf-norm NaN → NULL (CASE isnan) —
# never a division error, never floor-of-NaN.
_COS_RAW = (
    f"({_dot_sql('qv', 'cv')} / "
    f"nullif(sqrt({_dot_sql('qv', 'qv')}) * sqrt({_dot_sql('cv', 'cv')}), 0))"
)
_COS_SQL = (
    f"(floor((CASE WHEN isnan({_COS_RAW}) THEN NULL ELSE {_COS_RAW} END)"
    " * 1000000) / 1000000)"
)

# Similarity-family input contract (ADVICE-r3 class): a vector with any
# NULL element has no defined cosine or hyperplane signature — Spark's
# dot-product fold NULL-poisons the whole score while DuckDB's list_sum
# skips NULL elements and yields a partial dot product, a silent
# cross-engine divergence. Partial vectors are therefore excluded from
# every similarity query on BOTH engines (NULL embeddings included).
_EMB_CLEAN_SQL = (
    "(embedding IS NOT NULL"
    " AND len(list_filter(embedding, x -> x IS NULL)) = 0)"
)


def _emb_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings table under the similarity contract (see
    _EMB_CLEAN_SQL): NULL vectors and vectors containing NULL elements
    dropped. Scan-local array predicate — no shuffle added."""
    return load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
        & ~F.exists("embedding", lambda x: x.isNull())
    )


@register(
    "sim_topk_bruteforce",
    oracle=f"""
        WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                   FROM embeddings
                   WHERE {_EMB_CLEAN_SQL} AND vec_id < {_N_QUERIES}),
        c AS (SELECT vec_id AS neighbor_id, embedding AS cv
              FROM embeddings WHERE {_EMB_CLEAN_SQL}),
        scored AS (
            SELECT query_id, neighbor_id, {_COS_SQL} AS cos
            FROM c CROSS JOIN q
            WHERE neighbor_id <> query_id
        )
        SELECT query_id, neighbor_id, cos, CAST(rk AS INTEGER) AS rk
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rk
            FROM scored
        )
        WHERE rk <= {_TOP_K}
    """,
    doc="exact brute-force cosine top-k: broadcast queries, one corpus scan, "
    "per-query window",
    tags=("pipeline", "similarity"),
)
def q_sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus is never shuffled: queries broadcast, cosine evaluated
    in the scan stage, and the only exchange carries candidate rows."""
    emb = _emb_clean(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    out = S.cosine_topk(queries, emb, _TOP_K, id_col="vec_id", vec_col="embedding")
    return out.select("query_id", "neighbor_id", "cos", "rk")


_W_SQL = (
    "(CAST(instr('0123456789abcdef', substring(md5(CAST({p} AS VARCHAR) || '_' || "
    "CAST({d} AS VARCHAR)), 1, 1)) - 1 AS DOUBLE) - 7.5)"
)

def _sig_sql(v: str, planes: int = S.LSH_PLANES) -> str:
    sig = " || ".join(
        "(CASE WHEN list_sum(list_transform(range(1, len({v}) + 1), "
        "i -> CAST({v}[CAST(i AS INT)] AS DOUBLE) * "
        + _W_SQL.format(p=p, d="i - 1")
        + ")) >= 0 THEN '1' ELSE '0' END)"
        for p in range(planes)
    )
    return sig.replace("{v}", v)


@register(
    "sim_topk_lsh",
    oracle=f"""
        WITH tagged AS (
            SELECT vec_id, embedding, {_sig_sql("embedding")} AS sig
            FROM embeddings WHERE {_EMB_CLEAN_SQL}
        ),
        q AS (SELECT vec_id AS query_id, embedding AS qv, sig FROM tagged
              WHERE vec_id < {_N_QUERIES}),
        c AS (SELECT vec_id AS neighbor_id, embedding AS cv, sig FROM tagged),
        scored AS (
            SELECT query_id, neighbor_id, {_COS_SQL} AS cos
            FROM c JOIN q USING (sig)
            WHERE neighbor_id <> query_id
        )
        SELECT query_id, neighbor_id, cos, CAST(rk AS INTEGER) AS rk
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rk
            FROM scored
        )
        WHERE rk <= {_TOP_K}
    """,
    doc="LSH-bucketed approximate top-k: random-hyperplane signatures, "
    "per-bucket candidate scan (expected O(N/2^planes) per query)",
    tags=("pipeline", "similarity", "lsh"),
)
def q_sim_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb_clean(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    out = S.lsh_ann_topk(queries, emb, _TOP_K, id_col="vec_id", vec_col="embedding")
    return out.select("query_id", "neighbor_id", "cos", "rk")


@register(
    "dedup_embedding_cosine",
    oracle=f"""
        WITH tagged AS (
            SELECT vec_id, embedding, {_sig_sql("embedding")} AS sig
            FROM embeddings WHERE {_EMB_CLEAN_SQL}
        ),
        a AS (SELECT vec_id AS id_a, embedding AS qv, sig FROM tagged),
        b AS (SELECT vec_id AS id_b, embedding AS cv, sig FROM tagged)
        SELECT id_a, id_b, {_COS_SQL} AS cos
        FROM a JOIN b USING (sig)
        WHERE id_a < id_b AND {_COS_SQL} >= {COSINE_DUP_THRESHOLD}
    """,
    doc="embedding-cosine near-dup pairs, LSH-bucket-blocked (same-bucket "
    "pairs only) at a FIXED plane count — the priced knob demo (in-bucket "
    "pair mass grows n²/2^planes when the knob is left alone; r4 sweep: "
    "41.7× wall at 10× data). Production shapes: _adaptive (corpus-derived "
    "planes) or _wide (manual log-scaled setting)",
    tags=("pipeline", "dedup", "similarity", "demo"),
    bench=False,  # priced knob demo (VERDICT r5 #5): stays registered +
    # oracle-checked so the PERFORMANCE.md pricing table has a live lane,
    # but the headline bench measures production shapes only
)
def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-plane demo lane, kept (like the applyInPandas demo) to
    price what NOT scaling the knob costs; dedup_embedding_cosine_adaptive
    is the recommended shape."""
    emb = _emb_clean(spark, sf_dir)
    out = S.cosine_near_dup_pairs(
        emb, COSINE_DUP_THRESHOLD, id_col="vec_id", vec_col="embedding"
    )
    return out.select("id_a", "id_b", "cos")


#: Plane count for the scale-tuned near-dup lane: +3 planes = 8× more
#: buckets, ÷8 expected in-bucket pairs. THE knob for the quadratic
#: term — at 10× corpus you add log₂10 ≈ 3–4 planes and in-bucket pair
#: mass (Σ bucket²) returns to where it was (PERFORMANCE.md sf1.0
#: scaling table: the fixed-plane lane was the one >2×-per-10× outlier).
WIDE_PLANES = S.LSH_PLANES + 3


@register(
    "dedup_embedding_cosine_wide",
    oracle=f"""
        WITH tagged AS (
            SELECT vec_id, embedding,
                   {{sig}} AS sig
            FROM embeddings WHERE {_EMB_CLEAN_SQL}
        ),
        a AS (SELECT vec_id AS id_a, embedding AS qv, sig FROM tagged),
        b AS (SELECT vec_id AS id_b, embedding AS cv, sig FROM tagged)
        SELECT id_a, id_b, {_COS_SQL} AS cos
        FROM a JOIN b USING (sig)
        WHERE id_a < id_b AND {_COS_SQL} >= {COSINE_DUP_THRESHOLD}
    """.replace("{sig}", _sig_sql("embedding", WIDE_PLANES)),
    doc=f"embedding-cosine near-dup pairs with log-scaled LSH blocking "
    f"({WIDE_PLANES} planes vs {S.LSH_PLANES}): the production setting of "
    "dedup_embedding_cosine's plane knob — 8× more buckets keeps the "
    "in-bucket pair mass linear as the corpus grows, at the standard "
    "LSH recall trade (near-dups straddling an extra plane are missed)",
    tags=("pipeline", "dedup", "similarity", "lsh"),
)
def q_dedup_embedding_cosine_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same operator, scale-tuned blocking: plane count is the contract
    knob (baked into both engines' signatures, so the oracle replays the
    exact buckets). Registered beside the fixed-plane lane so the
    quadratic-vs-linear behavior is MEASURED per round, not asserted —
    at sf1.0 the fixed-plane lane was 41.7× for 10× data; this lane's
    Σ bucket² stays ≈ linear."""
    emb = _emb_clean(spark, sf_dir)
    out = S.cosine_near_dup_pairs(
        emb,
        COSINE_DUP_THRESHOLD,
        id_col="vec_id",
        vec_col="embedding",
        planes=WIDE_PLANES,
    )
    return out.select("id_a", "id_b", "cos")


#: Corpus size at which the adaptive lane still uses the base plane
#: count; every doubling past it adds one plane (ceil(log2(n / N0))),
#: so expected bucket population n / 2^planes — and with it the
#: in-bucket pair mass Σ bucket² — stays O(1) as the corpus grows.
ADAPTIVE_PLANES_N0 = 1000


def adaptive_planes(n: int) -> int:
    """LSH plane count for a corpus of ``n`` clean vectors:
    ``LSH_PLANES + max(0, ceil(log2(n / N0)))`` — the VERDICT-r4
    formula. Mirrored exactly by the oracle's ``prm`` CTE (both sides
    compute ceil(log2) of the same integer ratio, exact in IEEE double
    for every reachable n)."""
    import math

    return S.LSH_PLANES + max(0, math.ceil(math.log2(max(n, 1) / ADAPTIVE_PLANES_N0)))


# Dynamic-plane signature: the plane count comes from the DATA (clean
# corpus count), so the oracle can't unroll a literal concat the way
# _sig_sql does — instead each (vector, plane) pair becomes a row via
# unnest(range(0, planes)) and the per-plane bits reassemble with an
# ordered string_agg. Weights are the same md5('<plane>_<dim>') values
# as _W_SQL / functions.similarity._plane_weights.
_ADAPTIVE_W_SQL = _W_SQL.format(p="t.pl", d="i - 1")
_ADAPTIVE_TAGGED_SQL = f"""
        clean AS (SELECT vec_id, embedding FROM embeddings
                  WHERE {_EMB_CLEAN_SQL}),
        prm AS (SELECT {S.LSH_PLANES} + greatest(0, CAST(ceil(log2(
                    count(*) / {ADAPTIVE_PLANES_N0}.0)) AS INT)) AS planes
                FROM embeddings),
        planed AS (
            SELECT vec_id, embedding,
                   unnest(range(0, (SELECT planes FROM prm))) AS pl
            FROM clean
        ),
        bits AS (
            SELECT t.vec_id, t.pl,
                   CASE WHEN list_sum(list_transform(
                            range(1, len(t.embedding) + 1),
                            i -> CAST(t.embedding[CAST(i AS INT)] AS DOUBLE)
                                 * {_ADAPTIVE_W_SQL})) >= 0
                        THEN '1' ELSE '0' END AS bit
            FROM planed t
        ),
        tagged AS (
            SELECT b.vec_id, c.embedding,
                   string_agg(bit, '' ORDER BY pl) AS sig
            FROM bits b JOIN clean c USING (vec_id)
            GROUP BY b.vec_id, c.embedding
        )
"""


@register(
    "dedup_embedding_cosine_adaptive",
    oracle=f"""
        WITH {_ADAPTIVE_TAGGED_SQL},
        a AS (SELECT vec_id AS id_a, embedding AS qv, sig FROM tagged),
        b AS (SELECT vec_id AS id_b, embedding AS cv, sig FROM tagged)
        SELECT id_a, id_b, {_COS_SQL} AS cos
        FROM a JOIN b USING (sig)
        WHERE id_a < id_b AND {_COS_SQL} >= {COSINE_DUP_THRESHOLD}
    """,
    doc="embedding-cosine near-dup pairs with corpus-size-derived LSH "
    f"plane count (base {S.LSH_PLANES} + ceil(log2(n/{ADAPTIVE_PLANES_N0}))): "
    "the production shape of the plane knob — buckets multiply with the "
    "corpus so in-bucket pair mass stays linear at ANY scale, with no "
    "manual retuning per dataset (standard LSH recall trade per added "
    "plane)",
    tags=("pipeline", "dedup", "similarity", "lsh"),
)
def q_dedup_embedding_cosine_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-tuning blocking (VERDICT r4 #1): ONE driver-side count of
    the clean corpus (a column-pruned scan, the same class of bounded
    driver scalar as connected-components' convergence check) picks the
    plane count, then the plan is identical to the fixed lane. The
    oracle derives the plane count from its own count of the same
    table, so both engines replay the exact buckets at every SF —
    at sf0.01 (n=500) this resolves to the base plane count, at 10×
    data it adds log₂ of the growth and the Σ bucket² term that made
    the fixed-plane lane quadratic (41.7× wall at 10× data, r4
    sweep) stays flat by construction."""
    emb = _emb_clean(spark, sf_dir)
    # The knob count is the UNFILTERED table count: zero data columns
    # read (parquet row-group counts only) — at 100 TB the clean filter
    # would force a full scan of the array column just to size a knob
    # that only needs order-of-magnitude n. Mirrored by the oracle's
    # prm CTE counting the raw table.
    planes = adaptive_planes(load_table(spark, sf_dir, "embeddings").count())
    out = S.cosine_near_dup_pairs(
        emb,
        COSINE_DUP_THRESHOLD,
        id_col="vec_id",
        vec_col="embedding",
        planes=planes,
    )
    return out.select("id_a", "id_b", "cos")


_FLIP_SQL = (
    "substring(sig0, 1, CAST(i AS INT) - 1) || "
    "(CASE substring(sig0, CAST(i AS INT), 1) WHEN '1' THEN '0' ELSE '1' END) || "
    f"substring(sig0, CAST(i AS INT) + 1, {S.LSH_PLANES})"
)


@register(
    "sim_topk_lsh_multiprobe",
    oracle=f"""
        WITH tagged AS (
            SELECT vec_id, embedding, {_sig_sql("embedding")} AS sig
            FROM embeddings WHERE {_EMB_CLEAN_SQL}
        ),
        q AS (
            SELECT query_id, qv, CASE WHEN i = 0 THEN sig0 ELSE {_FLIP_SQL} END AS sig
            FROM (SELECT vec_id AS query_id, embedding AS qv, sig AS sig0
                  FROM tagged WHERE vec_id < {_N_QUERIES}),
                 UNNEST(range(0, {S.LSH_PLANES} + 1)) AS u(i)
        ),
        c AS (SELECT vec_id AS neighbor_id, embedding AS cv, sig FROM tagged),
        scored AS (
            SELECT query_id, neighbor_id, {_COS_SQL} AS cos
            FROM c JOIN q USING (sig)
            WHERE neighbor_id <> query_id
        )
        SELECT query_id, neighbor_id, cos, CAST(rk AS INTEGER) AS rk
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rk
            FROM scored
        )
        WHERE rk <= {_TOP_K}
    """,
    doc="multi-probe LSH top-k: each query also probes the planes buckets one "
    "Hamming bit away — the recall lever that keeps cost bucket-bounded",
    tags=("pipeline", "similarity", "lsh"),
)
def q_sim_topk_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb_clean(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    out = S.lsh_ann_topk_multiprobe(
        queries, emb, _TOP_K, id_col="vec_id", vec_col="embedding"
    )
    return out.select("query_id", "neighbor_id", "cos", "rk")


_IVF_NPROBE = 2


def _cos_sql(a: str, b: str) -> str:
    # zero-norm → NULL (nullif), NaN → NULL (isnan) — see _COS_SQL.
    raw = (
        f"(({_dot_sql(a, b)}) / "
        f"nullif(sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)}), 0))"
    )
    return (
        f"(floor((CASE WHEN isnan({raw}) THEN NULL ELSE {raw} END)"
        " * 1000000) / 1000000)"
    )


@register(
    "sim_topk_ivf",
    oracle=f"""
        WITH clean AS (
            SELECT * FROM embeddings WHERE {_EMB_CLEAN_SQL}
        ),
        cent AS (
            SELECT label, arg_min(embedding, vec_id) AS cent
            FROM clean GROUP BY label
        ),
        q AS (SELECT vec_id AS query_id, embedding AS qv
              FROM clean WHERE vec_id < {_N_QUERIES}),
        ps AS (
            SELECT query_id, qv, label, {_cos_sql("qv", "cent")} AS cs
            FROM q CROSS JOIN cent
        ),
        probes AS (
            SELECT query_id, qv, label
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY query_id ORDER BY cs DESC, label ASC) AS pr
                  FROM ps)
            WHERE pr <= {_IVF_NPROBE}
        ),
        scored AS (
            SELECT query_id, neighbor_id, {_cos_sql("qv", "cv")} AS cos
            FROM (SELECT vec_id AS neighbor_id, embedding AS cv, label
                  FROM clean) c
            JOIN probes USING (label)
            WHERE neighbor_id <> query_id
        )
        SELECT query_id, neighbor_id, cos, CAST(rk AS INTEGER) AS rk
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rk
              FROM scored)
        WHERE rk <= {_TOP_K}
    """,
    doc="IVF-style approximate top-k: seeded coarse quantizer (deterministic "
    "min-id centroid per list), nprobe nearest lists probed, exact rerank "
    "within probed lists only",
    tags=("pipeline", "similarity", "ivf"),
)
def q_sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb_clean(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    out = S.ivf_topk(
        queries, emb, _TOP_K, nprobe=_IVF_NPROBE,
        id_col="vec_id", vec_col="embedding", list_col="label",
    )
    return out.select("query_id", "neighbor_id", "cos", "rk")


# ---------------------------------------------------------------------------
# Multimodal (binary payload columns + mapInPandas decode plumbing)
# ---------------------------------------------------------------------------
# Hex-pair → int in portable SQL (DuckDB has no hex-literal cast).
def _hexpair_sql(h: str, pos: int) -> str:
    nib = "instr('0123456789abcdef', substring({h}, {p}, 1)) - 1"
    return (
        f"(({nib.format(h=h, p=pos)}) * 16 + ({nib.format(h=h, p=pos + 1)}))"
    )


@register(
    "multimodal_image_features",
    oracle=f"""
        -- DuckDB sha256 takes VARCHAR (hashes its UTF-8 bytes) — identical
        -- to Python sha256 over the UTF-8 payload. The corpus is ASCII, so
        -- octet_length(encode(x)) == length(x).
        WITH h AS (SELECT doc_id, text, sha256(text) AS sha FROM documents)
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
               substring(sha, 1, 16) AS sha_prefix,
               CAST(64 + ({_hexpair_sql("sha", 1)} % 192) AS INTEGER) AS width,
               CAST(64 + ({_hexpair_sql("sha", 3)} % 192) AS INTEGER) AS height
        FROM h
    """,
    doc="multimodal: Arrow-batched mapInPandas feature extraction over a binary "
    "payload column (deterministic fake decoder; real decode stubbed — no "
    "image libs in container)",
    tags=("pipeline", "multimodal", "pandas"),
)
def q_multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The only Python-in-the-loop batch query — deliberately: it proves
    the Arrow/pandas path works and is oracle-checked bit-for-bit. At
    100 TB the same shape handles real codecs (one Python worker per
    partition, columnar transfer, no per-row pickling)."""
    docs = load_table(spark, sf_dir, "documents")
    with_payload = docs.select(
        "doc_id", M.payload_from_text("text").alias("payload")
    )
    return M.extract_image_features(with_payload)


@register(
    "multimodal_frame_sample",
    oracle=f"""
        -- char slicing == byte slicing here: the corpus is ASCII (and the
        -- Spark side slices real bytes either way).
        WITH f AS (
            SELECT doc_id, text, CAST(u.i AS INTEGER) AS frame_idx
            FROM documents,
                 UNNEST(range(0, least(octet_length(encode(text)) // {M.FRAME_BYTES},
                                       {M.MAX_FRAMES}))) AS u(i)
            -- NULL payload → zero frames (engine policy). Without the
            -- guard DuckDB's least() IGNORES the NULL byte count
            -- (Postgres semantics) and range(0, MAX_FRAMES) fabricates
            -- frames for the missing blob.
            WHERE text IS NOT NULL
        )
        SELECT doc_id, frame_idx,
               substring(sha256(substring(text,
                         frame_idx * {M.FRAME_BYTES} + 1, {M.FRAME_BYTES})), 1, 16)
                   AS frame_sha
        FROM f
    """,
    doc="multimodal: 1→N frame sampling over a binary 'video' column via "
    "mapInPandas (bounded fan-out, per-frame content hash)",
    tags=("pipeline", "multimodal", "pandas"),
)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    with_payload = docs.select(
        "doc_id", M.payload_from_text("text").alias("payload")
    )
    return M.sample_frames(with_payload)


@register(
    "multimodal_audio_energy",
    oracle=f"""
        -- ord(1-char substring) == byte value ONLY for ASCII payloads, so
        -- both engines restrict to docs whose byte length equals their
        -- char length (the Spark side meters real bytes either way; the
        -- filter keeps the oracle exact, not the operator correct).
        WITH a AS (
            SELECT doc_id, text FROM documents
            WHERE text IS NOT NULL
              AND octet_length(encode(text)) = length(text)
        ),
        w AS (
            SELECT doc_id, text, CAST(u.i AS INTEGER) AS window_idx
            FROM a, UNNEST(range(0, least(length(text) // {M.AUDIO_WINDOW},
                                          {M.MAX_WINDOWS}))) AS u(i)
        )
        SELECT doc_id, window_idx,
               CAST(list_aggregate(list_transform(range(1, {M.AUDIO_WINDOW + 1}),
                        j -> ord(substring(text,
                                 window_idx * {M.AUDIO_WINDOW} + CAST(j AS INT), 1))),
                    'sum') AS BIGINT) AS energy,
               CAST(list_aggregate(list_transform(range(1, {M.AUDIO_WINDOW + 1}),
                        j -> ord(substring(text,
                                 window_idx * {M.AUDIO_WINDOW} + CAST(j AS INT), 1))),
                    'max') AS INTEGER) AS peak
        FROM w
    """,
    doc="multimodal: windowed integer energy/peak metering over a binary "
    "'audio' column via mapInPandas (bounded 1→N fan-out) — completes the "
    "image/audio/video opaque-binary trio",
    tags=("pipeline", "multimodal", "pandas"),
)
def q_multimodal_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same Arrow-batched shape as frame sampling; metrics are integer
    byte arithmetic so the oracle is exact with no float policy. The
    ASCII restriction exists for the ORACLE's ord()==byte equivalence
    only — the operator itself meters raw bytes for any payload."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
        & (F.octet_length("text") == F.length("text"))
    )
    with_payload = docs.select(
        "doc_id", M.payload_from_text("text").alias("payload")
    )
    return M.audio_window_energy(with_payload)


# ---------------------------------------------------------------------------
# Embedding centroids (vector aggregation)
# ---------------------------------------------------------------------------
@register(
    "embedding_centroids",
    oracle="""
        SELECT label,
               CAST(i - 1 AS INTEGER) AS pos,
               floor(avg(CAST(embedding[CAST(i AS INT)] AS DOUBLE)) * 1000000)
                   / 1000000 AS centroid_v
        FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)
        GROUP BY label, i
    """,
    doc="per-label embedding centroids: posexplode to (label, dim) cells, "
    "mean per cell — the distributed form of a vector mean (k-means update "
    "step / class prototype computation)",
    tags=("pipeline", "similarity", "vector-agg"),
)
def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scalable vector mean: exploding to (label, pos, v) cells makes
    the aggregation a plain hash-groupBy on (label, pos) — ×dim row
    blowup, but every cell is 16 bytes and the shuffle is uniformly
    keyed, so it scales to any corpus (the alternative — zip_with fold
    over collected arrays per group — concentrates whole groups on
    single tasks). Mean is fold-accumulated float → 6dp truncation on
    both sides (cross-engine float policy)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cells = emb.select("label", F.posexplode("embedding").alias("pos", "v"))
    return cells.groupBy("label", "pos").agg(
        X.trunc(F.avg("v"), 6).alias("centroid_v")
    )


# ---------------------------------------------------------------------------
# Inverted index (posting lists)
# ---------------------------------------------------------------------------
#: Contract bound on posting-list length: tokens in more documents than
#: this are NOT indexed (they are stopword-like — frequency questions
#: about them belong in the heavy-hitters/CMS lane, not an index).
MAX_POSTINGS = 256


@register(
    "inverted_index_rare_tokens",
    oracle=f"""
        WITH toks AS (
            SELECT DISTINCT doc_id, unnest({_TOKS}) AS tok
            FROM documents
        ),
        rare AS (
            SELECT tok FROM toks
            WHERE length(tok) >= 9
            GROUP BY tok
            HAVING count(doc_id) <= {MAX_POSTINGS}
        )
        SELECT tok,
               CAST(count(doc_id) AS BIGINT) AS df_,
               string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
                   AS postings
        FROM toks JOIN rare USING (tok)
        GROUP BY tok
    """,
    doc=f"inverted index over rare tokens (length >= 9 AND document "
    f"frequency <= {MAX_POSTINGS}): per-token df + sorted posting list — "
    "the IR/dedup-support structure; the df cap is the contract that "
    "bounds both per-task collect state and output row size",
    tags=("pipeline", "text", "index"),
)
def q_inverted_index_rare_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Posting lists are per-token collects — the classic skew hazard
    (a stopword's list is the corpus). Token length alone does NOT
    bound df — a long token can still ride a boilerplate template into
    30% of the corpus (r4 skew stress) — so rarity is enforced as an
    explicit df cap: a count-only pass (tiny map-side-combined state)
    selects tokens with df <= MAX_POSTINGS, and only those reach the
    collect. State and output are then <= MAX_POSTINGS ids per token BY
    CONTRACT at any corpus size.

    Plan: the fan-out is pinned behind repartition(tok) so the df pass,
    the rare-token join, and the postings collect all reuse ONE
    exchange (the CMS ReusedExchange pattern, functions/sketch.py) —
    the cap costs no extra scan or shuffle of the token stream."""
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "doc_id",
            F.explode(F.array_distinct(F.split(F.trim("text"), X.WS_RE))).alias(
                "tok"
            ),
        )
        .filter(F.length("tok") >= 9)
        .repartition("tok")
    )
    # count(doc_id), not count(1): Catalyst would prune doc_id out of a
    # count(1) branch, giving the df pass a DIFFERENT exchange than the
    # postings probe — with both branches consuming (doc_id, tok), the
    # canonical plans match and AQE reuses one shuffle for both.
    rare = (
        toks.groupBy("tok")
        .agg(F.count("doc_id").alias("df_"))
        .filter(F.col("df_") <= MAX_POSTINGS)
    )
    return (
        toks.join(rare, "tok")
        .groupBy("tok")
        .agg(
            F.min("df_").cast("bigint").alias("df_"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings"),
        )
    )


# ---------------------------------------------------------------------------
# Frequency sketches (functions/sketch.py)
# ---------------------------------------------------------------------------
# 16-bit md5 prefix -> int, folded nibble-by-nibble (DuckDB has no
# hex-literal cast); WIDTH is a power of two dividing 16^4, so the
# modulo is exactly uniform on both engines.
def _nib16_sql(h: str) -> str:
    nib = "(instr('0123456789abcdef', substring({h}, {p}, 1)) - 1)"
    return (
        "((("
        + nib.format(h=h, p=1)
        + " * 16 + "
        + nib.format(h=h, p=2)
        + ") * 16 + "
        + nib.format(h=h, p=3)
        + ") * 16 + "
        + nib.format(h=h, p=4)
        + ")"
    )


_CMS_ROWS = ", ".join(str(d) for d in range(K.CMS_DEPTH))
_CMS_BUCKET = _nib16_sql("md5(CAST(row AS VARCHAR) || '#' || tok)")


@register(
    "heavy_hitters_cms",
    oracle=f"""
        WITH tf AS (
            SELECT tok, CAST(count(*) AS BIGINT) AS c
            FROM (SELECT unnest({_TOKS}) AS tok FROM documents)
            WHERE tok <> ''
            GROUP BY tok
        ),
        fanout AS (
            SELECT tok, c, row, {_CMS_BUCKET} % {K.CMS_WIDTH} AS bucket
            FROM tf CROSS JOIN (SELECT unnest([{_CMS_ROWS}]) AS row) r
        ),
        sketch AS (
            SELECT row, bucket, CAST(sum(c) AS BIGINT) AS total
            FROM fanout GROUP BY row, bucket
        ),
        est AS (
            SELECT tok, min(total) AS est
            FROM fanout JOIN sketch USING (row, bucket)
            GROUP BY tok
        )
        SELECT tok AS token, c AS exact_cnt, est AS est_cnt,
               CAST(rk AS INTEGER) AS rk
        FROM (
            SELECT tf.tok, tf.c, est.est,
                   row_number() OVER (ORDER BY tf.c DESC, tf.tok ASC) AS rk
            FROM tf JOIN est ON tf.tok = est.tok
        )
        WHERE rk <= 20
    """,
    doc="count-min-sketch heavy hitters: fixed d*w counter grid "
    "(map-side combined), broadcast sketch, per-token min estimate; "
    "top-20 tokens with exact vs estimated counts",
    tags=("pipeline", "sketch", "text"),
)
def q_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch shuffle is bounded at d*w keys regardless of corpus or
    vocabulary size (see functions/sketch.py for the 100 TB analysis);
    the exact tf table exists here as the verification contract — a
    production run at scale ships only the sketch. CMS guarantees
    est_cnt >= exact_cnt, property-tested in tests/test_sketch.py."""
    docs = load_table(spark, sf_dir, "documents")
    tf = K.token_frequencies(docs, "text")
    est = K.cms_estimates(tf)  # carries (tok, c, est) in one aggregate
    # orderBy+limit compiles to TakeOrderedAndProject (per-partition
    # top-20 heaps, no global sort of the vocabulary); the row_number
    # window then runs over the already-bounded 20 rows.
    top = est.orderBy(F.col("c").desc(), F.col("tok").asc()).limit(20)
    from pyspark.sql import Window

    return top.select(
        F.col("tok").alias("token"),
        F.col("c").alias("exact_cnt"),
        F.col("est").alias("est_cnt"),
        F.row_number()
        .over(Window.orderBy(F.col("c").desc(), F.col("tok").asc()))
        .alias("rk"),
    )


# ---------------------------------------------------------------------------
# Repetition / PII / n-gram-LM quality signals
# ---------------------------------------------------------------------------
@register(
    "quality_repetition",
    oracle=f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        stats AS (
            SELECT doc_id, len(toks) AS n, len(list_distinct(toks)) AS nd
            FROM t
        ),
        bg AS (
            SELECT doc_id,
                   toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1] AS bg
            FROM t, UNNEST(range(1, len(toks))) AS u(i)
            WHERE len(toks) >= 2
        ),
        top AS (
            SELECT doc_id, max(cnt) AS top_cnt
            FROM (SELECT doc_id, bg, count(*) AS cnt FROM bg GROUP BY 1, 2)
            GROUP BY doc_id
        )
        SELECT s.doc_id,
               CAST(s.n AS INTEGER) AS n_tokens,
               (s.n - s.nd) / s.n AS rep_token_ratio,
               CAST(coalesce(top.top_cnt, 0) AS BIGINT) AS top_bigram_cnt,
               CASE WHEN s.n > 1 THEN coalesce(top.top_cnt, 0) / (s.n - 1)
                    ELSE 0.0 END AS top_bigram_frac
        FROM stats s LEFT JOIN top ON s.doc_id = top.doc_id
    """,
    doc="Gopher-style repetition signals per document: repeated-token ratio "
    "and most-frequent-bigram coverage — the filters a training-data "
    "pipeline uses to drop boilerplate/spam",
    tags=("pipeline", "text", "quality"),
)
def q_quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratios are integer/integer divisions — bit-exact cross-engine, no
    rounding needed (see registry float policy). The bigram mode is
    keyed by (doc_id, bigram): per-doc cardinality bounds every group,
    so there is no hot key at any corpus size; the distinct-count side
    is scan-local array math (zero extra shuffles)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim("text"), X.WS_RE)
    stats = docs.select(
        "doc_id",
        F.size(toks).alias("n"),
        F.size(F.array_distinct(toks)).alias("nd"),
    )
    # bigrams only for docs with >= 2 tokens: zip the array with itself
    # shifted by one (equal-length slices, so zip_with never null-pads)
    n = F.size(toks)
    bg_arr = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    bg = (
        docs.filter(F.size(toks) >= 2)
        .select("doc_id", F.explode(bg_arr).alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(F.max("cnt").alias("top_cnt"))
    )
    joined = stats.join(bg, "doc_id", "left")
    return joined.select(
        "doc_id",
        F.col("n").cast("int").alias("n_tokens"),
        ((F.col("n") - F.col("nd")) / F.col("n")).alias("rep_token_ratio"),
        F.coalesce(F.col("top_cnt"), F.lit(0)).cast("bigint").alias("top_bigram_cnt"),
        F.when(
            F.col("n") > 1,
            F.coalesce(F.col("top_cnt"), F.lit(0)) / (F.col("n") - 1),
        )
        .otherwise(F.lit(0.0))
        .alias("top_bigram_frac"),
    )


#: Plain character-class patterns chosen to parse identically under
#: Java regex (Spark) and RE2 (DuckDB) — no \s, no lookaround.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+1-555-[0-9]{4}"


@register(
    "pii_redaction",
    oracle=f"""
        WITH aug AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 3 = 0
                        THEN text || ' reach user' || CAST(doc_id AS VARCHAR)
                             || '@example.com'
                        ELSE text END
                   || CASE WHEN doc_id % 5 = 0
                           THEN ' call +1-555-'
                                || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                           ELSE '' END AS t
            FROM documents
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(t, '{PII_EMAIL_RE}')) AS INTEGER)
                   AS n_emails,
               CAST(len(regexp_extract_all(t, '{PII_PHONE_RE}')) AS INTEGER)
                   AS n_phones,
               md5(regexp_replace(regexp_replace(t, '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
                                  '{PII_PHONE_RE}', '<PHONE>', 'g')) AS red_md5
        FROM aug
    """,
    doc="PII scrub: regex detection + redaction of emails/phone numbers "
    "(synthetic PII injected deterministically so both engines see known "
    "positives); full redacted text verified by md5",
    tags=("pipeline", "text", "pii"),
)
def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan-local: detection, replacement, and hashing happen in one
    codegen'd projection — zero shuffles, trivially linear at any scale.
    DuckDB's regexp_replace needs the 'g' flag to match Spark's
    replace-all default (registry header gotcha)."""
    docs = load_table(spark, sf_dir, "documents")
    aug = F.concat(
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit(" reach user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
            ),
        ).otherwise(F.col("text")),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit(" call +1-555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
    )
    red = F.regexp_replace(
        F.regexp_replace(aug, PII_EMAIL_RE, "<EMAIL>"), PII_PHONE_RE, "<PHONE>"
    )
    return docs.select(
        "doc_id",
        F.regexp_count(aug, F.lit(PII_EMAIL_RE)).cast("int").alias("n_emails"),
        F.regexp_count(aug, F.lit(PII_PHONE_RE)).cast("int").alias("n_phones"),
        F.md5(red.cast("binary")).alias("red_md5"),
    )


@register(
    "bigram_lm_topk",
    oracle=f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        bg AS (
            SELECT toks[CAST(i AS INT)] AS w1,
                   toks[CAST(i AS INT) + 1] AS w2
            FROM t, UNNEST(range(1, len(toks))) AS u(i)
            WHERE len(toks) >= 2
        ),
        c2 AS (
            SELECT w1, w2, CAST(count(*) AS BIGINT) AS cnt
            FROM bg GROUP BY w1, w2
        ),
        cond AS (
            SELECT w1, w2, cnt,
                   cnt / sum(cnt) OVER (PARTITION BY w1) AS p_cond
            FROM c2
        )
        SELECT w1, w2, cnt, p_cond, CAST(rk AS INTEGER) AS rk
        FROM (
            SELECT *, row_number() OVER (
                ORDER BY cnt DESC, w1 ASC, w2 ASC) AS rk
            FROM cond
        )
        WHERE rk <= 30
    """,
    doc="corpus bigram language-model counts: P(w2|w1) = c(w1,w2)/c(w1,*) "
    "with the top-30 bigrams — the n-gram-LM statistics pass of a "
    "text-corpus pipeline",
    tags=("pipeline", "text", "ngram"),
)
def q_bigram_lm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One shuffle on (w1,w2), one w1-keyed window for the conditional
    denominator (partitioned — never a global window over the vocab),
    then TakeOrderedAndProject for the top-30; the final row_number runs
    over 30 rows. p_cond is a single int/int division — bit-exact, no
    rounding (registry float policy)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim("text"), X.WS_RE)
    n = F.size(toks)
    pairs = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    c2 = (
        docs.filter(F.size(toks) >= 2)
        .select(F.explode(pairs).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    from pyspark.sql import Window

    denom = Window.partitionBy("w1")
    cond = c2.withColumn("p_cond", F.col("cnt") / F.sum("cnt").over(denom))
    top = cond.orderBy(F.col("cnt").desc(), F.col("w1").asc(), F.col("w2").asc()).limit(30)
    return top.select(
        "w1",
        "w2",
        "cnt",
        "p_cond",
        F.row_number()
        .over(Window.orderBy(F.col("cnt").desc(), F.col("w1").asc(), F.col("w2").asc()))
        .alias("rk"),
    )


# ---------------------------------------------------------------------------
# Grouped-map applyInPandas (per-key imperative logic escape hatch)
# ---------------------------------------------------------------------------
# Shared by the applyInPandas demo and its window-function twin below:
# one oracle, two physical strategies — the twin quantifies the Arrow
# round-trip cost the escape hatch pays (r3 verdict #2).
_LONGEST_RUN_ORACLE = """
        -- gaps-and-islands twin of the imperative pandas scan: runs of
        -- strictly increasing value in (ts, event_id) order per user
        WITH ordered AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN value > lag(value) OVER w THEN 0 ELSE 1 END AS brk
            FROM events
            WHERE user_id IS NOT NULL AND value IS NOT NULL
              AND NOT isnan(value) AND ts IS NOT NULL
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        runs AS (
            SELECT user_id,
                   sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS run_id
            FROM ordered
        )
        SELECT user_id,
               CAST(max(run_len) AS BIGINT) AS longest_run,
               CAST(sum(run_len) AS BIGINT) AS n_events
        FROM (SELECT user_id, count(*) AS run_len
              FROM runs GROUP BY user_id, run_id)
        GROUP BY user_id
"""


@register(
    "user_longest_increasing_run",
    oracle=_LONGEST_RUN_ORACLE,
    doc="grouped-map applyInPandas: per-user longest strictly-increasing "
    "value run in event-time order — the per-key imperative escape hatch "
    "(sequential scan semantics that windows express only via "
    "gaps-and-islands contortions)",
    tags=("pipeline", "pandas", "stateful", "demo"),
    bench=False,  # priced escape-hatch demo (VERDICT r5 #5): the codegen
    # window twin is the production shape; this lane stays oracle-checked
    # so the Python-vs-codegen pricing in PERFORMANCE.md has a live lane
)
def q_user_longest_increasing_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas (grouped map): one shuffle on user_id, then each
    key's rows arrive as ONE pandas frame — the API for per-key
    sequential algorithms (sessionizers, online detectors, curve fits)
    that SQL windows can't express naturally. State is bounded by the
    largest single key, not the partition; keys are uniform here. Rows
    are totally ordered by (ts, event_id) so equal timestamps cannot
    make the scan nondeterministic; NULL users/values are filtered on
    both engines (a NULL comparison would end a run on one engine and
    be skipped on the other), and NaN values likewise (ADVICE r3:
    pandas `v > prev` is False for NaN so the run resets, while DuckDB
    orders NaN above every value so the run continues — NaN cannot be
    part of a stable cross-engine run contract). NULL ts is excluded
    too: an undated event has no position in a run timeline, and the
    three orderers involved disagree on where NULLs sort (Spark windows
    NULLS FIRST, pandas sort_values NaT-last, DuckDB NULLS LAST — the
    r4 hostile NULL-ts lane caught the window twin diverging).

    UDF body is self-contained (nested imports only) — see
    functions/multimodal.py note on by-value pickling.
    """

    def longest_run(pdf):
        import pandas as pd

        pdf = pdf.sort_values(["ts", "event_id"])
        best = cur = 0
        prev = None
        for v in pdf["value"]:
            cur = cur + 1 if (prev is not None and v > prev) else 1
            best = max(best, cur)
            prev = v
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "longest_run": [best],
                "n_events": [len(pdf)],
            }
        )

    events = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("value").isNotNull()
        & ~F.isnan("value")
        & F.col("ts").isNotNull()
    )
    return events.select("user_id", "ts", "event_id", "value").groupBy(
        "user_id"
    ).applyInPandas(
        longest_run, "user_id BIGINT, longest_run BIGINT, n_events BIGINT"
    )


@register(
    "user_longest_increasing_run_window",
    oracle=_LONGEST_RUN_ORACLE,
    doc="gaps-and-islands window twin of user_longest_increasing_run — "
    "the RECOMMENDED shape: pure Column expressions (lag + running sum + "
    "two aggregates), no Python execution, no Arrow round-trip; the "
    "applyInPandas sibling stays registered as the grouped-map API demo",
    tags=("pipeline", "window", "stateful"),
)
def q_user_longest_increasing_run_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identical semantics to the applyInPandas demo, stated as
    gaps-and-islands: a run breaks wherever value fails to strictly
    increase; the running sum of breaks labels each run; the longest run
    is a max over per-run counts. Everything stays in whole-stage
    codegen — the one shuffle on user_id feeds the window, and the two
    aggregates ride the same partitioning. At 100 TB this is the plan
    you ship; the pandas sibling exists to exercise (and price) the
    per-key imperative escape hatch against it (r3 verdict #2).

    Same NULL/NaN exclusions as the sibling (a NULL or NaN comparison
    cannot be part of a stable run contract)."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("value").isNotNull()
        & ~F.isnan("value")
        & F.col("ts").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    brk = F.when(F.col("value") > F.lag("value").over(w), F.lit(0)).otherwise(
        F.lit(1)
    )
    run_id = F.sum("brk").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    runs = (
        events.select("user_id", "ts", "event_id", "value")
        .withColumn("brk", brk)
        .withColumn("run_id", run_id)
        .groupBy("user_id", "run_id")
        .agg(F.count(F.lit(1)).alias("run_len"))
    )
    return runs.groupBy("user_id").agg(
        F.max("run_len").cast("bigint").alias("longest_run"),
        F.sum("run_len").cast("bigint").alias("n_events"),
    )


@register(
    "multimodal_image_resize",
    oracle=f"""
        WITH h AS (
            SELECT doc_id, sha256(text) AS sha FROM documents
            WHERE text IS NOT NULL
        ),
        dims AS (
            SELECT doc_id,
                   CAST(64 + ({_hexpair_sql("sha", 1)} % 192) AS INTEGER) AS width,
                   CAST(64 + ({_hexpair_sql("sha", 3)} % 192) AS INTEGER) AS height
            FROM h
        )
        SELECT doc_id, width, height,
               CAST(greatest(1, width * {M.RESIZE_BOX}
                                // greatest(width, height)) AS INTEGER) AS out_width,
               CAST(greatest(1, height * {M.RESIZE_BOX}
                                // greatest(width, height)) AS INTEGER) AS out_height
        FROM dims
        UNION ALL
        SELECT doc_id, NULL, NULL, NULL, NULL FROM documents WHERE text IS NULL
    """,
    doc=f"multimodal: aspect-preserving resize planner into a "
    f"{M.RESIZE_BOX}px box over a binary 'image' column via mapInPandas — "
    "integer box-fit arithmetic on the decoded header dims (fake decoder; "
    "a real one swaps the batch body for PIL.Image.resize)",
    tags=("pipeline", "multimodal", "pandas"),
)
def q_multimodal_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1→1 Arrow-batched shape like feature extraction; NULL payloads
    yield NULL dims (null-propagation, not a crash). All-integer
    planning keeps the oracle exact with no float policy."""
    docs = load_table(spark, sf_dir, "documents")
    with_payload = docs.select(
        "doc_id", M.payload_from_text("text").alias("payload")
    )
    return M.resize_images(with_payload)
