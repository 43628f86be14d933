"""Semantic unit tests for the training-data-pipeline function library
(functions/text.py, functions/dedup.py, functions/similarity.py) on tiny
hand-built DataFrames — properties the oracle-differential tests can't
see (invariances, recall relationships, edge cases).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from hadoop_lab_spark.functions import dedup as D
from hadoop_lab_spark.functions import similarity as S
from hadoop_lab_spark.functions import text as X


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "The quick brown fox jumps over the lazy dog near the river bank"),
        (2, "the  QUICK   brown fox jumps over the lazy dog near the river bank"),
        (3, "The quick brown fox jumps over the lazy dog near the river shore"),
        (4, "completely different text about spark query engines and shuffles"),
        (5, "der hund und die katze sind nicht mit der maus"),
        (6, "el perro y el gato que viven en la casa"),
        (7, "你好 世界"),
        (8, "xyzzy plugh"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_fingerprint_canonical_invariance(spark, docs):
    """Case + whitespace variants collide; a 1-word change does not."""
    fp = {
        r["doc_id"]: r["fp"]
        for r in docs.select("doc_id", X.fingerprint_md5("text").alias("fp")).collect()
    }
    assert fp[1] == fp[2]
    assert fp[1] != fp[3]
    assert fp[1] != fp[4]


def test_token_counts(spark):
    df = spark.createDataFrame([(1, "a bb  ccc"), (2, "don't stop-me now")], ["i", "t"])
    out = {
        r["i"]: (r["n"], r["b"])
        for r in df.select(
            "i",
            X.token_count("t").alias("n"),
            X.bpe_token_count("t").alias("b"),
        ).collect()
    }
    assert out[1] == (3, 3)
    # don ' t stop - me now → 7 BPE-ish tokens, 3 whitespace tokens
    assert out[2] == (3, 7)


def test_lang_id_markers(spark, docs):
    got = {
        r["doc_id"]: r["lang"]
        for r in docs.select("doc_id", X.lang_id("text").alias("lang")).collect()
    }
    assert got[1] == "en"
    assert got[5] == "de"
    assert got[6] == "es"
    assert got[7] == "zh"
    assert got[8] == "und"


def test_quality_score_bounds(spark, docs):
    vals = [r["q"] for r in docs.select(X.quality_score("text").alias("q")).collect()]
    assert all(0.0 <= v <= 1.0 for v in vals)


def test_minhash_ingest_pairs_equals_two_helper_union(spark):
    """The composed ingest pair stage must return EXACTLY the union of
    its two predecessors — minhash_incremental_dups(base, delta) plus
    minhash_near_dups(delta) — pairs and Jaccard values both. Uses a
    corpus with near-dups in every class (cross, within-delta,
    within-base [must NOT appear], none) at a permissive threshold so
    all classes actually collide. Run on /root/testdata docs too via
    the registered lane's oracle (driver gate)."""
    rows = [
        # delta docs (even ids), base docs (odd ids)
        (0, "the quick brown fox jumps over the lazy dog near the river bank"),
        (1, "the quick brown fox jumps over the lazy dog near the river shore"),
        (2, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (3, "a completely unrelated sentence about query engines and big shuffles"),
        (4, "the quick brown fox jumps over the lazy dog near the river bank"),
        (5, "a completely unrelated sentence about query engines and big shuffles ok"),
        (7, "a completely unrelated sentence about query engines and big shuffle"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    delta = df.filter(F.col("doc_id") % 2 == 0)
    base = df.filter(F.col("doc_id") % 2 == 1)
    t = 0.3
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.minhash_ingest_pairs(base, delta, "doc_id", "text", t).collect()
    }
    cross = {
        (r["new_id"], r["base_id"]): r["jaccard"]
        for r in D.minhash_incremental_dups(base, delta, "doc_id", "text", t).collect()
    }
    within = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.minhash_near_dups(delta, "doc_id", "text", t).collect()
    }
    assert cross, "fixture must produce cross pairs"
    assert within, "fixture must produce within-delta pairs"
    assert got == {**cross, **within}
    # base x base near-dups (5,7) must not be paired by any of them.
    assert not any({a, b} == {5, 7} for a, b in got)


def test_exact_jaccard_values(spark, docs):
    """Jaccard(1,3): 13-token docs, 3-shingles → 11 each, differing only
    in the last token → 10 shared ⇒ 10/12."""
    doc_sets = D.word_shingle_arrays(docs, "doc_id", "text")
    pairs = spark.createDataFrame([(1, 3)], ["id_a", "id_b"])
    row = D.exact_jaccard(doc_sets, pairs, "doc_id").collect()[0]
    assert row["jaccard"] == pytest.approx(10 / 12)


def test_simhash_shape_and_similarity(spark, docs):
    out = {r["doc_id"]: r["simhash"] for r in D.simhash_bits(docs, "doc_id", "text").collect()}
    assert all(len(s) == D.SIMHASH_BITS and set(s) <= {"0", "1"} for s in out.values())
    ham = lambda a, b: sum(x != y for x, y in zip(out[a], out[b]))
    # near-identical docs are closer in Hamming space than unrelated ones
    assert ham(1, 3) < ham(1, 4)


def test_lsh_topk_subset_of_bruteforce_candidates(spark):
    """Every LSH hit must appear in the brute-force ranking with the same
    cosine (bucketing changes recall, never scores)."""
    import math

    rows = [
        (i, [math.sin(i * 7.1 + d * 0.13) for d in range(8)]) for i in range(20)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = emb.filter(F.col("vec_id") < 3)
    bf = {
        (r["query_id"], r["neighbor_id"]): r["cos"]
        for r in S.cosine_topk(q, emb, 19).collect()
    }
    for r in S.lsh_ann_topk(q, emb, 5).collect():
        assert bf[(r["query_id"], r["neighbor_id"])] == r["cos"]


def test_cosine_self_similarity(spark):
    emb = spark.createDataFrame([(1, [1.0, 2.0, 3.0]), (2, [2.0, 4.0, 6.0])], ["vec_id", "embedding"])
    row = S.cosine_topk(emb.filter("vec_id = 1"), emb, 1).collect()[0]
    assert row["neighbor_id"] == 2
    assert row["cos"] == 1.0


def test_multimodal_fake_plumbing_and_real_quarantine(spark):
    """Fake path emits the declared schema with bounded frame fan-out;
    the REAL decoder (r4: no longer a stub — stdlib header parser, see
    tests/test_multimodal_real.py for real-file coverage) must
    quarantine undecodable payloads as NULL dims, never raise."""
    from hadoop_lab_spark.functions import multimodal as M

    df = spark.createDataFrame([(1, "x" * 250), (2, "y" * 950)], ["doc_id", "text"])
    wp = df.select("doc_id", M.payload_from_text("text").alias("payload"))

    feats = {r["doc_id"]: r for r in M.extract_image_features(wp).collect()}
    assert feats[1]["n_bytes"] == 250
    assert len(feats[1]["sha_prefix"]) == 16
    assert 64 <= feats[1]["width"] < 256 and 64 <= feats[1]["height"] < 256

    frames = M.sample_frames(wp).groupBy("doc_id").count().collect()
    got = {r["doc_id"]: r["count"] for r in frames}
    assert got == {1: 2, 2: M.MAX_FRAMES}

    real = {r["doc_id"]: r for r in M.decode_image_real(wp).collect()}
    assert real[1]["n_bytes"] == 250  # payload identified for quarantine
    assert real[1]["width"] is None and real[1]["height"] is None


def test_plane_weights_literal_equals_column_md5(spark):
    """The driver-side literal weights must equal the engine-side
    md5-derived hyperplane_weight for every (plane, dim)."""
    from pyspark.sql import functions as F

    df = spark.range(1).select(
        *[
            S.hyperplane_weight(p, F.lit(d)).alias(f"w_{p}_{d}")
            for p in range(3)
            for d in range(8)
        ]
    )
    row = df.collect()[0]
    for p in range(3):
        lit = S._plane_weights(p, 8)
        for d in range(8):
            assert row[f"w_{p}_{d}"] == lit[d], (p, d)


def test_lsh_signature_rejects_wide_vectors(spark):
    from pyspark.sql import functions as F

    emb = spark.createDataFrame([(1, [0.1] * 70)], ["vec_id", "embedding"])
    with pytest.raises(Exception, match="wider than max_dim"):
        emb.select(S.lsh_signature(F.col("embedding"), max_dim=64)).collect()


def test_asof_join_backward_semantics(spark):
    """Inclusive backward as-of: equal ts matches; no prior row → NULLs;
    latest-preceding wins."""
    from hadoop_lab_spark.operators import asof_join_backward

    left = spark.createDataFrame(
        [(1, 10, "l1"), (1, 20, "l2"), (2, 5, "l3")], ["k", "ts", "lv"]
    )
    right = spark.createDataFrame(
        [(1, 10, "r10"), (1, 15, "r15"), (2, 9, "r9")], ["k", "ts", "rv"]
    )
    out = {
        r["lv"]: r["r_rv"]
        for r in asof_join_backward(left, right, "k", "ts", "ts").collect()
    }
    assert out == {"l1": "r10", "l2": "r15", "l3": None}


def test_deterministic_sample_stability(spark):
    """Same keys in, same keys out — regardless of partitioning."""
    from hadoop_lab_spark.operators import deterministic_sample

    df = spark.range(1000).withColumnRenamed("id", "k")
    s1 = {r["k"] for r in deterministic_sample(df, "k", 64).collect()}
    s2 = {r["k"] for r in deterministic_sample(df.repartition(13), "k", 64).collect()}
    assert s1 == s2
    assert 0.15 < len(s1) / 1000 < 0.35  # ~25% expected


def test_salted_collect_equals_plain(spark):
    from hadoop_lab_spark.operators import collect_per_group, collect_per_group_salted

    df = spark.createDataFrame(
        [(i % 3, f"v{i}") for i in range(50)], ["k", "v"]
    )
    plain = {r["k"]: r["collected"] for r in collect_per_group(df, "k", "v").collect()}
    salted = {
        r["k"]: r["collected"]
        for r in collect_per_group_salted(df, "k", "v", buckets=4).collect()
    }
    assert plain == salted


def test_simhash_near_dups_symmetric_radius(spark, docs):
    from hadoop_lab_spark.functions import dedup as D2

    pairs = D2.simhash_near_dups(docs, "doc_id", "text", max_hamming=64).collect()
    sig = {r["doc_id"]: r["simhash"] for r in D2.simhash_bits(docs, "doc_id", "text").collect()}
    for r in pairs:
        ham = sum(x != y for x, y in zip(sig[r["id_a"]], sig[r["id_b"]]))
        assert ham == r["hamming"]
    # near-identical docs 1/3 must be candidates (share a chunk) & close
    close = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    assert (1, 3) in close


def test_multiprobe_recall_superset_of_single_probe(spark):
    """Multi-probe candidates ⊇ single-probe candidates, cosines equal."""
    import math

    rows = [(i, [math.sin(i * 3.7 + d * 0.41) for d in range(8)]) for i in range(30)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = emb.filter(F.col("vec_id") < 4)
    single = {
        (r["query_id"], r["neighbor_id"]): r["cos"]
        for r in S.lsh_ann_topk(q, emb, 29).collect()
    }
    multi = {
        (r["query_id"], r["neighbor_id"]): r["cos"]
        for r in S.lsh_ann_topk_multiprobe(q, emb, 29).collect()
    }
    assert set(single) <= set(multi)
    for pair, cos in single.items():
        assert multi[pair] == cos


def test_adaptive_planes_formula():
    """Plane count grows one per corpus doubling past N0 and never
    shrinks below the base — the formula both engines must agree on
    (oracle prm CTE mirrors this exactly)."""
    from hadoop_lab_spark.plans.pipeline import (
        ADAPTIVE_PLANES_N0,
        adaptive_planes,
    )

    base = S.LSH_PLANES
    assert ADAPTIVE_PLANES_N0 == 1000
    assert adaptive_planes(0) == base  # degenerate corpus: no extra planes
    assert adaptive_planes(1) == base
    assert adaptive_planes(500) == base  # sf0.01 corpus -> identical to fixed lane
    assert adaptive_planes(1000) == base  # exactly N0: log2(1) = 0
    assert adaptive_planes(1001) == base + 1
    assert adaptive_planes(2000) == base + 1  # sf0.1 corpus
    assert adaptive_planes(4000) == base + 2
    assert adaptive_planes(20000) == base + 5  # sf1.0 corpus
    assert adaptive_planes(20_000_000) == base + 15  # ~100 TB embedding table


def test_adaptive_lane_equals_fixed_lane_at_base_n(spark):
    """At a corpus below N0 the adaptive lane resolves to the base plane
    count, so its pairs are EXACTLY the fixed lane's — the adaptive
    knob only kicks in past N0."""
    from hadoop_lab_spark.plans.registry import REGISTRY, load_all_query_modules

    load_all_query_modules()
    sf = "/root/testdata/sf0.001"
    fixed = REGISTRY["dedup_embedding_cosine"].fn(spark, sf)
    adaptive = REGISTRY["dedup_embedding_cosine_adaptive"].fn(spark, sf)
    assert sorted(map(tuple, fixed.collect())) == sorted(
        map(tuple, adaptive.collect())
    )


def test_ingest_merge_frees_pair_stage_blocks(spark):
    """The ingest lane checkpoints batch-sized intermediates (delta
    sets, delta bands) and frees them once the pair list materializes
    (VERDICT r9 #1 hygiene); per evaluation only the pair-list
    checkpoint and CC's final labels may stay pinned. Two runs must
    therefore grow the persistent-RDD set by at most 2 each — a leak
    here compounds across 147 bench lanes x 3 repeats."""
    from hadoop_lab_spark.checkpoint import persistent_rdd_ids
    from hadoop_lab_spark.plans.registry import REGISTRY, load_all_query_modules

    load_all_query_modules()
    sc = spark.sparkContext
    sf = "/root/testdata/sf0.001"
    fn = REGISTRY["dedup_ingest_merge"].fn
    fn(spark, sf).count()  # warm: first build pins its own survivors
    before = persistent_rdd_ids(sc)
    fn(spark, sf).count()
    grown = persistent_rdd_ids(sc) - before
    assert len(grown) <= 2, (
        f"ingest lane pinned {len(grown)} block sets in one run; only "
        "the pair-list checkpoint and the CC labels may survive"
    )


@pytest.mark.parametrize("pairs", ["minhash_near_dups"])
def test_band_self_join_is_merged_not_broadcast(spark, docs, pairs):
    """The (band, band_sig) self-join stays a sort-merge join even where
    both sides are small enough to broadcast: a broadcast on that
    string key pins a 64 MB hash-relation page on the driver until the
    ContextCleaner frees it."""
    df = getattr(D, pairs)(docs, "doc_id", "text", 0.5)
    assert (1, 3) in {(r["id_a"], r["id_b"]) for r in df.collect()}
    plan = df._jdf.queryExecution().executedPlan().toString()
    band_joins = [ln for ln in plan.splitlines() if "Join" in ln and "band_sig" in ln]
    assert band_joins, plan
    assert all("SortMergeJoin" in ln for ln in band_joins), plan
