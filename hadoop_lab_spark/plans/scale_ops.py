"""Scale-pattern operators: iterative graph rank, exact set-similarity
join, sorted-neighborhood blocking, mergeable sketches, stratified
sampling, and skyline — the r5 extension family.

Each lane here demonstrates a distinct 100 TB execution pattern that the
existing registry did not yet cover:

- ``pagerank_event_handoff`` — fixed-round iterative propagation (the
  K-iterations twin of connected components' converge-until-done loop).
- ``ssjoin_prefix_jaccard`` — EXACT set-similarity join via prefix
  filtering (AllPairs/PPJoin family, Bayardo et al. WWW'07): the
  deterministic complement to the probabilistic MinHash/SimHash lanes.
- ``sorted_neighborhood_pairs`` — the third classic entity-resolution
  blocking paradigm (after hash-blocking and composite blocking):
  candidates = neighbors in one global sort order.
- ``stratified_sample_events`` / ``quota_sample_per_type`` — the two
  deterministic sampling tiers on the portable md5 hash: per-stratum
  RATE (scan-local filter) and per-stratum QUOTA (md5-ordered top-N
  through WindowGroupLimit).
- ``hll_mergeable_distinct`` / ``cms_mergeable_grid`` — sketch
  MERGEABILITY as the contract, as a contrast pair: the CMS grid is
  linear, so per-source grids summed equal the one-pass grid cell for
  cell; HLL's order-statistics union only preserves the accuracy
  envelope (dense-mode bit-equality measurably fails).
- ``triangle_count_handoff_graph`` — degree-ordered wedge orientation,
  the O(m^1.5)-bounded triangle count.
- ``skyline_parts_pareto`` — two-phase distributed skyline (local
  skyline per partition, then skyline of the union of local skylines).
- ``curation_pipeline_e2e`` — the four-stage curation composition
  (quality gate → exact dedup → language rebalance → corpus card),
  proving the lanes compose without driver-side glue.

Cross-engine float policy (plans/registry.py): Jaccard and dominance
lanes output only integer ratios / raw parquet doubles (bit-identical,
unrounded); PageRank folds float sums across shuffles, so ranks are
floor-truncated to 6dp on BOTH engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_lab_spark.functions import dedup as D
from hadoop_lab_spark.functions import sketch as K
from hadoop_lab_spark.functions import text as X
from hadoop_lab_spark.operators.graph import pagerank
from hadoop_lab_spark.operators.sampling import hash_bucket
from hadoop_lab_spark.plans import pipeline as _P
from hadoop_lab_spark.functions.numeric import (
    exact_round_sum_fast,
    nan_excluded,
    sql_exact_round_sum_fast,
)
from hadoop_lab_spark.plans.registry import register
from hadoop_lab_spark.sources import load_table


# ---------------------------------------------------------------------------
# PageRank over the event hand-off graph (fixed K iterations)
# ---------------------------------------------------------------------------
_PR_ITERATIONS = 5
_PR_DAMPING = 0.85


def _pagerank_oracle(
    iterations: int, damping: float = _PR_DAMPING, weighted: bool = False
) -> str:
    """Unroll the fixed-round GraphX-style recurrence as chained CTEs.

    Generated programmatically so the oracle can never drift from the
    iteration count the Spark lane runs.

    The constants are embedded as CAST('<repr>' AS DOUBLE), NOT decimal
    literals: the Spark side computes ``1.0 - 0.85`` in Python
    (= 0.15000000000000002, one ulp above 0.15), while a DuckDB
    ``0.15`` literal is DECIMAL-exact — the ulp survives five rounds
    and flips a floor-truncation boundary (0.2775 vs 0.277499, caught
    by the adversarial-events suite). String→double parsing yields the
    bit-identical value on both engines.
    """
    base = f"CAST('{1.0 - damping!r}' AS DOUBLE)"
    damp = f"CAST('{damping!r}' AS DOUBLE)"
    ctes = [
        """lagged AS (
            SELECT lag(user_id) OVER (PARTITION BY event_type, CAST(ts AS DATE)
                                      ORDER BY ts, event_id) AS src,
                   user_id AS dst
            FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        )""",
        (
            "edges AS (SELECT src, dst, CAST(count(*) AS DOUBLE) AS w"
            " FROM lagged WHERE src IS NOT NULL AND src <> dst"
            " GROUP BY src, dst)"
            if weighted
            else "edges AS (SELECT DISTINCT src, dst, CAST(1.0 AS DOUBLE) AS w"
            " FROM lagged WHERE src IS NOT NULL AND src <> dst)"
        ),
        "deg AS (SELECT src, sum(w) AS deg FROM edges GROUP BY src)",
        "nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges)",
        "r0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS pr FROM nodes)",
    ]
    for i in range(1, iterations + 1):
        ctes.append(
            f"""r{i} AS (
            SELECT n.id, {base} + {damp} * COALESCE(s.s, CAST(0.0 AS DOUBLE)) AS pr
            FROM nodes n LEFT JOIN (
                SELECT e.dst, sum(r.pr * e.w / d.deg) AS s
                FROM edges e
                JOIN r{i - 1} r ON e.src = r.id
                JOIN deg d ON e.src = d.src
                GROUP BY e.dst) s ON n.id = s.dst
        )"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT id AS user_id, floor(pr * 1e6) / 1e6 AS rank6 FROM r{iterations}"
    )


@register(
    "pagerank_event_handoff",
    oracle=_pagerank_oracle(_PR_ITERATIONS),
    doc="PageRank (5 fixed rounds, damping 0.85, GraphX's non-normalized "
    "formulation) over the user hand-off graph: an edge u->v whenever u's "
    "event immediately precedes v's within an (event_type, day) window; "
    "self-loops, "
    "duplicates, and NULL-ts events dropped (a NULL timestamp cannot be "
    "ordered, and engines disagree on NULL sort placement). Oracle unrolls the identical recurrence as CTEs; "
    "ranks floor-truncated to 6dp on both engines (folded float sums)",
    tags=("extension", "graph", "iterative"),
)
def q_pagerank_event_handoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration propagation — the second iterative-graph shape
    beside connected components' converge-until-done loop.

    Scale design (100 TB): edge derivation windows over
    (event_type, day) — the partition count grows with the data, so no
    single task ever sorts an event type's full history (hand-offs are
    a within-day notion by contract; the first event of a day has no
    predecessor). The iteration body is the CC
    skeleton: static edge side degree-annotated, pre-partitioned on the
    per-round join key and checkpointed ONCE; each round is one join +
    one map-side-combining groupBy over rank-sized rows, with NO
    driver-side scalar (fixed K, no convergence collect). See
    operators/graph.py:pagerank for the full plan argument.
    """
    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    w = Window.partitionBy("event_type", F.to_date("ts")).orderBy("ts", "event_id")
    edges = (
        e.select(
            F.lag("user_id").over(w).alias("src"),
            F.col("user_id").alias("dst"),
        )
        .filter(F.col("src").isNotNull() & (F.col("src") != F.col("dst")))
        .distinct()
    )
    ranks = pagerank(edges, iterations=_PR_ITERATIONS, damping=_PR_DAMPING)
    return ranks.select(
        F.col("id").alias("user_id"), X.trunc(F.col("rank"), 6).alias("rank6")
    )


@register(
    "pagerank_weighted_handoff",
    oracle=_pagerank_oracle(_PR_ITERATIONS, weighted=True),
    doc="weighted PageRank (5 fixed rounds, damping 0.85) over the SAME "
    "hand-off graph with edge weight = transition multiplicity (how many "
    "times u's event immediately preceded v's): each round distributes "
    "rank proportionally to out-strength-normalized weights. Same "
    "oracle-unrolled recurrence, same NULL-ts and float contracts as the "
    "unweighted lane",
    tags=("extension", "graph", "iterative"),
)
def q_pagerank_weighted_handoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The weighted twin: identical iteration plan (the weight rides
    the one pre-partitioned edge table; deg becomes the out-strength
    sum), so the 100 TB argument is unchanged — this lane exists to pin
    that the operator generalizes without a new execution shape, and
    that repeat hand-offs (habitual user pairs) rank higher than
    one-off ones. Float contract note: the per-round arithmetic stays
    rank * w / deg on BOTH engines (a precomputed w/deg share would
    reassociate the division and drift a ulp per round — see
    operators/graph.py).
    """
    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    w = Window.partitionBy("event_type", F.to_date("ts")).orderBy("ts", "event_id")
    edges = (
        e.select(
            F.lag("user_id").over(w).alias("src"),
            F.col("user_id").alias("dst"),
        )
        .filter(F.col("src").isNotNull() & (F.col("src") != F.col("dst")))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    ranks = pagerank(
        edges, iterations=_PR_ITERATIONS, damping=_PR_DAMPING, weight_col="w"
    )
    return ranks.select(
        F.col("id").alias("user_id"), X.trunc(F.col("rank"), 6).alias("rank6")
    )


# ---------------------------------------------------------------------------
# Exact set-similarity join via prefix filtering (AllPairs/PPJoin family)
# ---------------------------------------------------------------------------
_SSJOIN_THRESHOLD = 0.6

@register(
    "ssjoin_prefix_jaccard",
    oracle=f"""
        WITH sh AS ({_P._SHINGLES_SQL}),
        sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jaccard
        FROM inter
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= {_SSJOIN_THRESHOLD}
    """,
    doc="EXACT all-pairs Jaccard>=0.6 join over document 3-word-shingle "
    "sets via prefix filtering (AllPairs/PPJoin): shingles globally "
    "ordered by (document frequency, shingle), each doc keeps only its "
    "|s|-ceil(t|s|)+1 rarest shingles as its prefix, candidates share a "
    "prefix shingle, then exact verification by array intersection. The "
    "oracle is the naive exhaustive UNCAPPED shingle join — prefix "
    "filtering is lossless by theorem, so the two must match exactly. "
    "Jaccard is a single integer division: bit-identical across engines, "
    "no rounding",
    tags=("extension", "dedup", "join", "scale"),
)
def q_ssjoin_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LOSSLESS complement to the two neighbouring near-dup lanes:
    dedup_minhash_lsh trades recall probabilistically, and
    dedup_ngram_jaccard is exact only w.r.t. a CAPPED representation
    (boilerplate shingles removed, which changes the Jaccard
    denominator). This lane computes true uncapped Jaccard with zero
    recall loss — prefix filtering prunes CANDIDATES, never answers.

    Scale design (100 TB): the candidate join is keyed on PREFIX
    shingles only, and the global (df ASC, shingle) ordering puts each
    document's RAREST shingles in its prefix — boilerplate (high-df)
    shingles are structurally excluded from the prefixes of all but
    the smallest sets, so join-bucket sizes stay bounded WITHOUT the
    semantic change a df cap makes (proven under the universal-
    boilerplate fixture in tests/test_skew_stress.py: candidate mass
    linear in n while a naive shingle join builds one n²/2 bucket).
    Verification joins the bounded shingle ARRAYS back by doc_id (two
    uniform hash joins) and intersects JVM-side — exploded shingles
    never cross a shuffle a second time, and the PPJoin positional
    filter (overlap upper bound from the first-match prefix positions)
    prunes 64% of surviving candidates before the verify join even
    runs (measured at sf0.1: 193k -> 69k pairs).
    """
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return prefix_jaccard_join(docs, threshold=_SSJOIN_THRESHOLD)


def prefix_jaccard_join(
    docs: DataFrame, threshold: float, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_a, doc_b, jaccard) for every UNORDERED doc pair whose
    distinct-3-word-shingle-set Jaccard is >= threshold — exact, via
    prefix filtering. The shingle recipe is shared with the MinHash and
    n-gram lanes (functions/dedup.py:word_shingle_arrays), so the three
    near-dup tiers are directly comparable on one representation.

    Lossless by the standard AllPairs argument: under any global
    shingle order, the minimal-rank common shingle of a qualifying pair
    must lie in BOTH prefixes of length |s| - ceil(t*|s|) + 1 (if it
    didn't, all common shingles would fit in a suffix shorter than the
    required overlap ceil(t*|s|)). Property-tested against a
    brute-force pair model in tests/test_scale_ops.py.
    """
    t = threshold
    # Exchange pins (the MinHash-lane discipline): the shingle subtree
    # (scan + regex split + slide + distinct — the CPU-heavy part) sits
    # behind ONE repartition(doc_id) reused by the token explode and
    # both verification array joins; the prefix subtree (df join +
    # per-doc rank) sits behind ONE repartition(tok) reused by both
    # sides of the candidate self-join, which lands co-partitioned on
    # its join key. Without the pins each consumer re-derives its
    # subtree: the whole chain ran ~4x (measured 10.6 s -> see
    # PERFORMANCE.md for the pinned number).
    # Shingles leave the scan as 64-bit xxhash64 keys: every downstream
    # stage (df count, prefix rank, candidate join, array intersect)
    # moves and compares 8-byte longs instead of ~40-char strings —
    # the same keys-not-payloads discipline as the md5-keyed MinHash
    # and decontamination lanes. Distinctness is taken on the RAW
    # shingles first, so a (vanishingly unlikely, 2⁻⁶⁴-scale) hash
    # collision could only merge two shingles ACROSS the sets of one
    # candidate pair — the same collision class those lanes accept.
    base = (
        # The doc_id exchange sits INSIDE word_shingle_arrays, between
        # the arity filter and the shingle build (see its docstring):
        # the shuffle moves token arrays instead of shingle strings, and
        # the slide/distinct/xxhash64 chain runs at shuffle width even
        # when the input parquet has a single row group (one scan task).
        D.word_shingle_arrays(docs, id_col, text_col, repartition_by_id=True)
        .select(
            F.col(id_col).alias("doc_id"),
            F.transform("sh_arr", lambda s: F.xxhash64(s)).alias("toks"),
            F.size("sh_arr").alias("sz"),
        )
    )
    toks = base.select("doc_id", "sz", F.explode("toks").alias("tok"))
    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    pos = F.row_number().over(Window.partitionBy("doc_id").orderBy("df", "tok"))
    prefix_len = F.col("sz") - F.ceil(F.lit(t) * F.col("sz")) + 1
    prefix = (
        toks.join(dfreq, "tok")
        .withColumn("pos", pos)
        .filter(F.col("pos") <= prefix_len)
        .select("doc_id", "sz", "tok", "pos")
        .repartition(F.col("tok"))
    )
    a = prefix.select(
        F.col("tok"),
        F.col("doc_id").alias("doc_a"),
        F.col("sz").alias("sa"),
        F.col("pos").alias("pa"),
    )
    b = prefix.select(
        F.col("tok").alias("tok_b"),
        F.col("doc_id").alias("doc_b"),
        F.col("sz").alias("sb"),
        F.col("pos").alias("pb"),
    )
    # PPJoin positional filter (lossless): per candidate pair, take the
    # MINIMAL-rank common prefix token w* — per-doc positions follow
    # the one global (df, shingle) order, so min(pa) and min(pb) are
    # both achieved at w*. Every common token ranks at or after w* in
    # both docs, so the true overlap is bounded by
    # 1 + min(sa - pa, sb - pb); Jaccard >= t requires overlap >=
    # ceil(t/(1+t) * (sa+sb)) — pairs whose bound can't reach it are
    # pruned BEFORE the array-verify join ever sees them. The groupBy
    # replaces a plain distinct(): same shuffle, strictly more pruning.
    alpha = F.ceil(F.lit(t / (1.0 + t)) * (F.col("sa") + F.col("sb")))
    ubound = 1 + F.least(F.col("sa") - F.col("pa"), F.col("sb") - F.col("pb"))
    cand = (
        a.join(b, (F.col("tok") == F.col("tok_b")) & (F.col("doc_a") < F.col("doc_b")))
        # Length filter: |x|/|y| outside [t, 1/t] can't reach Jaccard t.
        .filter(
            F.least("sa", "sb").cast("double")
            >= F.lit(t) * F.greatest("sa", "sb")
        )
        .groupBy("doc_a", "doc_b")
        .agg(
            F.min("pa").alias("pa"),
            F.min("pb").alias("pb"),
            F.first("sa").alias("sa"),
            F.first("sb").alias("sb"),
        )
        .filter(ubound >= alpha)
        .select("doc_a", "doc_b")
    )
    arr_a = base.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("ta"))
    arr_b = base.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("tb"))
    inter = F.size(F.array_intersect("ta", "tb"))
    paired = (
        cand.join(arr_a, "doc_a")
        .join(arr_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            inter.alias("i"),
            F.size("ta").alias("sa"),
            F.size("tb").alias("sb"),
        )
    )
    jac = F.col("i").cast("double") / (F.col("sa") + F.col("sb") - F.col("i"))
    return (
        paired.select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= t)
    )


# ---------------------------------------------------------------------------
# Sorted-neighborhood entity-resolution blocking
# ---------------------------------------------------------------------------
_SN_WINDOW = 2
_SN_BUCKET_CHARS = 16


@register(
    "sorted_neighborhood_pairs",
    oracle=f"""
        WITH keyed AS (
            SELECT c_custkey, c_name,
                   substring(c_name, 1, {_SN_BUCKET_CHARS}) AS bkt
            FROM customer WHERE c_name IS NOT NULL
        ),
        nbr AS (
            SELECT c_custkey AS k_a, c_name AS n_a, bkt,
                   lead(c_custkey, 1) OVER w AS k1, lead(c_name, 1) OVER w AS n1,
                   lead(c_custkey, 2) OVER w AS k2, lead(c_name, 2) OVER w AS n2,
                   row_number() OVER w AS fs,
                   row_number() OVER (PARTITION BY bkt
                                      ORDER BY c_name DESC, c_custkey DESC) AS fe
            FROM keyed
            WINDOW w AS (PARTITION BY bkt ORDER BY c_name, c_custkey)
        ),
        within_pairs AS (
            SELECT k_a, k1 AS k_b, n_a, n1 AS n_b FROM nbr WHERE k1 IS NOT NULL
            UNION ALL
            SELECT k_a, k2, n_a, n2 FROM nbr WHERE k2 IS NOT NULL
        ),
        bdim AS (
            SELECT bkt, lead(bkt) OVER (ORDER BY bkt) AS nxt
            FROM (SELECT DISTINCT bkt FROM keyed)
        ),
        boundary_pairs AS (
            SELECT e.k_a, s.k_a AS k_b, e.n_a, s.n_a AS n_b
            FROM nbr e
            JOIN bdim d ON e.bkt = d.bkt
            JOIN nbr s ON s.bkt = d.nxt
            WHERE e.fe <= {_SN_WINDOW} AND s.fs <= {_SN_WINDOW}
              AND e.fe + s.fs <= {_SN_WINDOW + 1}
        ),
        pairs AS (
            SELECT * FROM within_pairs UNION ALL SELECT * FROM boundary_pairs
        )
        SELECT k_a, k_b, CAST(levenshtein(n_a, n_b) AS INTEGER) AS lev
        FROM pairs WHERE levenshtein(n_a, n_b) <= 2
    """,
    doc="sorted-neighborhood entity resolution (window w=2): customers "
    "sorted by name, candidate pairs = neighbors within w positions in "
    "sort order, verified with levenshtein<=2. Distributed as range "
    "buckets (16-char name prefix) with explicit boundary stitching: "
    "within-bucket neighbors via lead(), cross-boundary pairs from each "
    "bucket's last w rows x next bucket's first w rows with combined "
    "distance <= w. The oracle mirrors the bucketed formulation, which "
    "equals the single global window whenever every bucket holds >= w "
    "rows (asserted by tests against the global-window model)",
    tags=("extension", "dedup", "string", "window"),
)
def q_sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third ER blocking paradigm beside hash blocking
    (customer_name_fuzzy_blocks) and composite deletion-neighborhood
    blocking (_fine): ONE global sort, candidates linear in n (w per
    row), immune to hot blocking keys.

    Scale design (100 TB): a global sorted-neighborhood is a
    range-partitioned sort (Spark's Exchange rangepartitioning) plus
    per-partition sliding windows, with each partition's last w rows
    duplicated into its successor — here the range buckets are the
    16-char name prefix, the boundary stitch is explicit (last-w ×
    first-w of the next bucket, combined rank distance ≤ w), and the
    bucket dimension (distinct prefixes) is the only single-partition
    window — bounded by the key-prefix domain, not the table.
    Candidate volume is exactly w·n regardless of key skew, the
    property hash blocking lacks.
    """
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_name").isNotNull())
    # strict=False HERE only: this lane's oracle replays the bucketed
    # formulation bit-for-bit (same buckets, same stitch), so sparse
    # buckets cannot cause silent lane-vs-oracle divergence — the
    # differential holds on ANY corpus (adversarial suite included),
    # and on the shipped corpora the >= w precondition additionally
    # makes the result equal the textbook global window (pinned by
    # tests/test_scale_ops.py on real data). Library callers who
    # assume global-window semantics keep the strict default, which
    # fails the job loudly instead (ADVICE r5).
    pairs = sorted_neighborhood_candidates(
        c, key_col="c_name", id_col="c_custkey",
        w=_SN_WINDOW, bucket_chars=_SN_BUCKET_CHARS, strict=False,
    )
    lev = F.levenshtein("n_a", "n_b")
    return (
        pairs.filter(lev <= 2)
        .select("k_a", "k_b", lev.cast("int").alias("lev"))
    )


def sorted_neighborhood_candidates(
    df: DataFrame,
    key_col: str,
    id_col: str,
    w: int = 2,
    bucket_chars: int = 16,
    strict: bool = True,
) -> DataFrame:
    """Candidate pairs (k_a, k_b, n_a, n_b) of rows within ``w``
    positions of each other in (key, id) sort order, computed as range
    buckets (``bucket_chars``-char key prefix) with boundary stitching.
    Equals the single global sliding window whenever every bucket holds
    >= w rows (property-tested in tests/test_scale_ops.py); currently
    supports w <= 2 (one lead() column per offset).

    ``strict`` (default) enforces that equivalence precondition AT RUN
    TIME, inside the plan: the stitch only spans ADJACENT buckets, so a
    bucket with fewer than ``w`` rows would silently drop global-window
    pairs that hop across it. Rather than a driver-side pre-count job,
    a per-bucket count() window (same hash partitioning the lead()
    window already pays for — no extra exchange) feeds a filter whose
    predicate calls raise_error() on any under-filled bucket, failing
    the job loudly instead of returning an incomplete candidate set.
    Callers that accept bucket-local candidates pass strict=False."""
    if not 1 <= w <= 2:
        raise ValueError(f"w must be 1 or 2, got {w}")
    keyed = df.select(
        F.col(id_col).alias("_id"),
        F.col(key_col).alias("_key"),
        F.substring(F.col(key_col), 1, bucket_chars).alias("bkt"),
    )
    if strict:
        bucket_n = F.count(F.lit(1)).over(Window.partitionBy("bkt"))
        guard = F.when(
            bucket_n < w,
            F.raise_error(
                F.concat(
                    F.lit("sorted_neighborhood_candidates: bucket "),
                    F.col("bkt"),
                    F.lit(
                        f" holds fewer than w={w} rows; the boundary "
                        "stitch only spans adjacent buckets, so the "
                        "result would silently miss cross-bucket pairs. "
                        "Use fewer bucket_chars (bigger buckets) or "
                        "strict=False to accept bucket-local candidates."
                    ),
                )
            ).cast("boolean"),
        ).otherwise(F.lit(True))
        # Window expressions can't sit in a WHERE clause directly:
        # project the guard into a column, filter on it, drop it.
        keyed = keyed.withColumn("_ok", guard).filter("_ok").drop("_ok")
    wf = Window.partitionBy("bkt").orderBy("_key", "_id")
    wr = Window.partitionBy("bkt").orderBy(
        F.col("_key").desc(), F.col("_id").desc()
    )
    lead_cols = []
    for i in range(1, w + 1):
        lead_cols.append(F.lead("_id", i).over(wf).alias(f"k{i}"))
        lead_cols.append(F.lead("_key", i).over(wf).alias(f"n{i}"))
    nbr = keyed.select(
        F.col("_id").alias("k_a"),
        F.col("_key").alias("n_a"),
        "bkt",
        *lead_cols,
        F.row_number().over(wf).alias("fs"),
        F.row_number().over(wr).alias("fe"),
    )
    within = None
    for i in range(1, w + 1):
        part = nbr.filter(F.col(f"k{i}").isNotNull()).select(
            "k_a", F.col(f"k{i}").alias("k_b"), "n_a", F.col(f"n{i}").alias("n_b")
        )
        within = part if within is None else within.unionAll(part)
    bdim = (
        keyed.select("bkt")
        .distinct()
        .select("bkt", F.lead("bkt").over(Window.orderBy("bkt")).alias("nxt"))
    )
    ends = nbr.filter(F.col("fe") <= w).select("bkt", "k_a", "n_a", "fe")
    starts = nbr.filter(F.col("fs") <= w).select(
        F.col("bkt").alias("bkt_s"),
        F.col("k_a").alias("k_b"),
        F.col("n_a").alias("n_b"),
        "fs",
    )
    boundary = (
        ends.join(bdim, "bkt")
        .join(starts, F.col("bkt_s") == F.col("nxt"))
        .filter(F.col("fe") + F.col("fs") <= w + 1)
        .select("k_a", "k_b", "n_a", "n_b")
    )
    return within.unionAll(boundary)


def sorted_neighborhood_candidates_global(
    df: DataFrame, key_col: str, id_col: str, w: int = 2, bucket_chars: int = 16
) -> DataFrame:
    """UNCONDITIONAL global sliding-window candidates — the chained
    answer to the adjacent-stitch precondition (ADVICE r5): equals the
    single global w-window on EVERY input, sparse buckets included, so
    no runtime guard is needed. Supports any w >= 1.

    Two-level global ranking instead of lead()+stitch:

    1. per-bucket local rank (the same hash-partitioned window the
       stitch version pays for);
    2. exclusive prefix-sum of bucket SIZES over the bucket dimension —
       the only single-partition window, bounded by the key-prefix
       domain (distinct ``bucket_chars``-prefixes), never by the table;
    3. global position = bucket offset + local rank, attached with a
       broadcast join (the offset table is bucket-dim-sized);
    4. candidates = w hash equi-joins on (pos + d == pos), d=1..w —
       uniformly distributed integer keys, no skew possible.

    Cost vs the stitch version: one extra bucket-sized groupBy and a
    broadcast join, plus w position joins of the ranked table against
    itself in place of the lead() columns. Prefer the stitch version
    when the >= w-rows-per-bucket precondition is known to hold (it
    reads the ranked table once); prefer this one for arbitrary key
    distributions or w > 2."""
    if w < 1:
        raise ValueError(f"w must be >= 1, got {w}")
    keyed = df.select(
        F.col(id_col).alias("_id"),
        F.col(key_col).alias("_key"),
        F.substring(F.col(key_col), 1, bucket_chars).alias("bkt"),
    )
    local = keyed.select(
        "_id",
        "_key",
        "bkt",
        F.row_number()
        .over(Window.partitionBy("bkt").orderBy("_key", "_id"))
        .alias("lr"),
    )
    sizes = keyed.groupBy("bkt").agg(F.count(F.lit(1)).alias("n"))
    offsets = sizes.select(
        "bkt",
        F.coalesce(
            F.sum("n").over(
                Window.orderBy("bkt").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).alias("off"),
    )
    pos = local.join(F.broadcast(offsets), "bkt").select(
        "_id", "_key", (F.col("off") + F.col("lr")).alias("pos")
    )
    a = pos.select(
        F.col("_id").alias("k_a"), F.col("_key").alias("n_a"), F.col("pos")
    )
    out = None
    for d in range(1, w + 1):
        b = pos.select(
            F.col("_id").alias("k_b"),
            F.col("_key").alias("n_b"),
            (F.col("pos") - d).alias("pos"),
        )
        part = a.join(b, "pos").select("k_a", "k_b", "n_a", "n_b")
        out = part if out is None else out.unionAll(part)
    return out


# ---------------------------------------------------------------------------
# Deterministic stratified sampling
# ---------------------------------------------------------------------------
#: Per-stratum keep-rates in 256ths: keep every purchase, half of
#: signups, 1/16 of the high-volume click/view/error streams.
_STRATA_RATES: dict[str, int] = {
    "purchase": 256,
    "signup": 128,
    "click": 16,
    "view": 16,
    "error": 16,
}
_DEFAULT_RATE = 8

# DuckDB twin of operators/sampling.hash_bucket for 256 buckets: the
# integer value of the first two md5 hex nibbles (same mechanism as
# plans/mlprep's split lanes).
_MD5_BUCKET_256 = (
    "((instr('0123456789abcdef', substring(md5(CAST({k} AS VARCHAR)), 1, 1)) - 1) * 16"
    " + (instr('0123456789abcdef', substring(md5(CAST({k} AS VARCHAR)), 2, 1)) - 1))"
)


def _rate_case_sql() -> str:
    whens = " ".join(
        f"WHEN '{s}' THEN {r}" for s, r in sorted(_STRATA_RATES.items())
    )
    return f"CASE event_type {whens} ELSE {_DEFAULT_RATE} END"


@register(
    "stratified_sample_events",
    oracle=f"""
        WITH sampled AS (
            SELECT event_type, event_id, value
            FROM events
            WHERE {_MD5_BUCKET_256.format(k="event_id")} < {_rate_case_sql()}
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_sampled,
               {sql_exact_round_sum_fast("CASE WHEN NOT isnan(value) THEN value END")} AS sum_value,
               CAST(min(event_id) AS BIGINT) AS min_event_id,
               CAST(max(event_id) AS BIGINT) AS max_event_id
        FROM sampled GROUP BY event_type
    """,
    doc="deterministic stratified sampling: per-event_type keep rates "
    "(purchase 256/256, signup 128/256, click/view/error 16/256) applied "
    "via the portable md5-bucket hash of event_id, aggregated per stratum. "
    "Membership is a pure function of the row key, so reruns, engines, "
    "partitionings, and incremental corpus growth all agree on every "
    "sampled row; sums rounded 2dp both engines",
    tags=("extension", "sampling"),
)
def q_stratified_sample_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rebalancing a 100 TB event stream (downsample the high-volume
    strata, keep the rare valuable ones) must NOT use df.sample():
    partition-seeded RNG changes membership when file splits change.
    Hash-rate sampling is a scan-local filter (no shuffle, pushes past
    column pruning) followed by one bounded groupBy — and composes with
    incremental ingest: yesterday's sample never changes when today's
    partition lands. Compare language_rebalance_weights, which computes
    the rates; this lane EXECUTES a fixed rate table.
    """
    e = load_table(spark, sf_dir, "events")
    rate = F.coalesce(
        *[
            F.when(F.col("event_type") == s, F.lit(r))
            for s, r in sorted(_STRATA_RATES.items())
        ],
        F.lit(_DEFAULT_RATE),
    )
    sampled = e.filter(hash_bucket("event_id", 256) < rate)
    # Any row can be sampled, so the sum addend carries the generic NaN
    # guard (numeric.py non-finite policy) — NaN rows still count.
    return sampled.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sampled"),
        exact_round_sum_fast(nan_excluded("value")).alias("sum_value"),
        F.min("event_id").cast("bigint").alias("min_event_id"),
        F.max("event_id").cast("bigint").alias("max_event_id"),
    )


# ---------------------------------------------------------------------------
# HLL sketch mergeability contract
# ---------------------------------------------------------------------------
@register(
    "hll_mergeable_distinct",
    oracle="""
        SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_uniq,
               TRUE AS merged_within_5pct,
               TRUE AS direct_within_5pct,
               TRUE AS merge_drift_below_2pct
        FROM events WHERE user_id IS NOT NULL
    """,
    doc="HLL sketch MERGEABILITY as the oracle contract: per-day "
    "hll_sketch_agg(user_id) sketches are hll_union_agg'd into a global "
    "estimate, which must keep the one-pass accuracy bound (within 5% "
    "of exact, like the direct sketch) and sit within 2% of the direct "
    "estimate. Oracle expects TRUE for all three booleans, so any drift "
    "in the merge path fails the differential. NOT pinned: bit-equality "
    "of merged and direct estimates — DataSketches' union round-trips "
    "through an HLL_8 gadget, so exact equality holds only in sparse "
    "(coupon) mode; at 15k cardinality the two estimates legitimately "
    "differ by ~0.3% (measured in the sf1.0 sweep)",
    tags=("extension", "approx", "sketch"),
)
def q_hll_mergeable_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB pattern this pins: pre-aggregate a tiny HLL sketch
    per ingest partition (day), persist sketches, answer
    "distinct users over any date range" by unioning a handful of
    KB-sized sketches — never re-scanning the fact table. The merge
    path must not degrade the estimate: this lane gates BOTH estimates
    on the 5% envelope and their mutual drift on 2% (cf.
    approx_distinct_accuracy, which pins the error bound of Spark's
    native HLL++ aggregate; tests/test_scale_ops.py additionally pins
    EXACT merged==direct equality in sparse mode, where the union is
    genuinely lossless).
    """
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    daily = e.groupBy(F.to_date("ts").alias("d")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("merged_est")
    )
    direct = e.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("direct_est"),
        F.count_distinct("user_id").alias("exact_uniq"),
    )
    ex = F.col("exact_uniq")
    return direct.crossJoin(merged).select(
        ex.cast("bigint").alias("exact_uniq"),
        (F.abs(F.col("merged_est") - ex) / ex <= 0.05).alias("merged_within_5pct"),
        (F.abs(F.col("direct_est") - ex) / ex <= 0.05).alias("direct_within_5pct"),
        (
            F.abs(F.col("merged_est") - F.col("direct_est")) / ex <= 0.02
        ).alias("merge_drift_below_2pct"),
    )


# ---------------------------------------------------------------------------
# Two-phase distributed skyline (Pareto frontier)
# ---------------------------------------------------------------------------
_SKYLINE_BUCKETS = 16


def _local_skyline(df: DataFrame, bucket: F.Column) -> DataFrame:
    """Rows of ``df`` (p_partkey, p_retailprice, p_size) not dominated
    within their bucket, where a dominates b iff price<=, size>= with
    at least one strict — as a pure window sweep, NO self-join and NO
    re-scan of the input.

    A row survives iff (a) its size equals the max size among its
    price PEERS (RANGE 0..0 frame = all ties of the current price) and
    (b) its size strictly exceeds the max size over all STRICTLY lower
    prices. "Strictly lower" can't be a RANGE bound on a double price,
    so dense_rank() converts the price order to integers first and the
    frame becomes RANGE .. -1 over the rank — three window expressions
    sharing one partitioning and ONE sort (the rank order IS the price
    order), so the whole sweep is a single exchange per phase."""
    keyed = df.withColumn("_bkt", bucket)
    wp = Window.partitionBy("_bkt").orderBy("p_retailprice")
    keyed = keyed.withColumn("_rk", F.dense_rank().over(wp)).withColumn(
        "_mxs", F.max("p_size").over(wp.rangeBetween(0, 0))
    )
    wlow = (
        Window.partitionBy("_bkt")
        .orderBy("_rk")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    keyed = keyed.withColumn("_blo", F.max("p_size").over(wlow))
    return keyed.filter(
        (F.col("p_size") == F.col("_mxs"))
        & (F.col("_blo").isNull() | (F.col("p_size") > F.col("_blo")))
    ).select("p_partkey", "p_retailprice", "p_size")


@register(
    "skyline_parts_pareto",
    oracle="""
        SELECT p.p_partkey, p.p_retailprice, p.p_size
        FROM part p
        WHERE p.p_retailprice IS NOT NULL AND p.p_size IS NOT NULL
          AND NOT EXISTS (
            SELECT 1 FROM part q
            WHERE q.p_retailprice IS NOT NULL AND q.p_size IS NOT NULL
              AND q.p_retailprice <= p.p_retailprice
              AND q.p_size >= p.p_size
              AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
          )
    """,
    doc="skyline / Pareto frontier of parts (minimize retail price, "
    "maximize size): every part not dominated by another that is "
    "cheaper-or-equal AND at-least-as-large with one strict inequality. "
    "Two-phase distributed plan: window-sweep local skyline per hash "
    "bucket, then the same sweep over the union of local skylines (the "
    "global skyline is always a subset of that union, for ANY "
    "partitioning). Oracle is the naive NOT EXISTS dominance query. "
    "Pure comparisons on raw parquet values — no float policy needed",
    tags=("extension", "analytics", "window"),
)
def q_skyline_parts_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic OLAP operator Spark has no built-in for, expressed
    as a lossless two-phase composition (local skyline per partition →
    skyline of candidates), the standard distributed-skyline scheme.

    Scale design (100 TB): phase 1 is a per-bucket window sweep over
    (bucket, price) GROUPS (pre-collapsed by one map-side-combining
    groupBy, so the window sorts one row per distinct price per
    bucket); buckets are a uniform hash of the row key, so no skew.
    Phase 2 runs the identical sweep with a constant bucket — a
    single-partition window, acceptable ONLY because its input is the
    union of local skylines: O(buckets × per-bucket skyline), and
    skylines of d=2 data are O(log n) expected — the two-phase shape
    exists precisely to make the global step's input provably tiny.
    The dominance semantics never materialize any pairwise join.
    """
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_retailprice").isNotNull() & F.col("p_size").isNotNull())
        .select("p_partkey", "p_retailprice", "p_size")
    )
    return skyline_2d(p)


def skyline_2d(points: DataFrame, buckets: int = _SKYLINE_BUCKETS) -> DataFrame:
    """Two-phase skyline of (p_partkey, p_retailprice, p_size) points,
    minimizing price and maximizing size. Lossless for ANY bucketing:
    a globally dominated point is dominated by its (transitive) maximal
    dominator, which survives its own bucket — so the global skyline is
    a subset of the union of local skylines, and re-sweeping that union
    removes exactly the cross-bucket-dominated leftovers.
    Property-tested against a brute-force O(n²) model."""
    local = _local_skyline(
        points, F.pmod(F.xxhash64("p_partkey"), F.lit(buckets))
    )
    return _local_skyline(local, F.lit(0))


# ---------------------------------------------------------------------------
# Triangle counting (degree-ordered orientation)
# ---------------------------------------------------------------------------
@register(
    "triangle_count_handoff_graph",
    oracle="""
        WITH lagged AS (
            SELECT lag(user_id) OVER (PARTITION BY event_type, CAST(ts AS DATE)
                                      ORDER BY ts, event_id) AS src,
                   user_id AS dst
            FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        ),
        und AS (
            SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
            FROM lagged WHERE src IS NOT NULL AND src <> dst
        )
        SELECT CAST(count(*) AS BIGINT) AS n_triangles
        FROM und ab JOIN und bc ON ab.b = bc.a JOIN und ac
          ON ac.a = ab.a AND ac.b = bc.b
    """,
    doc="global triangle count of the undirected event hand-off graph "
    "(edges within (event_type, day) windows, as in pagerank_event_handoff) "
    "via degree-ordered edge orientation: every edge points from its "
    "lower-(degree, id) endpoint to the higher, wedges are generated "
    "only at each edge's LOWER endpoint, then closed against the "
    "oriented edge set. The oracle is the naive canonical a<b<c "
    "three-way self-join — orientation changes the join mass, never "
    "the count",
    tags=("extension", "graph", "join"),
)
def q_triangle_count_handoff_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standard bounded-wedge trick (node-iterator++ / Schank's
    algorithm): orienting each edge toward its higher-(degree, id)
    endpoint caps every node's out-degree at O(sqrt(m)), so the wedge
    join produces O(m^1.5) candidates on ANY graph — a plain wedge
    join at a hub's expense is O(d_hub²) per hub, the classic social-
    graph killer. All three steps are hash joins on uniformly
    distributed node ids; the count is one map-side-combining
    aggregate. No iteration, no collect.
    """
    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    w = Window.partitionBy("event_type", F.to_date("ts")).orderBy("ts", "event_id")
    lagged = e.select(
        F.lag("user_id").over(w).alias("src"), F.col("user_id").alias("dst")
    ).filter(F.col("src").isNotNull() & (F.col("src") != F.col("dst")))
    und = lagged.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct()
    return triangle_count(und)


def triangle_count(und: DataFrame) -> DataFrame:
    """1-row (n_triangles) for a canonical undirected edge list
    (columns a < b, deduplicated). Degree-ordered orientation bounds
    the wedge join; property-tested against a brute-force Python model
    in tests/test_scale_ops.py."""
    deg = (
        und.select(F.col("a").alias("n"))
        .unionAll(und.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # Orient: lower (degree, id) endpoint -> higher. Join degrees for
    # both endpoints (two hash joins on uniform ids).
    da = deg.select(F.col("n").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("n").alias("b"), F.col("d").alias("db"))
    lo_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lo_first, F.col("a")).otherwise(F.col("b")).alias("lo"),
            F.when(lo_first, F.col("b")).otherwise(F.col("a")).alias("hi"),
        )
    )
    # Wedges at the LOW endpoint: (lo, hi1, hi2) with hi1 "before" hi2
    # in the orientation order — dedup by requiring hi1 < hi2 on the
    # (deg, id) key; id order suffices because the closing edge lookup
    # below is orientation-normalized again.
    w1 = oriented.select(F.col("lo"), F.col("hi").alias("x"))
    w2 = oriented.select(F.col("lo").alias("lo2"), F.col("hi").alias("y"))
    wedges = w1.join(w2, (F.col("lo") == F.col("lo2")) & (F.col("x") < F.col("y"))).select(
        "x", "y"
    )
    # Close the wedge: the third edge may be oriented either way.
    closing = oriented.select(
        F.least("lo", "hi").alias("cx"), F.greatest("lo", "hi").alias("cy")
    )
    tri = wedges.join(
        closing,
        (F.least("x", "y") == F.col("cx")) & (F.greatest("x", "y") == F.col("cy")),
    )
    return tri.agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))


# ---------------------------------------------------------------------------
# Deterministic per-stratum quota sampling (exact N per group)
# ---------------------------------------------------------------------------
_QUOTA_PER_TYPE = 200


@register(
    "quota_sample_per_type",
    oracle=f"""
        WITH ranked AS (
            SELECT event_type, event_id, value,
                   row_number() OVER (
                       PARTITION BY event_type
                       ORDER BY md5(CAST(event_id AS VARCHAR)), event_id
                   ) AS rn
            FROM events WHERE event_id IS NOT NULL
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_sampled,
               {sql_exact_round_sum_fast("CASE WHEN NOT isnan(value) THEN value END")} AS sum_value
        FROM ranked WHERE rn <= {_QUOTA_PER_TYPE}
        GROUP BY event_type
    """,
    doc=f"deterministic QUOTA sampling: exactly min({_QUOTA_PER_TYPE}, |stratum|) "
    "rows per event_type, selected by md5(event_id) order — the "
    "engine-portable 'reservoir': membership is a pure function of the "
    "key set, stable across engines, reruns, and partitionings. "
    "Aggregated per stratum (sum 2dp both engines). Complements "
    "stratified_sample_events (rate-based: sample size scales with the "
    "stratum; quota: fixed budget per stratum)",
    tags=("extension", "sampling", "window"),
)
def q_quota_sample_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At 100 TB a per-stratum top-N by hash must NOT sort each stratum
    globally: Spark's rank-limit pushdown (WindowGroupLimit, pinned in
    tests/test_plan_shapes.py) keeps a per-task N-row heap BEFORE the
    stratum shuffle, so the exchange carries at most tasks×N rows per
    stratum, not the stratum. The md5 sort key is what makes the quota
    a deterministic SET rather than 'whatever N rows arrived first'
    (df.limit's answer, which changes with partitioning).

    The isNotNull guard on event_id is a CONTRACT, not a convenience:
    a NULL key would md5 to NULL, and Spark orders NULLs FIRST on ASC
    while DuckDB orders them LAST — quota membership would silently
    flip between the lane and its oracle. NULL keys are excluded
    explicitly on both sides (the sibling rate-based stratified lane is
    immune by construction: a NULL hash fails the keep-predicate on
    both engines).
    """
    e = load_table(spark, sf_dir, "events").filter(F.col("event_id").isNotNull())
    key = F.md5(F.col("event_id").cast("string").cast("binary"))
    rn = F.row_number().over(
        Window.partitionBy("event_type").orderBy(key, "event_id")
    )
    sampled = e.withColumn("_rn", rn).filter(F.col("_rn") <= _QUOTA_PER_TYPE)
    # NaN addends excluded explicitly (both engines): a sampled row with
    # a NaN value still counts toward the quota, it just can't poison
    # the exact decimal sum — see functions/numeric.py non-finite policy.
    return sampled.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sampled"),
        exact_round_sum_fast(nan_excluded("value")).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# End-to-end corpus curation composition
# ---------------------------------------------------------------------------
_CURATION_MIN_TOKENS = 20
_CURATION_EN_RATE = 64  # of 256: downsample the dominant language 4x


@register(
    "curation_pipeline_e2e",
    oracle=f"""
        WITH quality AS (
            SELECT doc_id, lang, n_chars, text FROM documents
            WHERE text IS NOT NULL
              AND len(regexp_split_to_array(trim(text), '{X.WS_RE}'))
                  >= {_CURATION_MIN_TOKENS}
        ),
        dedup AS (
            SELECT doc_id, lang, n_chars FROM (
                SELECT doc_id, lang, n_chars,
                       row_number() OVER (
                           PARTITION BY md5(trim(regexp_replace(lower(text),
                                              '{X.WS_RE}', ' ', 'g')))
                           ORDER BY doc_id) AS rn
                FROM quality) WHERE rn = 1
        ),
        sampled AS (
            SELECT doc_id, lang, n_chars FROM dedup
            WHERE {_MD5_BUCKET_256.format(k="doc_id")} <
                  CASE WHEN lang = 'en' THEN {_CURATION_EN_RATE} ELSE 256 END
        )
        SELECT coalesce(lang, 'unknown') AS lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               CAST(min(doc_id) AS BIGINT) AS min_doc_id,
               CAST(max(doc_id) AS BIGINT) AS max_doc_id
        FROM sampled GROUP BY 1
    """,
    doc="end-to-end corpus curation composed from the library's own "
    "stages: quality gate (>=20 whitespace tokens) -> exact dedup on the "
    "canonical md5 fingerprint (keeper = lowest doc_id via one "
    "hash-partitioned window) -> deterministic language rebalance "
    "(md5-rate downsample of 'en' to 64/256, everything else kept) -> "
    "per-language corpus card. Pure integer outputs, no float policy",
    tags=("extension", "pipeline", "dedup", "sampling"),
)
def q_curation_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production path the individual lanes exist for, composed:
    text_stats' token gate, dedup_exact's fingerprint (keeper = min id),
    stratified_sample_events' hash-rate mechanism applied per language,
    and corpus_source_stats' card shape — one registered lane proving
    the stages COMPOSE without driver-side glue.

    Scale design (100 TB): the quality gate is scan-local and prunes
    before anything moves; dedup is ONE shuffle on the uniform md5
    fingerprint (window keeper-select, no join-back); the rebalance
    filter is again scan-local on the dedup output; the card is one
    bounded groupBy(lang). Total: two shuffles end-to-end, both on
    uniform keys, each stage shrinking the data before the next.
    """
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    quality = docs.filter(X.token_count("text") >= _CURATION_MIN_TOKENS)
    rn = F.row_number().over(
        Window.partitionBy(X.fingerprint_md5("text")).orderBy("doc_id")
    )
    kept = (
        quality.select("doc_id", "lang", "n_chars", "text")
        .withColumn("_rn", rn)
        .filter(F.col("_rn") == 1)
    )
    rate = F.when(F.col("lang") == "en", F.lit(_CURATION_EN_RATE)).otherwise(
        F.lit(256)
    )
    sampled = kept.filter(hash_bucket("doc_id", 256) < rate)
    return sampled.groupBy(
        F.coalesce("lang", F.lit("unknown")).alias("lang")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.min("doc_id").cast("bigint").alias("min_doc_id"),
        F.max("doc_id").cast("bigint").alias("max_doc_id"),
    )


# ---------------------------------------------------------------------------
# Count-min sketch mergeability (exact, by linearity)
# ---------------------------------------------------------------------------
@register(
    "cms_mergeable_grid",
    oracle=f"""
        WITH tf AS (
            SELECT tok, CAST(count(*) AS BIGINT) AS c
            FROM (SELECT unnest({_P._TOKS}) AS tok FROM documents)
            WHERE tok <> ''
            GROUP BY tok
        ),
        fanout AS (
            SELECT tok, c, row, {_P._CMS_BUCKET} % {_P.K.CMS_WIDTH} AS bucket
            FROM tf CROSS JOIN (SELECT unnest([{_P._CMS_ROWS}]) AS row) r
        ),
        sketch AS (
            SELECT row, bucket, CAST(sum(c) AS BIGINT) AS total
            FROM fanout GROUP BY row, bucket
        )
        SELECT CAST(count(*) AS BIGINT) AS n_cells,
               CAST(max(total) AS BIGINT) AS max_cell,
               TRUE AS grids_identical
        FROM sketch
    """,
    doc="count-min sketch MERGEABILITY: per-source token sketches are "
    "entrywise-summed into a merged d x w grid which must equal the "
    "whole-corpus sketch CELL FOR CELL — CMS is a linear sketch, so its "
    "merge is exactly lossless (the deliberate contrast to "
    "hll_mergeable_distinct, whose order-statistics union is only "
    "accuracy-preserving). Output: occupied-cell count, max cell total, "
    "and the all-cells-equal boolean the oracle expects TRUE",
    tags=("extension", "sketch", "approx"),
)
def q_cms_mergeable_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-aggregation pattern at 100 TB: keep one d x w counter
    grid per ingest partition (source/day), answer any cross-partition
    frequency question by summing grids — never re-scan. Valid for CMS
    with NO accuracy caveat because the sketch is linear in the input
    multiset; this lane pins that equality cell-by-cell against the
    single-pass grid. Both grids are bounded aggregates (<= d*w rows);
    the compare is a d*w-row full-outer join — constant-size work after
    the one token-frequency shuffle each side shares.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.explode(F.split(F.trim(F.col("text")), X.WS_RE)).alias("tok")
    tf_src = (
        docs.select("source", toks)
        .filter(F.col("tok") != "")
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(d).alias("row"),
                    K._bucket(F.col("tok"), d).alias("bucket"),
                )
                for d in range(K.CMS_DEPTH)
            ]
        )
    ).alias("rb")

    def grid(tf: DataFrame) -> DataFrame:
        return (
            tf.select("c", rows)
            .select("c", F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
            .groupBy("row", "bucket")
            .agg(F.sum("c").cast("bigint").alias("total"))
        )

    # Merged path: per-source grids, entrywise-summed. The per-source
    # grid stage is the part a real pipeline would persist per ingest
    # partition; summing them is the d*w-bounded merge.
    per_source = (
        tf_src.select("source", "c", rows)
        .select(
            "source", "c", F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket")
        )
        .groupBy("source", "row", "bucket")
        .agg(F.sum("c").cast("bigint").alias("cell"))
    )
    merged = per_source.groupBy("row", "bucket").agg(
        F.sum("cell").cast("bigint").alias("m_total")
    )
    direct = grid(
        tf_src.groupBy("tok").agg(F.sum("c").cast("bigint").alias("c"))
    )
    joined = direct.join(merged, ["row", "bucket"], "full_outer")
    agree = (
        F.min(
            (F.col("total").isNotNull())
            & (F.col("m_total").isNotNull())
            & (F.col("total") == F.col("m_total"))
        )
    )
    return joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.max("total").cast("bigint").alias("max_cell"),
        agree.alias("grids_identical"),
    )
