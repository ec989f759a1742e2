"""Deduplication operators for training-data pipelines.

All candidate generation is hash-bucketed (groupBy / shuffle on a
band or signature key) -- never O(n^2) over the corpus.  Exact
verification (Jaccard, cosine) runs only inside buckets/blocks, which
is what keeps these runnable at 100 TB.

Signature computation is pure Catalyst array lambdas (map-side, no
Python), mirrored exactly by the DuckDB oracle SQL in oracles.py via
shared constants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..constants import (
    COSINE_THRESHOLD,
    EDIT_REL_THRESHOLD,
    EMB_COS_BLOCK_BUDGET,
    JACCARD_THRESHOLD,
    MINHASH_BAND_ROWS,
    MINHASH_SIGS,
    NGRAM_JACCARD_THRESHOLD,
    NGRAM_LEN_BUCKET,
    SHINGLE_K,
)
from ..functions.columns import round_half_up as rnd
from ..functions import (
    char_ngrams,
    dot_product,
    l2_norm,
    lsh_bucket,
    lsh_bucket_extra,
    simhash_hex,
    tokens,
    word_shingles,
)

N_BANDS = MINHASH_SIGS // MINHASH_BAND_ROWS


def _shuffle_width(spark) -> int:
    """The session's BATCH shuffle width as an int: the width
    SQLConf.numShufflePartitions plans batch exchanges at, i.e. AQE's
    initialPartitionNum when set, else spark.sql.shuffle.partitions
    (session.py keeps the latter for streaming state, at the core
    count).  Tolerates non-numeric conf values: some platforms set
    spark.sql.shuffle.partitions to "auto", and a repartition count
    must not turn a tuning setting into a query failure (ADVICE r6).
    Falls back to defaultParallelism, the same width the conf
    defaults to."""
    for key in (
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        "spark.sql.shuffle.partitions",
    ):
        try:
            return int(spark.conf.get(key))
        except (TypeError, ValueError):
            pass
    return spark.sparkContext.defaultParallelism


def _spread(df: DataFrame) -> DataFrame:
    """Documents/embeddings arrive as few parquet splits (small files,
    heavy rows).  Per-row signature work is CPU-bound, so spread it
    across all cores first.  r12: the spread is now CONDITIONAL -- at
    100 TB the scan already produces thousands of splits and the old
    unconditional repartition was a full corpus shuffle, not the
    "no-op-ish rebalance" the r1 docstring claimed (see
    functions.partitioning)."""
    from ..functions.partitioning import spread_to_parallelism

    return spread_to_parallelism(df)


def _lineage_cut(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize ``df`` and truncate its lineage -- the per-round
    reset the iterative loops below need so plan depth stays O(1)
    instead of doubling per iteration.  ``eager=False`` defers the
    checkpoint to the caller's next action (the bigstar fingerprint
    fuse: the convergence agg materializes the round's edge set and
    checkpoints it in ONE job instead of two).

    Storage choice is fault-tolerance policy: ``localCheckpoint``
    writes to EXECUTOR-LOCAL block storage, so on a real cluster any
    executor loss (preemption, spot reclaim) mid-loop loses blocks no
    lineage can rebuild and fails the job.  When the application has
    configured a RELIABLE checkpoint directory
    (``spark.sparkContext.setCheckpointDir(hdfs_or_s3_path)``) this
    helper uses a true ``checkpoint`` instead -- blocks live in the
    shared filesystem and survive executor churn, at the cost of one
    distributed write per round.  Local mode (no dir configured) keeps
    the fast localCheckpoint default: a single JVM has no executor to
    lose.  See SCALE.md (fault tolerance)."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def dedup_exact(documents: DataFrame) -> DataFrame:
    """Exact duplicate clusters by content hash: one shuffle on
    md5(text), map-side partial agg."""
    return (
        documents.groupBy(F.md5("text").alias("text_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


def _doc_shingles(documents: DataFrame) -> DataFrame:
    # The repartition sits BETWEEN the toks and shingles projections
    # on purpose: it is both the parallelism spread AND a
    # CollapseProject barrier.  Adjacent projections get merged by
    # Catalyst, re-inlining tokens(text) into every element_at inside
    # the shingle lambdas (no common-subexpression elimination inside
    # higher-order functions -> text re-split per element, ~6x
    # slowdown measured at sf0.1).  The shuffle materializes `toks`
    # once per row.
    # The short-doc filter runs on size(toks) BELOW the shuffle: a
    # post-shingle filter would be pushed down by Catalyst with the
    # whole shingle expression re-inlined (measured 4s extra at
    # sf0.1).  size(toks) >= 3 <=> at least one shingle.
    return (
        documents.select("doc_id", tokens(F.col("text")).alias("toks"))
        .where(F.size("toks") >= 3)
        .repartition(documents.sparkSession.sparkContext.defaultParallelism)
        .select("doc_id", word_shingles(F.col("toks")).alias("shingles"))
    )


def _band_hash_exprs(sig) -> list:
    """The N_BANDS band-hash expressions over a signature column --
    ONE definition shared by the batch band frame (_doc_bands_from)
    and the streaming fuzzy-decontam feed, so a banding change can
    never silently split the two (a mismatch would make the stream's
    in-closure index miss every key and emit zero hits instead of
    erroring)."""
    return [
        F.md5(
            F.concat_ws(
                "|",
                *[
                    F.element_at(sig, b * MINHASH_BAND_ROWS + r + 1)
                    for r in range(MINHASH_BAND_ROWS)
                ],
            )
        )
        for b in range(N_BANDS)
    ]


def _doc_bands(documents: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_hash): LSH bands over the MinHash
    signature; docs sharing any band are near-dup candidates."""
    return _doc_bands_from(_with_sig(_doc_shingles(documents)))


def _with_sig(sh: DataFrame) -> DataFrame:
    """``sh`` plus ``sig``, the Arrow MinHash signature of its
    ``shingles`` column (bit-identical to the Catalyst
    minhash_signature, pinned in tests/test_functions.py) -- the one
    place a batch signature is computed.  _shingle_digests persists it
    beside the digests, so banding and every signature reader share one
    evaluation per doc."""
    from ..functions.pandas_udfs import minhash_signature_pandas

    return sh.withColumn("sig", minhash_signature_pandas(F.col("shingles")))


def _doc_bands_from(sh: DataFrame) -> DataFrame:
    # Bands over ``sh``'s ``sig`` column (_with_sig).  The per-doc band
    # md5s stay Catalyst: N_BANDS short hashes per ROW, not per
    # shingle, and codegen handles them fine.
    bands = F.array(*_band_hash_exprs(F.col("sig")))
    return sh.select(
        "doc_id", F.posexplode(bands).alias("band_idx", "band_hash")
    )


def dedup_minhash_bands(documents: DataFrame) -> DataFrame:
    """LSH candidate buckets: bands with >1 member."""
    return (
        _doc_bands(documents)
        .groupBy("band_idx", "band_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_doc_id"))
        .where(F.col("n_docs") > 1)
    )


def _band_candidate_pairs(bands: DataFrame) -> DataFrame:
    """Distinct (doc_a, doc_b) pairs sharing any LSH band -- the
    bounded candidate set every exact verifier runs inside.

    Shape (r8): ONE hash shuffle on the band key collecting each
    band's member list, pairs generated map-side by a two-level
    explode (u over the list, then v over the list's members > u, so
    no single array ever exceeds the band's own occupancy).  The
    former band-stream self-join evaluated the upstream band plan --
    including the Arrow minhash-signature stage -- once per side and
    shuffled it twice; measured on the shared doc-grain path at the
    sf10 probe: dedup_minhash_pairs 55.5 -> 36.0 s (sf1 6.8 -> 4.1 s),
    identical pairs.
    Per-band work is C(occupancy, 2) either way -- that term is the
    candidate semantics itself, not the plan.

    HOT-BAND MEMORY BOUND (documented, not capped): the collect_list
    buffers one band's full doc_id list in a single aggregation task
    and that buffer cannot spill (unlike the former sort-merge join,
    which streams one side).  Resident bytes = occupancy x id width,
    so a pathological band of 10M 16-char ids needs ~300 MB in one
    task -- large but survivable, and C(k,2) pair GENERATION from
    that band (5x10^13 rows) is terminally hot long before the buffer
    is: any corpus where the buffer binds has already failed on the
    pair count, which is the candidate semantics, not this plan.  No
    occupancy cap is taken because dropping hot bands would change
    the candidate set (the substring path's SUBSTR_GRAM_MAX_OCC cap
    is a documented SEMANTIC bound; here results must match the
    oracle's full LSH semantics).  If a real corpus's band occupancy
    ever makes buffers the binding constraint, revert those bands to
    the pre-r8 self-join shape -- same pairs, spillable buffers, one
    extra shuffle."""
    groups = (
        bands.groupBy("band_idx", "band_hash")
        .agg(F.collect_list("doc_id").alias("ds"))
        .where(F.size("ds") >= 2)
    )
    return (
        groups.select(F.explode("ds").alias("doc_a"), "ds")
        .select(
            "doc_a",
            F.explode(
                F.filter("ds", lambda v: v > F.col("doc_a"))
            ).alias("doc_b"),
        )
        .distinct()
    )


def _shingle_digests(documents: DataFrame) -> DataFrame:
    """(doc_id, shingles, dig, sig), PERSISTED: the shingle frame with
    each doc's shingle set hashed ONCE to 60-bit digests
    (functions.columns.md5_int60_set) and signed ONCE (_with_sig).
    Every MinHash consumer feeds it to banding AND both verify sides,
    so the signature and the per-shingle md5 fold run once per doc,
    not once per use: an unpersisted band frame read by both sides of
    a band join would re-run the Arrow signature per side.  Deliberately
    not unpersisted: the lazy plan outlives the function; the cache is
    LRU-evictable and the harnesses clearCache() between queries.

    Why digests (the r12 seventh-decade catch): `dedup_minhash_topk`
    died ENOSPC at sf100 because the verify join shipped RAW
    shingle-string arrays onto every candidate-pair row -- a ~25-char
    string costs ~40+ bytes in an UnsafeArrayData of strings, the
    hashed bigint 8 bytes flat-packed, so the pair-join shuffle (the
    family's dominant footprint: 2 arrays x 23M+ candidate rows at
    sf100) shrinks ~5x.  Jaccard over the digests equals Jaccard over
    the strings (equal strings hash equal; distinct stays distinct up
    to the 2^60 birthday bound -- ~1e-9 per pair at 1k-shingle docs),
    and the oracle computes the IDENTICAL integer fold, so
    cross-engine parity is exact by construction, collisions
    included."""
    from ..functions.columns import md5_int60_set

    sh = _doc_shingles(documents)
    return _with_sig(
        sh.withColumn("dig", md5_int60_set(F.col("shingles")))
    ).persist()


def _verify_sides(
    sh: DataFrame, cand: DataFrame, a: str = "doc_a", b: str = "doc_b"
) -> DataFrame:
    """Candidate pairs (keyed ``a``, ``b``) joined to both docs' digest
    sets as ``sh_a``/``sh_b`` -- the shingle-Jaccard verify join.  The
    digests are read from ``sh``'s ``dig`` column (_shingle_digests),
    so only 60-bit digests ride the join's shuffle."""
    sa = sh.select(F.col("doc_id").alias(a), F.col("dig").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias(b), F.col("dig").alias("sh_b"))
    return cand.join(sa, a).join(sb, b)


def _cross_band_candidates(
    bands: DataFrame, build, probe_id: str, build_id: str
) -> DataFrame:
    """Distinct (probe_id, build_id) pairs sharing an LSH band, where
    the boolean column ``build`` splits ``bands`` into the build side
    (true) and the probe side (false) -- the asymmetric band join of
    the incremental and decontamination paths.  Only probe x build
    collisions are generated, never probe x probe or build x build."""
    build_side = bands.where(build).select(
        F.col("doc_id").alias(build_id), "band_idx", "band_hash"
    )
    probe_side = bands.where(~build).select(
        F.col("doc_id").alias(probe_id),
        F.col("band_idx").alias("band_idx_p"),
        F.col("band_hash").alias("band_hash_p"),
    )
    return (
        probe_side.join(
            build_side,
            (F.col("band_idx") == F.col("band_idx_p"))
            & (F.col("band_hash") == F.col("band_hash_p")),
        )
        .select(probe_id, build_id)
        .distinct()
    )


def _jac_h():
    """Exact-Jaccard expression over the verify sides' digest sets
    (_verify_sides) -- one definition for every consumer.  A function,
    not a module-level Column: building a Column from a string name
    needs an active SparkContext, and this module imports before any
    session exists in the harnesses."""
    return F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
        F.array_union("sh_a", "sh_b")
    )


def _minhash_candidates(documents: DataFrame) -> DataFrame:
    """(doc_a, doc_b, sh_a, sh_b): every symmetric LSH candidate pair
    (doc_a < doc_b) with both docs' digest sets -- the one frame the
    pairs, top-k and threshold-sweep consumers verify over."""
    sh = _shingle_digests(documents)
    return _verify_sides(sh, _band_candidate_pairs(_doc_bands_from(sh)))


def dedup_minhash_pairs(documents: DataFrame) -> DataFrame:
    """Full MinHash-LSH dedup: banded candidate pairs, then exact
    shingle-Jaccard verification within candidates only.

    Jaccard is |A∩B| / |A∪B| of distinct shingle sets -- an integer
    ratio, so Spark and the oracle agree bit-for-bit.  r12: the
    verify join ships 60-bit shingle DIGESTS, not raw strings -- see
    _shingle_digests (the seventh-decade ENOSPC catch: wide string
    arrays on tens of millions of pair rows are the family's real
    shuffle footprint).
    """
    return (
        _minhash_candidates(documents)
        .select("doc_a", "doc_b", _jac_h().alias("jaccard"))
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


def dedup_ngram_jaccard(documents: DataFrame) -> DataFrame:
    """Character-trigram Jaccard near-dup pairs, blocked by
    (lang, length bucket).

    The block key bounds pair generation: the self-join shuffles on
    (lang, len_bucket) and compares only within blocks -- near-dups
    share language and approximate length.  Char n-grams (vs word
    shingles) catch edit-level near-dups that tokenization hides.

    MEASURED SCALE BOUND (r5 sf1 probe, SCALE_PROBE.json): the
    co-occurrence term is Sum_gram k^2 per block, quadratic in block
    occupancy -- 1.7 s at sf0.1 grew to 49.6 s at sf1 (10x data),
    because common trigrams co-occur across most docs of a block.
    Two exact candidate-bounding rewrites were implemented and
    MEASURED WORSE on the same data before being rejected (the
    PLANS.md measured-decision discipline):

    * PPJoin-style lossless prefix filtering (index each doc's
      rarest n - ceil(tau*n) + 1 grams; Xiao et al. WWW'08):
      92.6 s at sf1 -- low-diversity trigram vocabularies leave
      prefixes undiscriminating, and the global-rarity rank adds a
      df join + row_number window over the full gram stream.
    * Exact-family collapse (identical gram sets fold to one
      representative; intra-family pairs emit output-bounded):
      56.7 s at sf1 and 3.9 s at sf0.1 -- result-identical and the
      right asymptotic on dup-HEAVY corpora, but this corpus'
      families are tiny, so the famkey window that ships gram
      arrays costs more than the collapse saves.

    SELF-ROUTING (r7): above NGRAM_EXHAUSTIVE_MAX_DOCS the op
    switches to the banded-LSH candidate plan
    (dedup_ngram_jaccard_scaled's shape) -- the same
    engages-at-scale/bit-identical-below-it contract as
    semantic_dedup's cell-budget split.  The exhaustive
    block-co-occurrence plan below the cutover is the EXACT
    edit-level instrument (its per-block quadratic cost is paid
    consciously on bounded slices); past the cutover, candidate
    pairs come from banded LSH (O(1) expected bucket occupancy) and
    char-trigram Jaccard verifies inside candidates only, the
    dedup_edit_distance pattern (measured at sf1: 7.9 s vs the
    exhaustive plan's 49.6 s, alpha 0.22 vs the
    quadratic-in-occupancy curve).  The documented recall trade past
    the cutover: candidates come from word-shingle MinHash bands, so
    edit-level dups sharing no word shingle are out of recall --
    acceptable at corpus scale (the _scaled docstring carries the
    measurement).  The route-picking action is LIMIT cutover+1, then
    count: the route needs only which SIDE of the cutover the corpus
    falls on, never its exact size, so the probe job stops as soon as
    cutover+1 rows exist -- bounded even when ``documents`` is a
    filtered/derived frame whose full count() would replay the whole
    upstream plan (on a bare parquet scan it is footer-cheap either
    way).  SCALE.md carries the same guidance.
    """
    from ..constants import NGRAM_EXHAUSTIVE_MAX_DOCS

    probe = documents.limit(NGRAM_EXHAUSTIVE_MAX_DOCS + 1).count()
    if probe > NGRAM_EXHAUSTIVE_MAX_DOCS:
        return dedup_ngram_jaccard_scaled(documents)
    g = (
        documents.select(
            "doc_id",
            "lang",
            F.floor(F.length("text") / NGRAM_LEN_BUCKET).cast("int").alias("len_bucket"),
            F.col("text"),
        )
        .where(F.length("text") >= 3)
        .repartition(documents.sparkSession.sparkContext.defaultParallelism)
        .select("doc_id", "lang", "len_bucket", char_ngrams(F.col("text")).alias("grams"))
        .persist()
    )
    # Intersections by co-occurrence counting, NOT per-pair set ops:
    # explode grams, self-join on (block, gram), count shared grams
    # per pair.  Per-pair array_intersect was measured 14x slower at
    # sf0.1 (per-pair hash-set builds); this shape is one shuffle on
    # (block, gram) whose expansion is bounded by block size, then a
    # pair-count agg.  |union| = |A| + |B| - |A cap B|, so sizes join
    # back in and no union is ever materialized.
    e = g.select("doc_id", "lang", "len_bucket", F.explode("grams").alias("gram"))
    a = e.select(F.col("doc_id").alias("doc_a"), "lang", "len_bucket", "gram")
    b = e.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("len_bucket").alias("len_bucket_b"),
        F.col("gram").alias("gram_b"),
    )
    inter = (
        a.join(
            b,
            (F.col("gram") == F.col("gram_b"))
            & (F.col("lang") == F.col("lang_b"))
            & (F.col("len_bucket") == F.col("len_bucket_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .groupBy("doc_a", "doc_b", "lang")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sizes = g.select("doc_id", F.size("grams").alias("n_grams"))
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_grams").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_grams").alias("n_b"))
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .select("doc_a", "doc_b", "lang", rnd(jac, 6).alias("jaccard"))
        .where(F.col("jaccard") >= NGRAM_JACCARD_THRESHOLD)
    )


def _simhash_bands(documents: DataFrame) -> DataFrame:
    """(doc_id, b0..b3): the 64-bit SimHash as 4 x 16-bit band ints.

    Hot path (r5): the Arrow pass simhash_bands_pandas -- a
    batch-level md5 digest cache (Zipf token repetition makes most
    lookups hits) plus one vectorized row-gather/column-sum per doc,
    measured 5x over the explode+agg Catalyst shape at sf0.1
    (0.3 s vs 1.5 s best-of-3; signatures bit-identical, so the
    DuckDB parity gate is unchanged).  The Catalyst formulation
    below (_simhash_bands_catalyst) stays as the pinned SPEC TWIN --
    tests/test_functions.py asserts band-for-band equality."""
    from ..functions.pandas_udfs import simhash_bands_pandas

    return (
        _spread(
            documents.select(
                "doc_id", F.array_distinct(tokens(F.col("text"))).alias("dt")
            ).where(F.size("dt") > 0)
        )
        .select("doc_id", simhash_bands_pandas(F.col("dt")).alias("s"))
        .select(
            "doc_id",
            *[F.col(f"s.b{b}").alias(f"b{b}") for b in range(4)],
        )
    )


def _simhash_bands_catalyst(documents: DataFrame) -> DataFrame:
    """The all-Catalyst SimHash formulation -- the semantics
    reference the Arrow hot path is pinned against.

    Formulated as explode -> codegen'd per-token band parse -> 64
    SUM(bit) hash aggregates, NOT as array lambdas: higher-order
    functions are interpreted expression-tree walks, and 64 filter
    passes per row measured 2.5x slower than this all-codegen shape
    at sf0.1.  The shuffle moves one 65-int row per doc (map-side
    partial agg collapses each doc's tokens locally), so the network
    cost is ~rows, not ~tokens.  Spec twin: columns.simhash_band /
    simhash_token_bands (pinned to this by a pytest and to DuckDB by
    the parity gate).

    The repartition is the usual CollapseProject barrier: explode's
    generator re-evaluates its child PER OUTPUT ROW, so the distinct-
    token array must be materialized before exploding (O(tokens) vs
    O(tokens^2) per doc)."""
    from ..constants import SIMHASH_BAND_BITS, SIMHASH_N_BANDS

    per_tok = (
        documents.select(
            "doc_id", F.array_distinct(tokens(F.col("text"))).alias("dt")
        )
        .repartition(documents.sparkSession.sparkContext.defaultParallelism)
        .select("doc_id", F.explode("dt").alias("w"))
        .select("doc_id", F.substring(F.md5("w"), 1, 16).alias("h"))
        .select(
            "doc_id",
            *[
                F.conv(F.substring("h", 4 * b + 1, 4), 16, 10)
                .cast("int")
                .alias(f"tb{b}")
                for b in range(SIMHASH_N_BANDS)
            ],
        )
    )
    counted = per_tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.shiftright(F.col(f"tb{b}"), k).bitwiseAND(F.lit(1))).alias(
                f"c{b}_{k}"
            )
            for b in range(SIMHASH_N_BANDS)
            for k in range(SIMHASH_BAND_BITS)
        ],
    )
    def band(b: int):
        out = F.lit(0)
        for k in range(SIMHASH_BAND_BITS):
            out = out + F.when(
                F.col(f"c{b}_{k}") * 2 > F.col("n"), F.lit(2**k)
            ).otherwise(F.lit(0))
        return out

    return counted.select(
        "doc_id", *[band(b).cast("int").alias(f"b{b}") for b in range(SIMHASH_N_BANDS)]
    )


def dedup_simhash(documents: DataFrame) -> DataFrame:
    """SimHash collision buckets: docs sharing the full 64-bit
    signature (rendered as 16 hex chars -- bit 63 outgrows a signed
    long).  One shuffle on the signature, map-side partial agg."""
    from ..constants import SIMHASH_N_BANDS

    per_doc = _simhash_bands(documents).select(
        "doc_id",
        simhash_hex(*[F.col(f"b{b}") for b in range(SIMHASH_N_BANDS)]).alias("simhash"),
    )
    return (
        per_doc.groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_doc_id"))
        .where(F.col("n_docs") > 1)
    )


def dedup_edit_distance(documents: DataFrame) -> DataFrame:
    """Character-exact near-dup verification: Levenshtein distance on
    the LSH candidate pairs only (never all pairs -- the DP is
    O(len^2) per pair and only affordable inside the banded set).

    Both engines implement classic unit-cost edit distance, so the
    integer distances and their length-relative ratio match exactly.

    Two measured sf1 optimizations (bit-identical results, r6):
    length-gap pre-prune before the DP (|len_a-len_b| alone bounds
    the distance from below -- prunes 14% of candidate pairs here,
    more on length-heterogeneous corpora), and an EXPLICIT
    repartition of the surviving pairs before the DP projection: AQE
    coalesces the few-thousand-row candidate join down to ~2
    partitions, which serializes the O(len^2) per-pair DP onto 2
    tasks -- a compute-heavy-narrow-rows shape size-based coalescing
    cannot see.  Spreading 5.6k pairs back over the shuffle width
    measured 17.1 s -> 5.0-11.4 s at sf1 (same pathology class as
    the explode-after-small-join note in SURVEY §6).
    """
    cand = _band_candidate_pairs(_doc_bands(documents))
    ta = documents.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a"))
    tb = documents.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b"))
    dist = F.levenshtein("text_a", "text_b")
    len_a, len_b = F.length("text_a"), F.length("text_b")
    max_len = F.greatest(len_a, len_b)
    rel = dist / max_len
    # Exact pre-prune BEFORE the O(len^2) DP: Levenshtein >= |len_a -
    # len_b| (every length change is >= one edit), so a pair whose
    # length gap alone exceeds EDIT_REL_THRESHOLD * max_len can never
    # pass the rel filter -- skip its DP entirely.  The .where sits
    # under the levenshtein projection in the optimized plan, so the
    # DP runs only on surviving rows; results are bit-identical (the
    # oracle is unchanged).
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .where(
            # +1e-6 margin: the kept-set test is on rnd(rel, 6), so a
            # raw rel in (t, t+5e-7] still rounds into the result --
            # the prune bound must be strictly wider than the rounded
            # filter, never tighter
            F.abs(len_a - len_b).cast("double")
            <= F.lit(float(EDIT_REL_THRESHOLD) + 1e-6) * max_len
        )
        # explicit partition count: a column-only repartition would be
        # re-coalesced by AQE, recreating the 2-task DP serialization
        .repartition(
            _shuffle_width(documents.sparkSession),
            "doc_a",
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            dist.alias("edit_distance"),
            rnd(rel, 6).alias("rel_distance"),
        )
        .where(F.col("rel_distance") <= EDIT_REL_THRESHOLD)
    )


def dedup_ngram_jaccard_scaled(documents: DataFrame) -> DataFrame:
    """Corpus-scale char-trigram near-dup: banded MinHash-LSH
    candidate pairs, then EXACT trigram-Jaccard verification inside
    candidates only (the routing dedup_ngram_jaccard's docstring
    prescribes for full-corpus runs, now a shipped query).

    Why this scales where dedup_ngram_jaccard does not: the r5 sf1
    probe measured the block-co-occurrence shape quadratic in block
    occupancy (1.7 s -> 49.6 s for 10x data) because common trigrams
    co-occur across most docs of a (lang, len_bucket) block.  Here
    candidate generation is the banded-LSH shuffle (expected O(1)
    bucket occupancy -- dedup_minhash_pairs' bound), so pair work is
    ~|candidates|, not ~block^2; the per-pair array_intersect set op
    that was 14x slower as an ALL-PAIRS verifier is the right shape
    over a bounded candidate list (same reasoning as
    dedup_edit_distance's Levenshtein).

    Semantics note (the documented recall trade): candidates come
    from word-shingle MinHash bands, so pure edit-level dups with no
    shared word shingle are out of recall -- acceptable at corpus
    scale and measured equivalent on this corpus (the sf0.01/sf0.1
    dup classes are copy-perturbations that share shingles).  The
    lang-equality filter mirrors dedup_ngram_jaccard's block
    semantics: near-dups share language.
    """
    # cand feeds the id semi-join (both sides) AND the verify join;
    # persist so the band self-join runs once (repo convention:
    # clearCache between queries releases it, same as
    # dedup_minhash_pairs' shingle persist).
    cand = _band_candidate_pairs(_doc_bands(documents)).persist()
    # Only candidate docs need gram arrays: semi-join BEFORE building
    # them so the wide array rows shuffled into the verify join are
    # O(candidates), not O(corpus).  Measured 2x at sf1 (20.3 s ->
    # 10.8 s best-of-2) -- at 100 TB the gap is the whole corpus.
    ids = cand.select(F.col("doc_a").alias("doc_id")).union(
        cand.select(F.col("doc_b").alias("doc_id"))
    ).distinct()
    # persist: g feeds BOTH verify-join sides -- without it the
    # documents scan + semi-join + gram build run twice per action
    # (released by the same per-query clearCache as cand)
    g = (
        documents.join(ids, "doc_id", "left_semi")
        .where(F.length("text") >= 3)
        .select("doc_id", "lang", char_ngrams(F.col("text")).alias("grams"))
        .persist()
    )
    ga = g.select(
        F.col("doc_id").alias("doc_a"),
        F.col("lang").alias("lang"),
        F.col("grams").alias("g_a"),
    )
    gb = g.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("grams").alias("g_b"),
    )
    jac = F.size(F.array_intersect("g_a", "g_b")) / F.size(
        F.array_union("g_a", "g_b")
    )
    return (
        cand.join(ga, "doc_a")
        .join(gb, "doc_b")
        .where(F.col("lang") == F.col("lang_b"))
        .select("doc_a", "doc_b", "lang", rnd(jac, 6).alias("jaccard"))
        .where(F.col("jaccard") >= NGRAM_JACCARD_THRESHOLD)
    )


def _cluster_labels(documents: DataFrame, max_iter: int = 20) -> DataFrame:
    """Per-doc connected-component labels over the verified near-dup
    graph (dedup_minhash_pairs edges): (doc_id, label) for every doc
    that participates in at least one near-dup pair.

    Iterative min-label propagation (the Pregel pattern): every round
    each node takes the min label among itself and its neighbors;
    converged when no label changes.  Rounds are joins on doc_id --
    hash-partitioned, no driver data beyond the 1-row convergence
    count.  Iterations are bounded by component diameter (near-dup
    clusters are shallow); at extreme scale swap in the
    large-star/small-star contraction, same interface.
    """
    import warnings

    pairs = dedup_minhash_pairs(documents).select("doc_a", "doc_b")
    # lineage cut (not persist): round 1 references edges in two
    # branches and labels in two more; a lazy cache would carry the
    # full MinHash-pairs lineage into every branch of the first
    # round's plan (same measured effect as dedup_clusters_bigstar:
    # first round ~8x steady-state from Catalyst re-analysis alone).
    # _lineage_cut upgrades to a reliable checkpoint when a
    # checkpoint dir is configured (executor-loss safety on clusters).
    edges = _lineage_cut(
        pairs.union(
            pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
        )
    )
    # Round 1 folded into the init (r12): with identity labels the
    # first round's neighbor_min is just min(doc_b) per node -- the
    # join against identity labels is the identity lookup -- so the
    # initial label is least(doc_id, min neighbor) from ONE groupBy
    # over the flat edge checkpoint.  Identical to the old
    # identity-init + first loop round (every node appears on the
    # doc_a side of the symmetric list, so the groupBy covers exactly
    # the old distinct(doc_a) node set); the loop below then runs the
    # remaining max_iter - 1 rounds, so the total propagation budget
    # is unchanged.
    labels = _lineage_cut(
        edges.groupBy(F.col("doc_a").alias("doc_id"))
        .agg(F.min("doc_b").alias("nbr"))
        .select("doc_id", F.least("doc_id", "nbr").alias("label"))
    )
    # Round shape (r13): min over {own label} UNION {neighbor labels}
    # in ONE join + ONE groupBy -- the old join-back of neighbor_min
    # onto labels (a second join, two more Exchange inputs) is folded
    # into the union's min; old-vs-new per node rides the same agg as
    # max(label WHERE own), so the exact changed count is free.
    # Convergence is checked every SECOND round (and always on the
    # last): labels decrease monotonically, so a fixpoint detected one
    # round late is the identical fixpoint, and the lazy lineage cut
    # lets the checked round's single agg action materialize BOTH
    # rounds' checkpoints in one job -- 4 driver actions per 2 rounds
    # become 1 (the dedup_clusters_bigstar fingerprint-fuse shape; the
    # scaling block pinned this family as action-bound, ratios ~1.4).
    changed = -1  # unknown until a checked round runs
    for r in range(max_iter - 1):
        contrib = edges.join(labels, edges["doc_b"] == labels["doc_id"]).select(
            F.col("doc_a").alias("doc_id"), "label"
        )
        new_labels = _lineage_cut(
            labels.select("doc_id", "label", F.lit(1).alias("own"))
            .unionByName(contrib.select("doc_id", "label", F.lit(0).alias("own")))
            .groupBy("doc_id")
            .agg(
                F.min("label").alias("label"),
                F.max(F.when(F.col("own") == 1, F.col("label"))).alias("old"),
            )
            .select(
                "doc_id",
                "label",
                (F.col("label") < F.col("old")).cast("int").alias("changed"),
            ),
            eager=False,
        )
        labels = new_labels.select("doc_id", "label")
        # check round 0 (shallow graphs -- the common near-dup shape --
        # converge immediately, and the check is ONE fused job), then
        # every 2nd round, and always the last
        if r == 0 or r % 2 == 1 or r == max_iter - 2:
            changed = new_labels.agg(F.sum("changed")).first()[0] or 0
            if changed == 0:
                break
    else:
        # a component with diameter > max_iter would silently carry
        # wrong labels; surface it instead of letting a truncated
        # clustering masquerade as converged.  changed == -1 means NO
        # checked round ran (max_iter <= 1): convergence is unverified
        # rather than known-failing (ADVICE r12).
        still = (
            "an unverified number of" if changed < 0 else f"{changed}"
        )
        warnings.warn(
            f"dedup_clusters: min-label propagation did not converge in "
            f"{max_iter} iterations ({still} labels still changing); "
            f"raise max_iter or switch to large-star/small-star contraction",
            RuntimeWarning,
            stacklevel=2,
        )
    # no edges.unpersist(): checkpoint blocks are freed on RDD GC,
    # not by DataFrame.unpersist() (which is a silent no-op here)
    return labels


def dedup_clusters(documents: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components over the verified near-dup graph
    (dedup_minhash_pairs edges): each cluster keeps one canonical doc
    and drops the rest -- the final step of MinHash-LSH dedup.
    Labels come from ``_cluster_labels`` (iterative min-label
    propagation; see its docstring for the scale argument)."""
    labels = _cluster_labels(documents, max_iter)
    return labels.groupBy(F.col("label").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("doc_id").alias("max_doc_id"),
    )


def dedup_keep_canonical(documents: DataFrame) -> DataFrame:
    """Survivor selection per near-dup cluster: the step that turns a
    clustering into an actual keep-list.  Canonical doc = the longest
    member (most chars), doc_id ascending as the deterministic
    tie-break; everything else is dropped and its bytes reclaimed.

    Scale shape: one broadcast-sized join of the (sparse) label frame
    against the doc-length projection, then a single groupBy(label)
    whose argmax is a struct MAX -- map-side partial agg, no window,
    no single-task stage.  (A window over PARTITION BY cluster would
    also be bounded -- cluster size is community size -- but the
    struct-max form needs no sort at all.)
    """
    labels = _cluster_labels(documents)
    sized = labels.join(documents.select("doc_id", "n_chars"), "doc_id")
    # max of (n_chars, -doc_id) == longest doc, min doc_id on ties
    best = F.max(
        F.struct(F.col("n_chars").alias("len"), (-F.col("doc_id")).alias("neg_id"))
    ).alias("best")
    return (
        sized.groupBy(F.col("label").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            best,
            F.sum("n_chars").alias("cluster_chars"),
        )
        .select(
            "cluster_id",
            "n_docs",
            (-F.col("best.neg_id")).cast("bigint").alias("keep_doc_id"),
            F.col("best.len").cast("bigint").alias("keep_chars"),
            (F.col("cluster_chars") - F.col("best.len"))
            .cast("bigint")
            .alias("reclaimed_chars"),
        )
    )


def doc_segments(documents: DataFrame) -> DataFrame:
    """Shared segmentation for batch segment_dedup and its streaming
    ingest twin (streaming.stream_segment_dedup): consecutive
    SEGMENT_W-word windows per doc, keyed by md5 of the segment text
    so no exchange downstream ever carries raw text.  Positional
    explode over a cheap int sequence; the W-word slice+concat runs
    once per OUTPUT row.  Works identically on a batch frame and a
    streaming frame (select + bounded explode: stateless)."""
    from ..constants import SEGMENT_W

    toks_d = (
        documents.select(
            "doc_id", "lang", "source", tokens(F.col("text")).alias("toks")
        )
        .where(F.size("toks") >= SEGMENT_W)
        .repartition(documents.sparkSession.sparkContext.defaultParallelism)
    )
    return (
        toks_d.select(
            "doc_id",
            "lang",
            "source",
            F.explode(
                F.sequence(F.lit(0), (F.size("toks") / SEGMENT_W).cast("int") - 1)
            ).alias("k"),
            "toks",
        )
        .select(
            "doc_id",
            "lang",
            "source",
            F.col("k").alias("seg_idx"),
            F.md5(
                F.concat_ws(
                    " ", F.slice("toks", F.col("k") * SEGMENT_W + 1, SEGMENT_W)
                )
            ).alias("seg_hash"),
        )
    )


def segment_dedup(documents: DataFrame) -> DataFrame:
    """C4-style sub-document segment dedup accounting: docs are cut
    into consecutive SEGMENT_W-word windows (pseudo-sentences -- the
    corpus carries no newline structure), a segment is duplicated if
    its exact text occurs more than once corpus-wide, and the report
    gives per (lang, source) the duplicated-segment share plus how
    many docs are majority-boilerplate (>= half their segments
    duplicated, an integer-exact compare).

    Scale shape: positional explode (the generator is a cheap int
    sequence; the W-word slice+concat happens once per OUTPUT row),
    md5 keys so the wide exchange never carries raw text, and the
    occurrence count joins back on its own groupBy key -- the shuffle
    on seg_hash is reused by the join, then two small aggs.  No
    per-pair work anywhere: corpus-frequency is the dedup signal,
    exactly the C4/Lee-et-al. exact-substring regime.
    """
    segs = doc_segments(documents)
    seg_counts = segs.groupBy("seg_hash").agg(F.count(F.lit(1)).alias("n_occ"))
    per_doc = (
        segs.join(seg_counts, "seg_hash")
        .groupBy("doc_id", "lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_segs"),
            F.sum((F.col("n_occ") > 1).cast("int")).alias("n_dup_segs"),
        )
    )
    return per_doc.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_segs").cast("bigint").alias("total_segments"),
        F.sum("n_dup_segs").cast("bigint").alias("dup_segments"),
        rnd(F.sum("n_dup_segs") / F.sum("n_segs"), 6).alias("dup_share"),
        F.sum((F.col("n_dup_segs") * 2 >= F.col("n_segs")).cast("int"))
        .cast("bigint")
        .alias("n_boilerplate_docs"),
    )


def dedup_clusters_bigstar(documents: DataFrame, max_iter: int = 30) -> DataFrame:
    """Connected components over the verified near-dup graph via
    alternating LARGE-STAR / SMALL-STAR contraction (Kiveris et al.,
    'Connected Components in MapReduce and Beyond', SoCC'14) -- the
    O(log n)-round algorithm dedup_clusters' docstring names as the
    extreme-diameter swap, same output contract.

    Each round is two shuffle-bounded steps over the edge list:
    large-star connects every strictly-larger neighbor of u to
    min(N(u) + {u}); small-star connects u and its smaller neighbors
    to that min.  Edges only ever move toward component minima, the
    edge list never grows beyond its input size order, and rounds are
    logarithmic in component size rather than linear in diameter --
    the property that matters when a pathological near-dup chain
    (boilerplate families) stretches a component.

    Convergence is detected by an (edge-count, xxhash64 checksum)
    fingerprint -- one tiny agg per round, no edge-set diff shuffle.
    """
    import warnings

    pairs = dedup_minhash_pairs(documents).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    # lineage cut (not persist) BEFORE the loop: the star steps
    # reference `edges` five times per round, and with a lazy cache
    # round 1's plan carries the whole MinHash-pairs lineage into
    # every branch -- Catalyst re-analyzes that duplicated subtree and
    # round 1 costs ~8x a steady-state round (measured 9.5s -> 1.2s
    # at sf0.1).  The checkpoint truncates lineage up front, so every
    # round optimizes a plan over a flat cached relation; _lineage_cut
    # upgrades to a reliable checkpoint when a dir is configured.
    # No distinct() and no u != v filter on the initial edge set:
    # dedup_minhash_pairs emits DISTINCT pairs with doc_a < doc_b
    # (banded candidates end in distinct(), the verify join preserves
    # multiplicity-1), so the union with its reversal is duplicate-
    # free and self-loop-free BY CONSTRUCTION.  The r13 sf100 rounds
    # probe measured the redundant distinct at ~200 s (602 s vs the
    # label-prop loop's 393 s edge checkpoint over the same pairs) --
    # one full edge-list shuffle for nothing.
    edges = _lineage_cut(
        pairs.union(pairs.select(F.col("v").alias("u"), F.col("u").alias("v")))
    )
    fingerprint = None
    for _ in range(max_iter):
        # ---- large-star: (v, m(u)) for v in N(u), v > u ------------
        m = edges.groupBy("u").agg(F.min("v").alias("mv")).select(
            "u", F.least("u", "mv").alias("m")
        )
        # No intermediate distinct(): min-aggregates are duplicate-
        # insensitive and join multiplicity is bounded by the input
        # edge count (m/m2 carry one row per u), so duplicates cannot
        # compound within a round -- the round-end distinct() is the
        # only dedup shuffle each round needs (measured ~1.25x).
        large = (
            edges.where(F.col("v") > F.col("u"))
            .join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .union(m.select(F.col("u"), F.col("m").alias("v")).where(F.col("u") != F.col("m")))
        )
        sym = large.union(large.select(F.col("v").alias("u"), F.col("u").alias("v")))
        # ---- small-star: (v, m(u)) for v in N(u), v <= u, + (u, m) --
        m2 = sym.groupBy("u").agg(F.min("v").alias("mv")).select(
            "u", F.least("u", "mv").alias("m")
        )
        small = (
            sym.where(F.col("v") < F.col("u"))
            .join(m2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(m2.select(F.col("u"), F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
        )
        # lazy cut + fused fingerprint (r12): the convergence agg is
        # the round's first action anyway, so let IT materialize and
        # checkpoint the new edge set -- one job per round instead of
        # an eager-checkpoint job followed by the agg job
        new_edges = _lineage_cut(
            small.union(small.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .distinct(),
            eager=False,
        )
        row = new_edges.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("u", "v")).alias("chk"),
        ).first()
        # checkpoint blocks free on RDD GC; DataFrame.unpersist() on a
        # checkpointed frame is a silent no-op, so none is attempted
        edges = new_edges
        new_fingerprint = (row["n"], row["chk"])
        if new_fingerprint == fingerprint:
            break
        fingerprint = new_fingerprint
    else:
        warnings.warn(
            f"dedup_clusters_bigstar: contraction did not stabilize in "
            f"{max_iter} rounds",
            RuntimeWarning,
            stacklevel=2,
        )
    # stars: every node appears on the u side of the symmetric edge
    # list; a member's min neighbor is the root, the root's is its
    # smallest member (> root), so least(u, min(v)) labels both
    labels = edges.groupBy("u").agg(F.min("v").alias("mv")).select(
        "u", F.least("u", "mv").alias("label")
    )
    return labels.groupBy(F.col("label").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("u").alias("max_doc_id"),
    )


def dedup_incremental(documents: DataFrame) -> DataFrame:
    """Incremental MinHash-LSH dedup: an incoming batch checked
    against the already-deduped corpus WITHOUT re-pairing the corpus
    with itself -- the shape a daily-ingest pipeline runs, where
    existing x existing pairs were settled in previous runs.

    The corpus is split deterministically (md5 bucket of doc_id) into
    'existing' (INCREMENTAL_EXISTING_PCT %) and 'incoming'; candidate
    pairs are incoming-band x existing-band collisions only, then the
    usual exact-Jaccard verify.  At 10^10 docs the band join's probe
    side is just the day's batch, so the incremental cost scales with
    the batch, not the corpus.
    """
    from ..constants import INCREMENTAL_EXISTING_PCT
    from ..functions.columns import md5_pct_bucket

    sh = _shingle_digests(documents)
    bands = _doc_bands_from(sh).withColumn(
        "is_existing", md5_pct_bucket(F.col("doc_id")) < INCREMENTAL_EXISTING_PCT
    )
    cand = _cross_band_candidates(
        bands, F.col("is_existing"), "new_doc", "existing_doc"
    )
    return (
        _verify_sides(sh, cand, "new_doc", "existing_doc")
        .select("new_doc", "existing_doc", _jac_h().alias("jaccard"))
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


def _split_fanout(n_col, budget: int):
    """Sub-split width for an oversized block:
    max(2^LSH_EXTRA_MIN_PLANES, 2^ceil(log2(n/budget))), as a PURE
    INTEGER expression -- the i-th threshold test n > budget*2^i
    fires exactly for i < k, so 1 + sum(fired_i * 2^i) == 2^k; no
    float log anywhere, so Spark and the DuckDB oracle compute the
    identical fanout on every block size.  THE single definition
    shared by dedup_embedding_cosine and semantic_dedup.

    The r10 sf100 catch: a FIXED one-level 2^6 split leaves hot-block
    sub-size linear in the corpus and merely defers the quadratic --
    dedup_embedding_cosine read 13.8 s at sf10 -> 998 s at sf100
    (skewed LSH buckets put 100k+ vectors in one block; 64 sub-keys
    also serialize the join).  Depth-k re-bounds sub-size at ~budget
    for every decade AND widens the hot block's key space for
    parallelism.  The 2^6 FLOOR keeps the r8 geometry (and its
    measured cost/recall trade) wherever it already worked: a
    pure-depth-k variant was probed and read 42.8/54.7 s at sf10 vs
    13.8/32.9 -- fewer splits meant near-budget sub-blocks and ~3x
    the pair mass on mildly-oversized blocks; the floor restores the
    r8 over-split there and engages extra depth only past 64x the
    budget, where r8 was quadratic-broken anyway.  k is capped at
    LSH_EXTRA_NUM_PLANES by construction -- the extra-plane pool is
    the bit budget."""
    from ..constants import LSH_EXTRA_MIN_PLANES, LSH_EXTRA_NUM_PLANES

    fanout = F.lit(1)
    for i in range(LSH_EXTRA_NUM_PLANES):
        fanout = fanout + F.when(n_col > (budget << i), F.lit(1 << i)).otherwise(
            F.lit(0)
        )
    return F.greatest(F.lit(1 << LSH_EXTRA_MIN_PLANES), fanout)


def _occ_capped_pairs(
    normed: DataFrame,
    part_cols: list[str],
    occ_cap: int,
    group_bound: int | None = None,
) -> DataFrame:
    """Within-group pair generation with the r11 RESIDUAL occupancy
    cap -- THE single pairing tail shared by dedup_embedding_cosine
    and semantic_dedup (SQL twins in oracles.py).

    ``normed`` carries ``*part_cols, vec_id, embedding, norm`` where
    part_cols is the (block/cell, sub) key the depth-k splitter
    (_split_fanout) produced.  Groups at or under ``occ_cap`` pair
    ALL-PAIRS -- bit-identical to the r10 geometry, which is every
    group at driver SFs and sf1.  Groups ABOVE it are splitter
    failures: the sf100 probe measured sign-correlated vectors (same
    sign on every plane) piling 3,546 members / 772M candidate pairs
    into one sub-bucket that NO plane count can split (885 s
    post-depth-k).  Those groups switch to windowed pairing: rank by
    (normalized projection onto constants.EMB_ORDER_PLANE, vec_id) --
    continuous where the sign bits are constant -- and pair each
    member with its EMB_PAIR_WINDOW rank-successors via window leads
    (the dedup_sorted_neighborhood shape: candidates bounded BY
    CONSTRUCTION, no self-join).  r12: the windowed pass runs TWICE,
    once per independent order plane (EMB_ORDER_PLANE /
    EMB_ORDER_PLANE2), and the pair sets union-distinct -- a
    qualifying pair is now missed only when BOTH orderings put
    > W-1 members between its endpoints (the r11 single-axis pass
    left 24.7% of sf100 drop candidates uncovered; two
    near-orthogonal axes square the per-pair miss probability).
    Per-group pair mass stays O(n*W) (2x the constant), keeping the
    family's linear-in-corpus bound; the residual recall trade is
    documented at the constants and applied identically by both
    engines.

    Scale shape: TWO-TIER self-route (the dedup_ngram_jaccard
    doc-count-route precedent), each tier one tiny bounded action.
    Tier 1: ``group_bound`` is the caller's measured max PRE-SPLIT
    group size (max block_n / cell_n off the sizes frame the caller
    already aggregates) -- a sub-group can never outgrow its parent
    group, so group_bound <= occ_cap proves zero over-cap groups
    WITHOUT building the sub-level occupancy frame at all (every
    driver SF and sf1 on this corpus: sf0.1's largest block is 218 vs
    cap 1024).  Tier 2 (group_bound absent or exceeded): aggregate
    the slim sub-level occupancy (bounded by blocks x fanout) and
    probe max(occ_n).  When either tier rules the cap out the op
    SHORT-CIRCUITS to the exact r10 all-pairs plan: no occupancy
    broadcast-join, no corpus-wide persist -- r11 shipped the cap by
    unconditionally persisting the full tagged frame (embeddings
    included), which doubled the small-SF wall (sf0.1: semantic_dedup
    4.06->9.39 s, cosine 3.47->6.03 s) to insure against a case the
    occupancy agg can rule out for the price of one bounded action.
    Only when some group IS over cap does the big-path machinery
    engage: the occupancy frame broadcast-joins back, the tagged
    frame persists (released by the harnesses' per-query clearCache,
    the file convention -- at one materialization per call the cache
    is write-once), and over-cap rows take one explicit-width window
    shuffle+sort with both sides' embeddings carried through the lead
    struct so the verify needs no join-back.  Returns (*part_cols,
    vec_a, vec_b, cosine) already filtered to COSINE_THRESHOLD,
    vec_a < vec_b, cosine rounded 6.
    """
    from functools import reduce

    from pyspark.sql import Window

    from ..constants import (
        EMB_ORDER_PLANE,
        EMB_ORDER_PLANE2,
        EMB_PAIR_WINDOW,
    )

    same_group = reduce(
        lambda x, y: x & y, [F.col(c) == F.col(f"{c}_b") for c in part_cols]
    )

    def all_pairs(members: DataFrame) -> DataFrame:
        a = members.select(
            *part_cols,
            F.col("vec_id").alias("vec_a"),
            F.col("embedding").alias("emb_a"),
            F.col("norm").alias("norm_a"),
        )
        b = members.select(
            *[F.col(c).alias(f"{c}_b") for c in part_cols],
            F.col("vec_id").alias("vec_b"),
            F.col("embedding").alias("emb_b"),
            F.col("norm").alias("norm_b"),
        )
        # Arrow fold twin (r12): bit-identical to the Catalyst
        # dot_product (pinned ==), but one vectorized numpy pass per
        # batch instead of an interpreted aggregate(zip_with()) tree
        # walk per element per PAIR -- the pair-verify is this
        # family's hot loop (O(sum block^2) cosines)
        from ..functions.pandas_udfs import dot_product_fold_pandas

        cos_s = dot_product_fold_pandas(F.col("emb_a"), F.col("emb_b")) / (
            F.col("norm_a") * F.col("norm_b")
        )
        return a.join(b, same_group & (F.col("vec_a") < F.col("vec_b"))).select(
            *part_cols, "vec_a", "vec_b", rnd(cos_s, 6).alias("cosine")
        )

    # zero over-cap groups: the windowed branch would emit nothing
    # and the cap plan degenerates to all-pairs -- take the exact
    # r10 plan with no occupancy join and no corpus persist.
    # Result-identical by construction (capped == all-pairs when no
    # group exceeds cap), so the SQL oracle twins need no routing
    # mirror.
    if group_bound is not None and group_bound <= occ_cap:
        return all_pairs(normed).where(F.col("cosine") >= COSINE_THRESHOLD)

    occ = (
        normed.groupBy(*part_cols)
        .agg(F.count(F.lit(1)).alias("occ_n"))
        .persist()
    )
    max_occ = occ.agg(F.max("occ_n")).first()[0]
    if max_occ is None or max_occ <= occ_cap:
        occ.unpersist()
        return all_pairs(normed).where(F.col("cosine") >= COSINE_THRESHOLD)

    tagged = normed.join(F.broadcast(occ), part_cols).persist()
    small_pairs = all_pairs(tagged.where(F.col("occ_n") <= occ_cap))

    # EXPLICIT width on the window shuffle: the over-cap filter is
    # row-reducing, so AQE coalesces the window exchange to a couple
    # of partitions and the 64-lead + explode + cosine work (per-row
    # superlinear downstream of a row-reducing step) serializes -- the
    # repo's measured sf1 pathology (SCALE.md r6: dedup_edit_distance
    # 20.7->6.5 s), re-measured here at sf100 (load ~2/32 cores).  A
    # user repartition WITH an explicit count is not re-coalesced and
    # already satisfies the window's clustering, so no extra exchange.
    big = tagged.where(F.col("occ_n") > occ_cap).repartition(
        _shuffle_width(normed.sparkSession), *part_cols
    )

    def windowed_pass(plane: list[float]) -> DataFrame:
        order_plane = F.array(*[F.lit(w) for w in plane])
        proj = (
            dot_product(F.col("embedding"), order_plane) / F.col("norm")
        ).alias("proj")
        w = Window.partitionBy(*part_cols).orderBy("proj", "vec_id")
        cur = F.struct(F.col("vec_id"), F.col("embedding"), F.col("norm"))
        nbs = F.array(
            *[F.lead(cur, i).over(w) for i in range(1, EMB_PAIR_WINDOW + 1)]
        )
        exploded = (
            big.select(*part_cols, "vec_id", "embedding", "norm", proj)
            # windows and generators cannot share a projection: compute
            # the lead array first, explode it in the next select
            .select(*part_cols, "vec_id", "embedding", "norm", nbs.alias("nbs"))
            .select(
                *part_cols, "vec_id", "embedding", "norm",
                F.explode("nbs").alias("nb"),
            )
            .where(F.col("nb").isNotNull())
        )
        from ..functions.pandas_udfs import dot_product_fold_pandas

        cos_b = dot_product_fold_pandas(
            F.col("embedding"), F.col("nb.embedding")
        ) / (F.col("norm") * F.col("nb.norm"))
        return exploded.select(
            *part_cols,
            F.least(F.col("vec_id"), F.col("nb.vec_id")).alias("vec_a"),
            F.greatest(F.col("vec_id"), F.col("nb.vec_id")).alias("vec_b"),
            rnd(cos_b, 6).alias("cosine"),
        )

    # two independent order planes (r12): union the per-plane windowed
    # pair sets and dedup -- a pair found by both planes must emit
    # once (cosine is the identical double either way, so distinct()
    # over the full row is exact).  The distinct shuffle is bounded by
    # 2*W rows per over-cap member.
    big_pairs = (
        windowed_pass(EMB_ORDER_PLANE)
        .unionByName(windowed_pass(EMB_ORDER_PLANE2))
        .distinct()
    )
    return small_pairs.unionByName(big_pairs).where(
        F.col("cosine") >= COSINE_THRESHOLD
    )


def dedup_embedding_cosine(embeddings: DataFrame) -> DataFrame:
    """Embedding near-dup pairs blocked on (label, lsh_bucket):
    pairwise cosine only *within* blocks.

    The hyperplane bucket is the piece that survives scale: label
    cardinality is small and fixed, so label-only blocks grow
    linearly with the corpus (O(n^2/|labels|) pairs); the LSH bucket
    count is a tunable 2^planes.  But at a FIXED plane count block
    sizes still grow linearly with the corpus and the within-block
    pairing quadratically -- the sf10 probe measured it (68x
    wall-clock for 10x data) -- so oversized blocks additionally
    split by a SECOND, independent hyperplane family
    (lsh_bucket_extra, planes p >= LSH_NUM_PLANES of the same
    deterministic generator): the sub-key is 0 for blocks within
    EMB_COS_BLOCK_BUDGET (exact legacy geometry at every driver SF
    and sf1) and, above it, the low-k-bit mask of the extra-family
    bucket with k = ceil(log2(block_n/budget)) (_split_fanout -- r10:
    the sf100 probe caught the fixed one-level split deferring the
    quadratic exactly one decade, 13.8 s at sf10 -> 998 s at sf100;
    depth-k keeps EXPECTED sub-block size ~budget at every corpus
    size).  Like any LSH blocking this trades
    recall at the margin -- a qualifying pair split across buckets
    (or, over budget, across sub-buckets) is missed -- which is the
    standard contract for embedding near-dup at 10^10 rows (raise
    planes / add probe rotations to buy recall back).

    r11: sub-buckets whose occupancy still exceeds
    SUB_OCC_CAP_MULT * budget after the depth-k split are splitter
    FAILURES (sign-correlated vectors, inseparable by any plane
    count -- the sf100 residual: one 3,546-member sub-bucket, 772M
    candidate pairs, 885 s) and switch to windowed pairing
    (_occ_capped_pairs): O(n*W) pairs instead of O(n^2), recall
    trade documented at the constants.
    """
    # precompute each vector's norm and bucket once (map-side, behind
    # the spread barrier) instead of per candidate pair; the oracle's
    # sqrt(dot(x,x)) is the exact same double regardless of when it's
    # computed, and the bucket expr shares LSH_PLANES literals
    # persisted: the _occ_capped_pairs occupancy probe (a bounded
    # action) materializes this scan, and the pairing job then reads
    # it from cache instead of re-scanning parquet + recomputing the
    # bucket dot products (released by the harnesses' per-query
    # clearCache, the file convention)
    bucketed = _spread(embeddings.select("vec_id", "label", "embedding")).select(
        "vec_id",
        "label",
        "embedding",
        l2_norm(F.col("embedding")).alias("norm"),
        lsh_bucket(F.col("embedding")).alias("bucket"),
    ).persist()
    # block-budget split: at most |labels| * 2^planes size rows,
    # broadcast back onto the members; the sub-key only diverges
    # from 0 inside oversized blocks, where it masks the extra-family
    # bucket to k = ceil(log2(block_n/budget)) bits (depth-k fanout,
    # _split_fanout) so sub-blocks stay ~budget-sized at any scale
    sizes = bucketed.groupBy("label", "bucket").agg(
        F.count(F.lit(1)).alias("block_n")
    ).select(
        "label",
        "bucket",
        "block_n",
        _split_fanout(F.col("block_n"), EMB_COS_BLOCK_BUDGET).alias("fanout"),
    )
    sub = F.when(
        F.col("block_n") > EMB_COS_BLOCK_BUDGET,
        lsh_bucket_extra(F.col("embedding")) % F.col("fanout"),
    ).otherwise(F.lit(0))
    normed = bucketed.join(F.broadcast(sizes), ["label", "bucket"]).select(
        "vec_id", "label", "bucket", sub.alias("sub"), "embedding", "norm"
    )
    from ..constants import SUB_OCC_CAP_MULT

    # tier-1 occupancy bound for _occ_capped_pairs: the max BLOCK size
    # bounds every sub-group's size; one tiny action over the sizes
    # agg (and the job it runs populates the bucketed cache the
    # pairing job then reads)
    max_block = sizes.agg(F.max("block_n")).first()[0] or 0
    return _occ_capped_pairs(
        normed,
        ["label", "bucket", "sub"],
        SUB_OCC_CAP_MULT * EMB_COS_BLOCK_BUDGET,
        group_bound=max_block,
    ).select("vec_a", "vec_b", "label", "cosine")


def semantic_dedup(embeddings: DataFrame) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding corpus with the coarse
    IVF centroids (the same 16-cell assignment as ann_ivf_topk,
    bit-pinned to the oracle), compute pairwise cosine WITHIN each
    cell only, and drop every vector that has a semantic near-twin
    (cosine >= COSINE_THRESHOLD) with a SMALLER vec_id -- the
    deterministic keep-first rule.  Output is the per-cell curation
    report: members, duplicate pairs, dropped, kept.

    This is the third blocking geometry in the embedding-dedup family
    and the one the SemDeDup paper argues for: exact hash (dedup_exact)
    misses paraphrases, LSH buckets (dedup_embedding_cosine) split
    semantic neighborhoods across planes; centroid cells FOLLOW the
    data's cluster structure, so paraphrase groups land in one block.

    Scale shape: cell assignment is map-side (Arrow-batched, no corpus
    shuffle); the pair join shuffles once on the cell id and expands
    O(sum of cell_size^2).  The centroid COUNT is the scale knob: K is
    chosen so the expected cell size stays bounded (SemDeDup uses 50k
    clusters for LAION-scale corpora; here K=16 fits the test corpus),
    making the quadratic term O(n * target_cell_size) -- linear in the
    corpus at fixed occupancy.  A cell that outgrows
    SEMDEDUP_CELL_BUDGET members splits by hyperplane sub-bucket
    (composing the two blocking geometries) before pairing -- SHIPPED
    since r6, depth-k since r10: the sub-key is 0 for cells within
    budget (exact SemDeDup geometry, all driver SFs) and, above it,
    the low-k-bit mask of the extra-plane bucket with
    k = ceil(log2(cell_n/budget)) (_split_fanout -- a fixed one-level
    split leaves sub-cell size linear in the corpus and merely defers
    the quadratic a decade, the r10 sf100 lesson from the cosine op's
    LSH geometry), so EXPECTED sub-cell size stays ~budget however
    the corpus grows.  The
    split also fixes the parallelism cliff: a 16-key pair join runs
    at most 16 tasks wide, and the oversized-cell expansion
    serialized onto single tasks (measured sf1: 21.2 s -> see
    PLANS.md; pair count 112M -> bounded).  Recall trade: cosine
    twins straddling a sub-bucket inside an oversized cell are
    missed, the same trade the LSH geometry (dedup_embedding_cosine)
    makes globally -- and the budget only engages where exact
    intra-cell pairing is already infeasible.
    """
    from .similarity import _assign_cells, _collect_centroids

    cents = _collect_centroids(embeddings)
    if not cents:  # empty corpus -> empty report, stable schema
        return embeddings.sparkSession.createDataFrame(
            [],
            "cell bigint, n_vecs bigint, n_dup_pairs bigint, "
            "n_dropped bigint, n_kept bigint",
        )
    from ..constants import SEMDEDUP_CELL_BUDGET

    # one cached cell-assignment scan feeds sizes + the pair join
    # (released by the repo's per-query clearCache convention)
    cells = (
        _assign_cells(embeddings, cents)
        .select("vec_id", "embedding", "cell")
        .persist()
    )
    # cell-budget split: K rows, broadcast back onto the members; the
    # sub-key only diverges from 0 inside oversized cells, where the
    # depth-k fanout (_split_fanout) masks the extra-plane bucket so
    # sub-cells stay ~budget-sized at any corpus size
    sizes = cells.groupBy("cell").agg(
        F.count(F.lit(1)).alias("cell_n")
    ).select(
        "cell",
        "cell_n",
        _split_fanout(F.col("cell_n"), SEMDEDUP_CELL_BUDGET).alias("fanout"),
    )
    sub = F.when(
        F.col("cell_n") > SEMDEDUP_CELL_BUDGET,
        lsh_bucket_extra(F.col("embedding")) % F.col("fanout"),
    ).otherwise(F.lit(0))
    # norm once per vector, map-side; the oracle's inline sqrt(dot(x,x))
    # is the identical double (same fold order), when-computed is free
    normed = cells.join(F.broadcast(sizes), "cell").select(
        "vec_id",
        "cell",
        sub.alias("sub"),
        "embedding",
        l2_norm(F.col("embedding")).alias("norm"),
    )
    from ..constants import SUB_OCC_CAP_MULT

    # r11 residual occupancy cap (shared tail, _occ_capped_pairs):
    # sub-cells the depth-k split could not rebound (sign-correlated
    # members) pair windowed instead of all-pairs -- this op is the
    # cap's primary target, its post-depth-k sf100 run still exceeded
    # a 580 s cut-off on one hot sub-cell
    # tier-1 occupancy bound: max CELL size bounds every sub-cell;
    # the action reads the persisted cells frame (and populates it)
    max_cell = sizes.agg(F.max("cell_n")).first()[0] or 0
    pairs = _occ_capped_pairs(
        normed,
        ["cell", "sub"],
        SUB_OCC_CAP_MULT * SEMDEDUP_CELL_BUDGET,
        group_bound=max_cell,
    ).select("cell", "vec_b", "cosine")
    # per-cell totals are exactly the split-sizes aggregate -- reuse it
    # instead of a third cell-assignment scan
    totals = sizes.select("cell", F.col("cell_n").alias("n_vecs"))
    dup = pairs.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_dup_pairs"),
        F.count_distinct("vec_b").alias("n_dropped"),
    )
    return totals.join(dup, "cell", "left").select(
        F.col("cell").cast("bigint").alias("cell"),
        "n_vecs",
        F.coalesce("n_dup_pairs", F.lit(0)).cast("bigint").alias("n_dup_pairs"),
        F.coalesce("n_dropped", F.lit(0)).cast("bigint").alias("n_dropped"),
        (F.col("n_vecs") - F.coalesce("n_dropped", F.lit(0)))
        .cast("bigint")
        .alias("n_kept"),
    )


def dedup_simhash_pairs(documents: DataFrame) -> DataFrame:
    """Hamming-verified SimHash near-dup pairs over the 64-bit
    signature with multi-table band blocking: candidates share at
    least one EXACT 16-bit band, then the full-width hamming distance
    (sum of per-band bit_count(xor) -- JVM-side, codegen'd) verifies
    at <= SIMHASH_HAM_MAX.

    Recall is EXACT at this cutoff: 3 differing bits can dirty at
    most 3 of the 4 disjoint bands (pigeonhole), so every qualifying
    pair collides in some band table.  Candidate generation is one
    shuffle on (band_idx, band_value) -- never O(n^2); see
    constants.py for the 6-block/20-table widening that keeps buckets
    ~O(1) at 10^10 docs.
    """
    from ..constants import SIMHASH_HAM_MAX, SIMHASH_N_BANDS

    # the full signature rides ALONG the exploded band rows (4 extra
    # ints) so hamming verifies INSIDE the band join and the distinct
    # runs over survivors only.  Verify-then-distinct beats
    # distinct-then-join-sigs ~2x on clustery corpora, where band
    # collisions (candidate slots) vastly outnumber verified pairs --
    # the expensive shuffle shrinks from |collisions| to |pairs|.
    # persist: the signature pipeline (scan + md5 + 64-way agg) feeds
    # BOTH sides of the self-join; without it the whole chain runs
    # twice (measured ~2x)
    exploded = (
        _simhash_bands(documents)
        .persist()
        .select(
            "doc_id",
            *[f"b{b}" for b in range(SIMHASH_N_BANDS)],
            F.posexplode(
                F.array(*[F.col(f"b{b}") for b in range(SIMHASH_N_BANDS)])
            ).alias("band_idx", "band_val"),
        )
    )
    a = exploded.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"b{b}").alias(f"a{b}") for b in range(SIMHASH_N_BANDS)],
        "band_idx",
        "band_val",
    )
    b = exploded.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"b{b}").alias(f"bb{b}") for b in range(SIMHASH_N_BANDS)],
        F.col("band_idx").alias("band_idx_b"),
        F.col("band_val").alias("band_val_b"),
    )
    ham = sum(
        F.bit_count(F.col(f"a{b}").bitwiseXOR(F.col(f"bb{b}")))
        for b in range(SIMHASH_N_BANDS)
    )
    return (
        a.join(
            b,
            (F.col("band_idx") == F.col("band_idx_b"))
            & (F.col("band_val") == F.col("band_val_b"))
            & (F.col("doc_a") < F.col("doc_b"))
            & (ham <= F.lit(SIMHASH_HAM_MAX)),
        )
        .select("doc_a", "doc_b", ham.cast("int").alias("hamming"))
        .distinct()
    )


def source_url_dedup(documents: DataFrame) -> DataFrame:
    """Cross-source syndication matrix: for every pair of sources,
    how many distinct content FINGERPRINTS they share -- the audit
    that finds mirrored/scraped-twice feeds before per-doc dedup even
    runs (dropping a whole syndicated source is cheaper than pairwise
    dedup of its documents).  (No reference analog -- training-data
    mandate; `source` plays the URL-domain role.)

    Keyed on the min-shingle-hash fingerprint (doc_fingerprint's
    winnowing-lite key), not md5(text): syndicated feeds re-serialize
    with whitespace/boilerplate drift, so exact hashes under-count
    exactly the overlap this audit exists to find.

    Scale shape: the corpus reduces map-side to distinct
    (fingerprint, source) -- one shuffle on the fingerprint.  The
    pair self-join runs per fingerprint, and its expansion is bounded
    by the number of sources sharing that fingerprint (<= |sources|,
    a dim cardinality), never by corpus size.  Output is at most
    |sources|^2 rows -- a dim-sized matrix.
    """
    fp = F.array_min(F.transform(word_shingles(F.col("toks")), F.md5))
    # persist: the distinct (fingerprint, source) frame feeds BOTH
    # sides of the self-join; without it the whole shingle+minhash
    # pipeline runs twice (measured 6.6s -> ~2s at sf0.1).
    # Deliberately NOT unpersisted here: the returned plan is lazy, so
    # the cache must outlive this function; blocks are LRU-evictable
    # and the batch harnesses clearCache() between queries.
    hs = (
        documents.select("source", tokens(F.col("text")).alias("toks"))
        .where(F.size("toks") >= 3)
        .repartition(documents.sparkSession.sparkContext.defaultParallelism)
        .select(fp.alias("fingerprint"), "source")
        .distinct()
        .persist()
    )
    a = hs.select("fingerprint", F.col("source").alias("source_a"))
    b = hs.select(
        F.col("fingerprint").alias("fp_b"), F.col("source").alias("source_b")
    )
    return (
        a.join(
            b,
            (F.col("fingerprint") == F.col("fp_b"))
            & (F.col("source_a") < F.col("source_b")),
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_shared_fps"),
            F.min("fingerprint").alias("min_shared_fp"),
        )
    )


def ngram_containment(documents: DataFrame) -> DataFrame:
    """Asymmetric n-gram containment near-dup pairs:
    |A∩B| / min(|A|,|B|) over distinct word CONTAINMENT_NGRAM_K-grams.
    Containment catches quote/subset duplication -- a short doc fully
    embedded in a long one scores 1.0 here but near 0 on Jaccard,
    whose union denominator the long doc inflates.  (No reference
    analog -- training-data mandate; the measure is Broder's
    containment, the one CC-scale dedup pipelines pair with resemblance.)

    Scale shape: candidates come from an inverted index on the gram
    (explode -> self-join on md5(gram)), shared-gram counts by
    co-occurrence counting -- the dedup_ngram_jaccard shape, one
    shuffle whose expansion is bounded per gram.  Grams with document
    frequency > CONTAINMENT_MAX_DF are dropped from the INDEX ONLY
    (boilerplate grams are quadratic candidate generators with no
    signal; numerator loses at most those grams, denominators stay
    exact) -- that cap is what bounds the join at 100 TB.
    """
    from ..constants import (
        CONTAINMENT_MAX_DF,
        CONTAINMENT_NGRAM_K,
        CONTAINMENT_THRESHOLD,
    )

    # persist feeds the index explode AND the per-doc gram sizes;
    # deliberately not unpersisted (lazy plan outlives the function;
    # LRU-evictable, harnesses clearCache() between queries)
    g = (
        documents.select("doc_id", tokens(F.col("text")).alias("toks"))
        .where(F.size("toks") >= CONTAINMENT_NGRAM_K)
        .repartition(documents.sparkSession.sparkContext.defaultParallelism)
        .select(
            "doc_id",
            word_shingles(F.col("toks"), k=CONTAINMENT_NGRAM_K).alias("grams"),
        )
        .persist()
    )
    # inverted index on the hashed gram; exchanges carry a fixed-width
    # 32-char key, never raw 5-gram text
    e = g.select("doc_id", F.explode("grams").alias("gram")).select(
        "doc_id", F.md5("gram").alias("gram_hash")
    )
    df_kept = (
        e.groupBy("gram_hash")
        .agg(F.count(F.lit(1)).alias("df"))
        .where((F.col("df") > 1) & (F.col("df") <= CONTAINMENT_MAX_DF))
        .select("gram_hash")
    )
    ek = e.join(df_kept, "gram_hash")
    a = ek.select(F.col("doc_id").alias("doc_a"), "gram_hash")
    b = ek.select(
        F.col("doc_id").alias("doc_b"), F.col("gram_hash").alias("gram_hash_b")
    )
    inter = (
        a.join(
            b,
            (F.col("gram_hash") == F.col("gram_hash_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sizes = g.select("doc_id", F.size("grams").alias("n_grams"))
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_grams").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_grams").alias("n_b"))
    containment = F.col("n_inter") / F.least("n_a", "n_b")
    return (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a", "doc_b", "n_inter", rnd(containment, 6).alias("containment")
        )
        .where(F.col("containment") >= CONTAINMENT_THRESHOLD)
    )


def minhash_jaccard_estimate(documents: DataFrame) -> DataFrame:
    """Sketch-calibration audit: for every LSH candidate pair, the
    MinHash-ESTIMATED Jaccard (signature agreement rate -- the
    unbiased estimator the sketch exists to provide) next to the
    exact shingle Jaccard and the absolute error.  This is the table
    that justifies (or indicts) the sketch parameters before anyone
    trusts banded dedup at corpus scale.  (No reference analog --
    training-data mandate.)

    Scale shape: identical to dedup_minhash_pairs -- bucketed
    candidate generation, per-pair verification bounded by the
    candidate set.  Estimates are exact rationals (matches / SIGS),
    so both engines agree bit-for-bit.
    """
    sh = _shingle_digests(documents)
    cand = _band_candidate_pairs(_doc_bands_from(sh))
    # digest sets ride the join (see _shingle_digests); the signature
    # arrays must ride too, so the sides are built here rather than
    # through _verify_sides
    sa = sh.select(
        F.col("doc_id").alias("doc_a"),
        F.col("dig").alias("sh_a"),
        F.col("sig").alias("sig_a"),
    )
    sb = sh.select(
        F.col("doc_id").alias("doc_b"),
        F.col("dig").alias("sh_b"),
        F.col("sig").alias("sig_b"),
    )
    est = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda b: b
        )
    ) / F.lit(MINHASH_SIGS)
    jac = _jac_h()
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            rnd(est, 6).alias("est_jaccard"),
            rnd(jac, 6).alias("exact_jaccard"),
            rnd(F.abs(est - jac), 6).alias("abs_err"),
        )
    )


def near_dup_rate_by_source(documents: DataFrame) -> DataFrame:
    """Per-source near-duplicate incidence: what share of each
    source's documents participate in at least one VERIFIED near-dup
    pair -- the report that ranks sources by redundancy before a
    curation pass decides which feeds to downsample.  (No reference
    analog -- training-data mandate.)

    Scale shape: the pair set is already bucket-bounded
    (dedup_minhash_pairs); flagged doc ids reduce to a distinct set
    (far smaller than the corpus) and the membership test is a
    LEFT SEMI join -- Spark needs no wide row, and at 100 TB the
    flagged-id side is broadcast-or-shuffle by AQE's choice.  Final
    agg is per source, a dim key.
    """
    pairs = dedup_minhash_pairs(documents)
    dup_docs = (
        pairs.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
        .distinct()
    )
    docs = documents.select("doc_id", "source")
    flagged = (
        docs.join(dup_docs, "doc_id", "left_semi")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_near_dup_docs"))
    )
    totals = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        totals.join(flagged, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_near_dup_docs", F.lit(0)).alias("n_near_dup_docs"),
            rnd(
                F.coalesce("n_near_dup_docs", F.lit(0)) / F.col("n_docs"), 6
            ).alias("dup_rate"),
        )
    )


def near_dup_graph_degree(documents: DataFrame) -> DataFrame:
    """Degree distribution of the verified near-dup graph: how many
    docs have 1, 2, 3... near-duplicates -- the shape diagnostic that
    distinguishes isolated pair-dups (degree 1 everywhere) from
    boilerplate families (heavy-tail degrees), which need different
    dedup strategies.  (No reference analog -- training-data
    mandate.)

    Scale shape: pairs are bucket-bounded (dedup_minhash_pairs);
    degrees are one count per flagged doc (map-side partial agg), and
    the histogram aggregates the |flagged docs| frame by degree --
    output is bounded by the max degree.
    """
    pairs = dedup_minhash_pairs(documents)
    degrees = (
        pairs.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return degrees.groupBy("degree").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_doc_id"),
    )


def dedup_threshold_sweep(documents: DataFrame) -> DataFrame:
    """Exact-Jaccard histogram over the LSH candidate pairs: how many
    near-dup pairs a given threshold tau would flag -- the tuning
    curve consulted before fixing JACCARD_THRESHOLD for a corpus
    (too low floods the cluster step, too high leaks boilerplate).
    One row per occupied similarity bin, with the descending
    cumulative pair count = pairs a sweep at tau = bin_lo captures.
    (No reference analog -- training-data mandate.)

    Scale shape: identical candidate bound to dedup_minhash_pairs
    (band shuffle, verify inside buckets); the histogram collapses
    the pair set to <= THRESHOLD_SWEEP_BINS+1 rows map-side, and the
    cumulative window runs over that tiny frame.  Numeric
    determinism: the bin index floor(inter*BINS/union) divides small
    exact integers -- one IEEE division, identical in both engines.
    """
    from ..constants import THRESHOLD_SWEEP_BINS as BINS

    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    binned = (
        _minhash_candidates(documents)
        .select(
            F.floor(inter * F.lit(BINS) / union).cast("int").alias("bin"),
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    from pyspark.sql import Window

    w_desc = (
        Window.partitionBy()
        .orderBy(F.col("bin").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy()
    return binned.select(
        "bin",
        rnd(F.col("bin") / F.lit(float(BINS)), 4).alias("bin_lo"),
        "n_pairs",
        F.sum("n_pairs").over(w_desc).cast("bigint").alias("cum_pairs_at_tau"),
        rnd(F.col("n_pairs") / F.sum("n_pairs").over(w_all), 6).alias("pair_share"),
    )


def near_dup_pagerank(documents: DataFrame) -> DataFrame:
    """Boilerplate centrality: PAGERANK_ITERS damped PageRank
    iterations over the verified near-dup graph.  High-rank docs sit
    at the center of large duplication families (site templates,
    licence blocks, mirrored feeds) -- the curation ranking of WHAT
    to deduplicate first, where raw degree (near_dup_graph_degree)
    over-counts leaf-heavy stars.  (No reference analog --
    training-data mandate.)

    Scale shape: edges are the bucket-bounded verified pairs (same
    candidate bound as dedup_minhash_pairs), symmetrized once and
    persisted; each iteration is one join + one grouped fold on the
    edge list -- O(iters x |edges|) total, never corpus-sized.  The
    graph-order scalar |V| rides a broadcast 1-row frame (the Q22
    idiom), so plan construction triggers no job.  Numeric
    determinism: per-node contribution sums fold in ASCENDING SORTED
    order (aggregate(array_sort(collect_list(..))) -- group size is
    node degree, bounded by the banding), teleport and damping apply
    in one fixed expression order, and every division is a single
    IEEE op -- the oracle's unrolled CTEs reproduce each iteration
    bit-for-bit.
    """
    from ..constants import PAGERANK_DAMPING as D
    from ..constants import PAGERANK_ITERS

    pairs = dedup_minhash_pairs(documents).select("doc_a", "doc_b")
    # lineage cut BEFORE the loop (not persist): the edge frame is
    # referenced in every iteration's join; a lazy plan would carry
    # the whole shingle/band pipeline into each round's analysis
    # (the measured 8x round-1 pathology -- see _lineage_cut)
    # no distinct(): dedup_minhash_pairs emits distinct doc_a < doc_b
    # pairs, so the symmetric union is duplicate-free by construction
    # (the r13 sf100 probe costed the same redundant distinct in the
    # bigstar prelude at ~200 s -- a full edge-list shuffle)
    edges = _lineage_cut(
        pairs.union(
            pairs.select(
                F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
            )
        )
        .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    n1 = F.broadcast(deg.agg(F.count(F.lit(1)).alias("n_nodes")))
    # init: pr = 1/|V| for every node (uniform start)
    pr = deg.crossJoin(n1).select(
        "src", "deg", "n_nodes", (F.lit(1.0) / F.col("n_nodes")).alias("pr")
    )
    for _ in range(PAGERANK_ITERS):
        contrib = edges.join(
            pr.select("src", (F.col("pr") / F.col("deg")).alias("c")), "src"
        ).select(F.col("dst").alias("src"), "c")
        sums = contrib.groupBy("src").agg(
            F.aggregate(
                F.array_sort(F.collect_list("c")), F.lit(0.0), lambda a, x: a + x
            ).alias("s")
        )
        # every node of this graph has degree >= 1, hence in-edges:
        # the left join + coalesce only guards degenerate inputs
        pr = (
            pr.select("src", "deg", "n_nodes")
            .join(sums, "src", "left")
            .select(
                "src",
                "deg",
                "n_nodes",
                (
                    (F.lit(1.0) - F.lit(D)) / F.col("n_nodes")
                    + F.lit(D) * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("pr"),
            )
        )
    return pr.select(
        F.col("src").alias("doc_id"),
        F.col("deg").cast("bigint").alias("degree"),
        rnd(F.col("pr"), 6).alias("pagerank"),
    )


def near_dup_triangles(documents: DataFrame) -> DataFrame:
    """Triangle census of the verified near-dup graph: one summary
    row with vertex/edge counts, open-wedge count, triangle count and
    the global clustering coefficient 3*triangles/wedges.  High
    clustering = boilerplate families (mirror farms, templated pages)
    where transitive closure is about to merge everything; low
    clustering = sparse accidental pairs a cheap keep-one rule
    handles.  The triage number consulted before choosing between
    dedup_keep_canonical and full connected components.  (No
    reference analog -- training-data mandate.)

    Scale shape: edges are the bucket-bounded verified pairs
    (dedup_minhash_pairs, doc_a < doc_b canonical orientation).  The
    wedge join is edge-to-edge on the shared MIDDLE vertex -- work is
    sum(deg^2), bounded because near-dup degrees are bounded by
    near-dup family sizes, never corpus size; the closure check is
    one more equi-join on the (low, high) endpoint key.  Each
    triangle u<v<w is counted exactly once (both joins preserve the
    ascending orientation).  All counts are exact integers; the one
    clustering division is rounded in both engines.

    EAGER: unlike the rest of the registry this builder EXECUTES the
    census at construction time (the summary is one bounded row, so
    it is collected while the edge cache is hot and the cache is
    released deterministically — including on failure — instead of
    leaning on LRU eviction).  Callers doing plan-only inspection pay
    the full run, and runtime errors surface here rather than at
    action time; use ``dedup_minhash_pairs`` directly if you need the
    lazy edge list.
    """
    # persist: the edge list feeds degrees, both wedge sides and the
    # closure probe.  The summary is ONE bounded row, so it is
    # materialized eagerly below and the cache released before
    # returning -- long-lived sessions don't accumulate edge frames.
    e = (
        dedup_minhash_pairs(documents)
        .select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .persist()
    )
    deg = (
        e.select(F.explode(F.array("u", "v")).alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    vert_wedges = deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vertices"),
        F.sum(F.col("deg") * (F.col("deg") - 1) / 2)
        .cast("bigint")
        .alias("n_wedges"),
    )
    edges_cnt = e.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    paths = e.join(
        e.select(F.col("u").alias("v"), F.col("v").alias("w")), "v"
    ).select("u", "w")
    tri_cnt = paths.join(
        e.select("u", F.col("v").alias("w")), ["u", "w"]
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    summary = (
        vert_wedges.crossJoin(F.broadcast(edges_cnt))
        .crossJoin(F.broadcast(tri_cnt))
        .select(
            "n_vertices",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(
                F.col("n_wedges") > 0,
                rnd(F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("global_clustering"),
        )
    )
    # Bounded model-artifact collect (1 row): forces the census while
    # the edge cache is hot, then frees it deterministically instead
    # of leaning on LRU eviction in long-lived sessions -- including
    # on the failure path (a crashed census must not strand the cache).
    try:
        rows = summary.collect()
    finally:
        e.unpersist()
    return documents.sparkSession.createDataFrame(rows, summary.schema)


def dedup_soft_weights(documents: DataFrame) -> DataFrame:
    """Soft exact-dedup accounting: DOWNWEIGHT duplicates instead of
    dropping them (each exact-duplicate class contributes one doc's
    worth of sampling mass, split evenly -- weight = 1/|class|), the
    SlimPajama-style alternative to a hard keep-list when repeated
    docs should still be seen, just not over-sampled.  Reports per
    source: docs, distinct classes touched, raw vs effective
    (weight-adjusted) token counts, and the retained sampling mass.

    Scale shape: class size rides a count() WINDOW over md5(text) --
    ONE shuffle on the 32-char hash, no groupBy+join back (the
    curation_tags idiom: a join would shuffle the corpus twice); the
    per-source rollup is a second small agg shuffle.  Weights are
    exact rationals over class counts, rounded once at report time.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("text_hash")
    per_doc = documents.select(
        "source",
        F.md5("text").alias("text_hash"),
        F.size(tokens(F.col("text"))).alias("n_tokens"),
    ).withColumn("class_size", F.count(F.lit(1)).over(w))
    weight = F.lit(1.0) / F.col("class_size")
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("text_hash").alias("n_classes"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        rnd(F.sum(F.col("n_tokens") * weight), 4).alias("effective_tokens"),
        rnd(F.sum(weight), 4).alias("retained_mass"),
    )


def dedup_substring_spans(documents: DataFrame) -> DataFrame:
    """Cross-doc EXACT-SUBSTRING span dedup: maximal runs of at least
    SUBSTR_RUN_MIN_TOKENS tokens shared verbatim between two docs,
    with each run's start position in both -- the span-granular
    member of the dedup family (Lee et al. 2022, arXiv:2107.06499:
    exact substring duplication is what their suffix-array pass
    removes; full-doc hashing misses a copied paragraph inside an
    otherwise-novel doc, and MinHash only says THAT docs overlap, not
    WHERE).  Output: (doc_a, doc_b, a_start, b_start, run_tokens),
    one row per maximal shared run, doc_a < doc_b, positions 1-based.
    Complements repeated_ngram_spans (INTRA-doc runs) and
    contam_span_report (corpus-vs-eval spans) with the corpusxcorpus
    case.  (No reference analog -- training-data mandate.)

    How runs materialize without a suffix array: a shared run of L
    tokens is exactly L-K+1 consecutive matching K-grams (K =
    DECONTAM_NGRAM_K, THE shared positional gram definition --
    pipeline._gram_stream) on one pos_a - pos_b DIAGONAL of the match
    matrix, so maximal runs are gaps-and-islands per (pair, diagonal):
    island id = pos_a - row_number(), one window partitioned by the
    pair+diagonal key (never a global sort).  pos_a is unique within
    a partition (pos_a determines pos_b on a diagonal), so islands
    are exact.

    Scale shape: gram stream is O(tokens) map-side; cross-doc match
    pairs materialize from ONE hash shuffle on the gram -- a groupBy
    collecting each gram's (doc_id, pos) occurrence list, HARD-capped
    at SUBSTR_GRAM_MAX_OCC occurrences, with the pairs generated
    MAP-SIDE by an array-HOF cross of the list against itself (no
    join-back, no self-join, no persist: the r8 sf10 probe measured
    the former occ-filter + gram self-join plan spending 58 of 75 s
    shuffling the 10x gram stream three times -- this shape shuffles
    it once; probe wall-clock 123.9 -> 16.8 s at sf10 and 6.6 -> 2.4 s
    at sf1, identical output, cap semantics unchanged).
    The cap is on occurrences, NOT document frequency: df alone
    leaves the pairing quadratic in within-doc repetitions (two docs
    each repeating one gram 1000x have df=2 but 10^6 match rows),
    while the occurrence cap bounds per-gram fan-out at MAX_OCC^2
    regardless of how the occurrences distribute.  Capped grams are
    boilerplate/repetition; a run containing one splits at it, the
    documented recall trade both engines apply identically (the
    suffix-array equivalent at 100 TB is the same frequency screen).
    Everything after the gram shuffle is O(matched gram pairs); a
    pair sharing the same text at several alignments emits one row
    per (diagonal) alignment, the suffix-array-like output shape.
    All-integer output, no rounding.
    """
    from pyspark.sql import Window

    from ..constants import SUBSTR_GRAM_MAX_OCC, SUBSTR_RUN_MIN_TOKENS
    from .pipeline import _gram_pairs

    _toks, grams = _gram_pairs(documents)
    g = grams.select("doc_id", "pos", "gram")
    occ_lists = (
        g.groupBy("gram")
        .agg(F.collect_list(F.struct("doc_id", "pos")).alias("os"))
        .where(
            (F.size("os") >= 2) & (F.size("os") <= SUBSTR_GRAM_MAX_OCC)
        )
    )
    # ordered cross of the occurrence list with itself (doc_a < doc_b
    # strictly, so intra-doc repeats never pair) -- the exact row set
    # the capped gram-equality self-join produced
    pair_structs = F.flatten(
        F.transform(
            F.col("os"),
            lambda u: F.transform(
                F.filter(F.col("os"), lambda v: v["doc_id"] > u["doc_id"]),
                lambda v: F.struct(
                    u["doc_id"].alias("doc_a"),
                    v["doc_id"].alias("doc_b"),
                    u["pos"].alias("pos_a"),
                    v["pos"].alias("pos_b"),
                ),
            ),
        )
    )
    matches = (
        occ_lists.select(F.explode(pair_structs).alias("p"))
        .select("p.doc_a", "p.doc_b", "p.pos_a", "p.pos_b")
        .withColumn("diag", F.col("pos_a") - F.col("pos_b"))
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    islands = matches.select(
        "doc_a",
        "doc_b",
        "diag",
        "pos_a",
        "pos_b",
        (F.col("pos_a") - F.row_number().over(w)).alias("island"),
    )
    from ..constants import DECONTAM_NGRAM_K

    return (
        islands.groupBy("doc_a", "doc_b", "diag", "island")
        .agg(
            F.min("pos_a").cast("bigint").alias("a_start"),
            F.min("pos_b").cast("bigint").alias("b_start"),
            (F.count(F.lit(1)) + F.lit(DECONTAM_NGRAM_K - 1))
            .cast("bigint")
            .alias("run_tokens"),
        )
        .where(F.col("run_tokens") >= SUBSTR_RUN_MIN_TOKENS)
        .select("doc_a", "doc_b", "a_start", "b_start", "run_tokens")
    )


def dedup_sorted_neighborhood(documents: DataFrame) -> DataFrame:
    """Multi-pass sorted-neighborhood near-dup pairs (Hernandez &
    Stolfo 1995, the classic record-linkage blocking): sort docs by a
    normalized key, compare each to its SNM_WINDOW successors, verify
    candidates by char-trigram Jaccard.  Two passes -- text prefix and
    reversed-text prefix (suffix) -- union their candidates, the
    standard recall recovery for near-dups that differ early in the
    string.  Complementary to the hash familes: DETERMINISTIC,
    order-based candidate generation with a hard per-doc candidate
    bound (2 keys x SNM_WINDOW), no band-collision luck.

    Scale shape: each pass is one shuffle on the block prefix + a
    bounded within-block sort (window lead, never a self-join);
    candidate count is <= 2*SNM_WINDOW per doc BY CONSTRUCTION, so
    the verify join (per-pair trigram intersect on the tiny candidate
    set) is linear in corpus size.  The known SNM trade -- near-dups
    falling in different blocks are missed -- is exactly what the
    multi-pass key set and the LSH families cover from the other side.
    """
    from pyspark.sql import Window
    from ..constants import (
        CHAR_NGRAM_K,
        SNM_BLOCK_LEN,
        SNM_KEY_LEN,
        SNM_WINDOW,
    )

    keyed = documents.where(F.length("text") >= CHAR_NGRAM_K).select(
        "doc_id",
        F.lower(F.substring("text", 1, SNM_KEY_LEN)).alias("k1"),
        F.lower(F.substring(F.reverse(F.col("text")), 1, SNM_KEY_LEN)).alias("k2"),
    )
    passes = []
    for key in ("k1", "k2"):
        base = keyed.select(
            "doc_id",
            F.col(key).alias("key"),
            F.substring(F.col(key), 1, SNM_BLOCK_LEN).alias("blk"),
        )
        wspec = Window.partitionBy("blk").orderBy("key", "doc_id")
        # ONE projection computes every lead over the same window spec
        # (one sort per pass), then melts -- Spark does not dedup
        # common subtrees across union branches, so a branch per lag
        # would re-shuffle and re-sort the keyed frame 2x per key
        leads = base.select(
            "doc_id",
            F.array(
                *[
                    F.lead("doc_id", lag).over(wspec)
                    for lag in range(1, SNM_WINDOW + 1)
                ]
            ).alias("nbs"),
        )
        passes.append(
            leads.select("doc_id", F.explode("nbs").alias("nb"))
            .where(F.col("nb").isNotNull())
            .select(
                F.least(F.col("doc_id"), F.col("nb")).alias("doc_a"),
                F.greatest(F.col("doc_id"), F.col("nb")).alias("doc_b"),
            )
        )
    cands = passes[0].unionByName(passes[1]).distinct()
    g = _spread(documents.where(F.length("text") >= CHAR_NGRAM_K)).select(
        "doc_id", char_ngrams(F.col("text")).alias("grams")
    )
    a = g.select(F.col("doc_id").alias("doc_a"), F.col("grams").alias("ga"))
    b = g.select(F.col("doc_id").alias("doc_b"), F.col("grams").alias("gb"))
    inter = F.size(F.array_intersect("ga", "gb"))
    union = F.size(F.array_distinct(F.concat("ga", "gb")))
    jac = rnd(inter / union, 6)
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= NGRAM_JACCARD_THRESHOLD)
    )


def cross_source_dup_matrix(documents: DataFrame) -> DataFrame:
    """Source-pair duplication matrix: for every unordered pair of
    sources (diagonal included), how many VERIFIED near-dup pairs
    (dedup_minhash_pairs' bound) straddle them, and each cell's share
    of all verified pairs -- the curation report that tells you WHICH
    feeds mirror each other (site scrapes vs their CDN copies, forum
    dumps vs aggregators) before deciding what to drop wholesale.
    near_dup_rate_by_source answers "how redundant is each source";
    this answers "redundant AGAINST WHAT".  (No reference analog --
    training-data mandate.)

    Scale shape: the pair set is bucket-bounded (never all-pairs);
    labeling is two joins against a 2-column doc projection (AQE
    broadcasts the sparse side); least/greatest canonicalizes the
    unordered cell; final agg groups by a source-pair key, dim^2
    rows at most.  The share denominator rides a broadcast 1-row
    aggregate (the Q22 scalar-subquery idiom).
    """
    pairs = dedup_minhash_pairs(documents).select("doc_a", "doc_b")
    src = documents.select("doc_id", "source")
    labeled = (
        pairs.join(
            src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")),
            "doc_a",
        )
        .join(
            src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")),
            "doc_b",
        )
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
    )
    # cells feeds BOTH the share denominator and the output: persist
    # the (dim^2-bounded) frame so the minhash verify pipeline above
    # it runs once, not twice (measured 11.5s -> ~2s at sf0.001)
    cells = labeled.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs")
    ).persist()
    total = F.broadcast(
        cells.agg(F.sum("n_pairs").cast("bigint").alias("n_total"))
    )
    return cells.crossJoin(total).select(
        "source_a",
        "source_b",
        "n_pairs",
        rnd(F.col("n_pairs") / F.col("n_total"), 6).alias("pair_share"),
    )


def minhash_band_collision_stats(documents: DataFrame) -> DataFrame:
    """LSH tuning report: per band index, bucket occupancy and the
    exact candidate-pair workload sum(k*(k-1)/2) the band join will
    generate -- the number you read BEFORE running a 100 TB dedup to
    size the verify stage (and the signal to widen bands when one
    hot bucket would dominate: max_bucket^2 is the worst single-key
    join task).  (No reference analog -- training-data mandate.)

    Scale shape: one groupBy(band_idx, band_hash) count -- map-side
    partials over the already-banded frame -- then a 4-row (N_BANDS)
    rollup; no pair is ever materialized, which is the point: the
    report costs O(docs x bands), the dedup it predicts costs
    O(sum k^2).
    """
    per_bucket = _doc_bands(documents).groupBy("band_idx", "band_hash").agg(
        F.count(F.lit(1)).alias("k")
    )
    return per_bucket.groupBy("band_idx").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.sum("k").cast("bigint").alias("n_docs"),
        F.sum((F.col("k") > 1).cast("int")).cast("bigint").alias("n_colliding_buckets"),
        F.sum((F.col("k") * (F.col("k") - 1) / 2).cast("bigint")).alias(
            "candidate_pairs"
        ),
        F.max("k").cast("bigint").alias("max_bucket"),
    )


def dup_quality_report(documents: DataFrame) -> DataFrame:
    """Quality x duplication interaction per source: the composite
    quality score (text._doc_quality) averaged separately over docs
    that participate in a verified near-dup pair vs docs that don't
    -- the empirical check of the "duplicates are boilerplate"
    assumption that justifies aggressive dedup.  If dup quality ~
    clean quality for a source, its duplication is mirroring, not
    junk, and dedup should keep-canonical rather than down-weight.
    (No reference analog -- training-data mandate.)

    Scale shape: flagged ids reduce to a sparse distinct set (left
    join, AQE broadcast); quality is a map-side expression over one
    tokenize pass; one per-source agg.  Averages of empty sides stay
    NULL (a source with no dups has no dup average), matching SQL
    semantics cross-engine.
    """
    from .text import _doc_quality

    pairs = dedup_minhash_pairs(documents).select("doc_a", "doc_b")
    dup_docs = (
        pairs.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    toks = F.col("toks")
    scored = documents.select(
        "doc_id", "source", tokens(F.col("text")).alias("toks")
    ).select(
        "doc_id",
        "source",
        F.when(F.size(toks) > 0, _doc_quality(toks)).otherwise(F.lit(0.0)).alias(
            "quality"
        ),
    )
    flagged = scored.join(dup_docs, "doc_id", "left").select(
        "source", "quality", F.coalesce("is_dup", F.lit(0)).alias("is_dup")
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("is_dup").cast("bigint").alias("n_dup_docs"),
        rnd(F.avg(F.when(F.col("is_dup") == 1, F.col("quality"))), 4).alias(
            "avg_dup_quality"
        ),
        rnd(F.avg(F.when(F.col("is_dup") == 0, F.col("quality"))), 4).alias(
            "avg_clean_quality"
        ),
    )


def fuzzy_decontam(documents: DataFrame) -> DataFrame:
    """FUZZY benchmark decontamination: corpus docs that are MinHash
    NEAR-duplicates of an eval-source doc (banded candidates + exact
    shingle-Jaccard verify at FUZZY_DECONTAM_THRESHOLD, a lower bar
    than the dup threshold) -- the Llama-style complement of the
    exact word-8-gram gate in pipeline.benchmark_decontam, catching
    paraphrased / lightly-edited eval leakage that exact n-grams
    miss.  (No reference analog -- training-data mandate.)

    Scale shape: the dedup_incremental asymmetry with the eval set as
    the 'existing' side -- candidates are corpus-band x eval-band
    collisions only, so the band join's build side is the (small)
    eval suite and cost scales with the corpus scan, never
    corpus x corpus; the verify join touches candidate rows only.
    """
    from ..constants import EVAL_SOURCE, FUZZY_DECONTAM_THRESHOLD

    sh = _shingle_digests(documents)
    src = documents.select("doc_id", (F.col("source") == EVAL_SOURCE).alias("is_eval"))
    bands = _doc_bands_from(sh).join(src, "doc_id")
    cand = _cross_band_candidates(bands, F.col("is_eval"), "corpus_doc", "eval_doc_id")
    return (
        _verify_sides(sh, cand, "corpus_doc", "eval_doc_id")
        .select(
            F.col("corpus_doc").alias("doc_id"),
            "eval_doc_id",
            _jac_h().alias("jaccard"),
        )
        .where(F.col("jaccard") >= FUZZY_DECONTAM_THRESHOLD)
    )


def normalized_dedup_gain(documents: DataFrame) -> DataFrame:
    """Fuzzy-EXACT dedup calibration: per source, how many duplicate
    classes raw md5(text) hashing finds vs md5(normalize(text)) --
    lowercase, punctuation stripped, whitespace collapsed -- the
    standard pre-hash normalization that catches trivially
    reformatted copies (case changes, pasted punctuation, double
    spaces) byte-exact hashing misses.  extra_dups is the count of
    additional removable docs normalization unlocks: the number that
    says whether the normalized pass is worth scheduling on a
    corpus.  (No reference analog -- training-data mandate.)

    Scale shape: both hashes are map-side expressions over one scan;
    the two distinct-counts per source run in one aggregation
    (Spark's Expand for multi-COUNT DISTINCT -- bounded by 2x the
    scan, no joins, no windows).
    """
    from ..functions.columns import normalize_text

    hashed = documents.select(
        "source",
        F.md5("text").alias("raw_hash"),
        F.md5(normalize_text(F.col("text"))).alias("norm_hash"),
    )
    return hashed.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("raw_hash").cast("bigint").alias("raw_classes"),
        F.countDistinct("norm_hash").cast("bigint").alias("norm_classes"),
        (F.countDistinct("raw_hash") - F.countDistinct("norm_hash"))
        .cast("bigint")
        .alias("extra_dups"),
    )


def segment_minhash_dedup(documents: DataFrame) -> DataFrame:
    """Segment-grain NEAR-dup dedup report: MinHash-LSH composed at
    SEGMENT_W-word-segment granularity, closing the gap between
    ``segment_dedup`` (exact segment hashes -- misses lightly edited
    boilerplate) and doc-level MinHash (misses paragraph-level
    duplication inside otherwise-distinct docs).  Per (lang, source),
    alongside the DOC-grain near-dup share from the same machinery,
    so the report IS the both-grain dedup-rate comparison.
    (No reference analog -- training-data mandate; segment-level
    near-dedup is the C4/Lee-et-al. regime extended to fuzzy matches.)

    Semantics, exactly mirrored by the oracle:

    * Docs are cut into consecutive SEGMENT_W-word windows (the
      ``doc_segments`` geometry); a segment's global id is
      ``sid = doc_id * SEGMENT_SID_MULT + seg_idx``.
    * EXACT-duplicate segments collapse FIRST (md5 classes; the
      first occurrence by sid is the class representative) -- the
      scale move that keeps banded LSH from generating k^2 candidate
      pairs for a k-times-repeated boilerplate segment.
    * MinHash (word 3-shingles, the shared MINHASH_SIGS /
      MINHASH_BAND_ROWS banding) runs over class REPRESENTATIVES
      only; banded candidates verify with exact shingle Jaccard at
      SEGMENT_JACCARD_THRESHOLD -- a bar calibrated to the segment
      geometry (10 tokens -> 8 shingles; one token edit lands at
      J in [5/11, 7/9], so the doc-grain 0.8 would match nothing but
      identical shingle sets).  Recall trade, documented: at J~0.45
      the 4x2 banding surfaces ~60% of true single-edit pairs as
      candidates -- the standard LSH probabilistic-candidate
      semantics, identical in the oracle (same md5 banding), so
      parity is exact even where recall is probabilistic.
    * Keep-first rule: a representative is a near-dup DROP when it
      has ANY verified earlier neighbor (smaller sid), kept or not
      -- the same any-earlier-neighbor rule as the incremental path,
      well-defined without sequential scan order.
    * Occurrence accounting: a segment occurrence is an exact-dup
      drop when it is not its class representative, a near-dup drop
      when it IS the representative and the class was dropped.

    Scale shape: one tokenize pass, positional explode over a cheap
    int sequence; md5 class collapse shuffles on seg_hash (map-side
    partial agg); signatures/bands are computed only for distinct
    segment contents; the band self-join is bounded by band occupancy
    over DISTINCT contents (exact dups already collapsed); the
    verify join touches candidate rows only.  Doc-grain side reuses
    dedup_minhash_pairs' persisted-shingle plan.
    """
    from ..constants import (
        SEGMENT_JACCARD_THRESHOLD,
        SEGMENT_SID_MULT,
        SEGMENT_W,
    )

    # ---- segment grain -------------------------------------------------
    toks_d = (
        documents.select(
            "doc_id", "lang", "source", tokens(F.col("text")).alias("toks")
        )
        .where(F.size("toks") >= SEGMENT_W)
        .repartition(documents.sparkSession.sparkContext.defaultParallelism)
    )
    # slice/shingle AFTER the explode: runs once per OUTPUT row; `toks`
    # is a materialized column behind the repartition barrier, so the
    # re-evaluated subtree inside the shingle lambda is a cheap array
    # slice, never a re-split of text (the _doc_shingles lesson).
    seg_toks = F.slice("toks", F.col("k") * SEGMENT_W + 1, SEGMENT_W)
    segs = (
        toks_d.select(
            "doc_id",
            "lang",
            "source",
            F.explode(
                F.sequence(F.lit(0), (F.size("toks") / SEGMENT_W).cast("int") - 1)
            ).alias("k"),
            "toks",
        )
        .select(
            "lang",
            "source",
            (F.col("doc_id") * SEGMENT_SID_MULT + F.col("k")).alias("sid"),
            F.md5(F.concat_ws(" ", seg_toks)).alias("seg_hash"),
            word_shingles(seg_toks).alias("shingles"),
        )
        .persist()  # feeds the class collapse and the occurrence report
    )
    # r12: class collapse + representative pick in ONE aggregation.
    # min(struct(sid, shingles)) selects the smallest-sid occurrence
    # (sids are globally unique -- doc_id*SEGMENT_SID_MULT+k -- so the
    # shingles field never tie-breaks) and partial-aggregates map-side:
    # duplicate segments collapse BEFORE the wire, where the old
    # classes-agg + join-back-to-segs shape shuffled EVERY occurrence's
    # shingle array a second time just to keep one per class (one
    # Exchange + one join removed; n_occ was computed and never read).
    from ..functions.columns import md5_int60_set

    classes = (
        segs.groupBy("seg_hash")
        .agg(F.min(F.struct("sid", "shingles")).alias("rep"))
        # digest computed ONCE into the cache; both verify sides read
        # it instead of re-folding md5 per side (_shingle_digests, r13)
        .withColumn("dig", md5_int60_set(F.col("rep.shingles")))
        .persist()  # feeds banding, both verify sides, and the occ join
    )
    reps = _with_sig(
        classes.select(
            F.col("rep.sid").alias("doc_id"),
            F.col("rep.shingles").alias("shingles"),
            "dig",
        )
    )
    # reuse the shared banding + candidate machinery verbatim (reps are
    # keyed 'doc_id' for the duration; ids are sids)
    cand = _band_candidate_pairs(_doc_bands_from(reps))
    dropped = (
        _verify_sides(reps, cand)
        .where(_jac_h() >= SEGMENT_JACCARD_THRESHOLD)
        .select(F.col("doc_b").alias("rep_sid"))
        .distinct()
        .withColumn("near_dropped", F.lit(1))
    )
    occ = (
        segs.select("lang", "source", "sid", "seg_hash")
        .join(
            classes.select("seg_hash", F.col("rep.sid").alias("rep_sid")),
            ["seg_hash"],
        )
        .join(dropped, ["rep_sid"], "left")
        .select(
            "lang",
            "source",
            (F.col("sid") != F.col("rep_sid")).cast("int").alias("exact_drop"),
            (
                (F.col("sid") == F.col("rep_sid"))
                & F.col("near_dropped").isNotNull()
            )
            .cast("int")
            .alias("near_drop"),
        )
    )
    seg_stats = occ.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_segments"),
        F.sum("exact_drop").cast("bigint").alias("exact_dup_segments"),
        F.sum("near_drop").cast("bigint").alias("near_dup_segments"),
        rnd(
            (F.sum("exact_drop") + F.sum("near_drop")) / F.count(F.lit(1)), 6
        ).alias("seg_drop_share"),
    )

    # ---- doc grain (same machinery, whole-doc shingles) ----------------
    pairs = dedup_minhash_pairs(documents).select("doc_a", "doc_b")
    dup_docs = (
        pairs.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    doc_stats = (
        documents.select("doc_id", "lang", "source")
        .join(dup_docs, ["doc_id"], "left")
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.coalesce("is_dup", F.lit(0))).cast("bigint").alias(
                "near_dup_docs"
            ),
            rnd(
                F.sum(F.coalesce("is_dup", F.lit(0))) / F.count(F.lit(1)), 6
            ).alias("doc_dup_share"),
        )
    )

    # groups whose docs are all shorter than SEGMENT_W words have doc
    # rows but no segments: seg counts 0, share NULL (0/0), matching SQL
    return doc_stats.join(seg_stats, ["lang", "source"], "left").select(
        "lang",
        "source",
        "n_docs",
        "near_dup_docs",
        "doc_dup_share",
        F.coalesce("n_segments", F.lit(0)).cast("bigint").alias("n_segments"),
        F.coalesce("exact_dup_segments", F.lit(0))
        .cast("bigint")
        .alias("exact_dup_segments"),
        F.coalesce("near_dup_segments", F.lit(0))
        .cast("bigint")
        .alias("near_dup_segments"),
        F.col("seg_drop_share"),
    )


def dedup_minhash_topk(documents: DataFrame) -> DataFrame:
    """Similar-document retrieval over the MinHash-LSH index: for
    every doc, its top-SIM_TOPK_K banded candidates by exact shingle
    Jaccard -- the "more like this" / cluster-seed listing a curation
    UI or a dedup ADJUDICATION pass reads, where dedup_minhash_pairs
    answers only the binary >= threshold question.  Ranking is
    (jaccard desc, neighbor_id asc); docs with no banded candidate
    emit nothing (LSH semantics: no candidate band, no claim).
    Output: (doc_id, neighbor_id, rank, jaccard), both orientations
    of each candidate pair -- retrieval is per-doc, not per-pair.
    (No reference analog -- training-data mandate.)

    Scale shape: the same ONE band shuffle + map-side pair explode as
    every band consumer (_band_candidate_pairs), the verify join
    touches candidate rows only, and the final window partitions by
    doc_id (never global).  The Jaccard is an integer ratio of
    distinct shingle sets, so both engines agree bit-for-bit.  r12:
    this op WAS the seventh decade-catch -- at sf100 it died ENOSPC
    shipping raw shingle-string arrays onto 23M+ candidate rows (its
    unfiltered jaccard output keeps every candidate, so nothing
    row-reduces before the window); the verify join now ships 60-bit
    digests (_shingle_digests), ~5x less shuffle.
    """
    from ..constants import SIM_TOPK_K

    pairs = _minhash_candidates(documents).select(
        "doc_a", "doc_b", _jac_h().alias("jaccard")
    )
    directed = pairs.select(
        F.col("doc_a").alias("doc_id"),
        F.col("doc_b").alias("neighbor_id"),
        "jaccard",
    ).unionByName(
        pairs.select(
            F.col("doc_b").alias("doc_id"),
            F.col("doc_a").alias("neighbor_id"),
            "jaccard",
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("jaccard").desc(), F.col("neighbor_id").asc()
    )
    return (
        directed.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= SIM_TOPK_K)
        .select("doc_id", "neighbor_id", "rank", rnd("jaccard", 6).alias("jaccard"))
    )
