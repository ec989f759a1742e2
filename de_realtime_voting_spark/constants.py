"""Shared constants used by BOTH the Spark operators and the DuckDB
oracle SQL (de_realtime_voting_spark.oracles).

Everything here must be computable identically in Spark SQL and
DuckDB SQL; keeping one source of truth prevents Spark/oracle drift.
"""

from __future__ import annotations

# --- voting domain -------------------------------------------------
# The reference's three parties (reference main.py:15). Candidates in
# our mapped domain are the 5 event types; party assignment follows
# the reference's round-robin ``PARTIES[i % total_parties]``
# (reference main.py:81) over the sorted candidate list.
PARTIES = ["Management Party", "Savior Party", "Tech Republic Party"]
CANDIDATES = ["click", "error", "purchase", "signup", "view"]  # sorted
CANDIDATE_PARTY = {c: PARTIES[i % len(PARTIES)] for i, c in enumerate(CANDIDATES)}

# Early/late cohort windows for lapsed-voter analysis (the testdata
# generator emits all events inside 2024-01; a midpoint split leaves
# no lapsed voters at this density, so compare first week vs last).
ELECTION_EARLY_END = "2024-01-08 00:00:00"
ELECTION_LATE_START = "2024-01-23 00:00:00"

# --- text / dedup --------------------------------------------------
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]
SHINGLE_K = 3          # word-shingle width for MinHash / fingerprints
MINHASH_SIGS = 8       # number of md5-permutation signatures
MINHASH_BAND_ROWS = 2  # rows per LSH band -> 4 bands
JACCARD_THRESHOLD = 0.8
# similar-document retrieval: per-doc top-K banded neighbors by
# exact Jaccard (dedup_minhash_topk) -- K is the retrieval depth, a
# product knob, not a similarity bar
SIM_TOPK_K = 3
# 64-bit SimHash taken from the first 16 hex chars of md5, split into
# 4 disjoint 16-bit bands.  Pigeonhole: hamming(sig_a, sig_b) <= 3
# over 64 bits means at LEAST one band is bit-identical, so blocking
# on (band_idx, band_value) has EXACT recall at the ham<=3 threshold
# while candidate generation stays one shuffle on the band key.
# Scale math at 10^10 docs: ~N/2^16 ~ 150k docs per band bucket is
# still too fat for in-bucket pairing; the standard widening (Manku,
# Jain & Sarma, WWW'07 §3) splits into 6 blocks and keys each of the
# C(6,3)=20 tables on a 3-block (32-bit) combination -> expected
# bucket ~ N/2^32 ~ 2 docs.  Same shape, more band tables; widen
# SIMHASH_N_BANDS/keying here when the corpus demands it.
SIMHASH_BITS = 64
SIMHASH_BAND_BITS = 16
SIMHASH_N_BANDS = SIMHASH_BITS // SIMHASH_BAND_BITS
EDIT_REL_THRESHOLD = 0.5   # levenshtein / max(len) near-dup cutoff

# Gopher-style repetition filter: flag docs whose duplicate word-
# bigram fraction exceeds this (p99 of the synthetic corpus ~0.10).
REP_DUP_BIGRAM_MAX = 0.08

# --- char n-gram Jaccard near-dup ---------------------------------
CHAR_NGRAM_K = 3           # character trigram width
NGRAM_JACCARD_THRESHOLD = 0.65
NGRAM_LEN_BUCKET = 32      # length-bucket blocking key width (chars)
# dedup_ngram_jaccard self-routing cutover: at or below this corpus
# size the exhaustive block-co-occurrence plan runs (exact recall,
# quadratic in block occupancy -- measured 49.6 s at sf1); above it
# the op routes to the banded-LSH candidate plan
# (dedup_ngram_jaccard_scaled's shape, alpha 0.22).  20k sits between
# sf0.1 (5k docs, exhaustive -- bench/oracle continuity) and sf1
# (50k docs, banded).
NGRAM_EXHAUSTIVE_MAX_DOCS = 20_000

# --- BPE-ish regex tokenizer --------------------------------------
# letter runs | digit runs | single non-alnum-non-space (the classic
# pre-tokenizer split; identical semantics in Java regex and RE2)
BPE_TOKEN_RE = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

# --- multimodal chunking ------------------------------------------
MEDIA_CHUNK_BYTES = 64     # fixed payload chunk width

# --- PII scrubbing -------------------------------------------------
# Deliberately simple character-class patterns with identical
# semantics in Java regex and RE2 (no lookaround, no \b edge cases).
PII_EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z][a-z]+"
PII_PHONE_RE = "[0-9][0-9][0-9][-.][0-9][0-9][0-9][-.][0-9][0-9][0-9][0-9]"

# --- embeddings ----------------------------------------------------
EMBEDDING_DIM = 64
COSINE_THRESHOLD = 0.30   # near-dup threshold (synthetic data tops out ~0.4)
# SemDeDup cell-occupancy budget: a coarse-quantizer cell whose
# member count exceeds this splits by hyperplane sub-bucket before
# the intra-cell pair expansion.  The real production knob is MORE
# CENTROIDS (SemDeDup uses 50k clusters); the budget split is the
# guard that keeps a toy/locally-trained K from ever going quadratic
# in corpus growth.  512 keeps every driver-SF cell unsplit (exact
# SemDeDup geometry there) and fires at the 10x probe (sf1 cells
# ~3.7k members).  r10: the split is depth-k (2^k-way,
# k = ceil(log2(cell_n/budget)), low k bits of the extra-plane
# family) for the same reason as EMB_COS_BLOCK_BUDGET below -- a
# fixed one-level split leaves sub-cell size linear in the corpus
# and merely defers the quadratic one decade.
SEMDEDUP_CELL_BUDGET = 512
ANN_QUERY_IDS = list(range(10))
ANN_K = 5
LSH_NUM_PLANES = 6        # 64 hyperplane buckets

# IVF coarse quantizer: the centroids are TRAINED k-means means
# (ivf_model.py, produced by tools/train_ivf.py -- distributed Lloyd
# iterations, converged to the double noise floor).  Since r7 the
# model is PRODUCTION-SHAPED: K=64 cells trained at sf1 (20k
# vectors; K=16 was a toy coarse quantizer -- SemDeDup's production
# knob is more centroids).  These ids are the trainer's SEEDS (a
# deterministic corpus sample that exists at every SF:
# vec_id <= 444 < 500) and remain the stable cell labels.
# NPROBE=8 probes 8/64 = the SAME corpus fraction the r6 model
# scanned (2/16), but the finer cells lift measured recall@5 at sf1
# from 0.42 to 0.56 at equal scan cost (the production IVF trade:
# more centroids, proportionally more probes).
IVF_K = 64
IVF_CENTROID_IDS = [3 + 7 * i for i in range(IVF_K)]
IVF_NPROBE = 8


def lsh_plane_weight(p: int, i: int) -> float:
    """Deterministic pseudo-random hyperplane weight in [-1, 1).

    Pure integer arithmetic below 2**53 so Python, Spark SQL and
    DuckDB all evaluate it exactly; the float literals are embedded in
    both dialects from here.
    """
    return ((1 + p * EMBEDDING_DIM + i) * 2654435761 % 2000) / 1000.0 - 1.0


LSH_PLANES = [
    [lsh_plane_weight(p, i) for i in range(EMBEDDING_DIM)]
    for p in range(LSH_NUM_PLANES)
]

# Embedding-cosine block budget: dedup_embedding_cosine blocks on
# (label, lsh_bucket), and at FIXED plane count block sizes grow
# linearly with the corpus -- so within-block pairing grows
# quadratically (measured: 68x wall-clock for 10x data at the sf10
# probe).  The same guard semantic_dedup ships: blocks over the
# budget split by a SECOND, independent hyperplane family (planes
# p >= LSH_NUM_PLANES from the same deterministic generator, so the
# oracle replays the split bit-exactly).  256 keeps every driver-SF
# and sf1 block unsplit (exact legacy geometry there) and fires at
# the 10x probe (sf10 blocks ~312 members avg).
#
# r10: the split DEPTH scales with occupancy.  The fifth probe decade
# (sf100, 1M vectors) caught the r8 fix's own limit: ONE fixed
# 2^6-way split level only defers the quadratic a decade -- sub-block
# size is still block_n/64, linear in the corpus, and
# dedup_embedding_cosine read 13.8 s at sf10 -> 998 s at sf100.  Now
# oversized blocks split 2^k ways with k = ceil(log2(block_n/budget))
# (an integer-exact sum of threshold tests, no float log -- both
# engines compute the same k), masking the low k bits of the
# extra-family bucket, so EXPECTED sub-block size stays ~budget at
# every corpus size.  The plane pool below bounds k at 16 (covers
# blocks up to 65536x the budget ~ 16M members; beyond that raise the
# pool, not the budget).
EMB_COS_BLOCK_BUDGET = 256
LSH_EXTRA_NUM_PLANES = 16  # depth-k sub-split bit pool (k <= 16)
# Fanout floor: oversized blocks never split less than 2^6 ways (the
# r8 geometry and its measured cost/recall trade, preserved verbatim
# wherever it already worked); depth-k engages ABOVE 64x the budget,
# where the fixed split was quadratic-broken.  A pure-depth-k variant
# read ~3x slower at sf10 (42.8/54.7 s vs 13.8/32.9) because
# near-budget sub-blocks carry ~3x the pair mass of the r8 over-split
# -- measured, then floored (SCALE.md r10).
LSH_EXTRA_MIN_PLANES = 6
LSH_EXTRA_PLANES = [
    [lsh_plane_weight(p, i) for i in range(EMBEDDING_DIM)]
    for p in range(LSH_NUM_PLANES, LSH_NUM_PLANES + LSH_EXTRA_NUM_PLANES)
]
# r11 occupancy cap on RESIDUAL sub-bucket expansion.  Depth-k
# splitting keeps EXPECTED sub-block size ~budget, but vectors that
# share every plane SIGN (sign-correlated data) are inseparable by
# ANY plane count -- the sf100 probe measured a 3,546-member
# sub-bucket (772M candidate pairs, 885 s) that no k could split.
# Sub-buckets whose occupancy exceeds SUB_OCC_CAP_MULT * budget
# (4x = two doublings of hash-variance headroom above the splitter's
# ~budget target, so the cap only fires where the splitter FAILED)
# switch from all-pairs to WINDOWED pairing: members rank by a
# deterministic normalized projection (EMB_ORDER_PLANE, the next
# index of the same generator -- outside both sign-bit pools, so the
# ordering is continuous where the signs are constant) and each
# member pairs with its EMB_PAIR_WINDOW rank-successors only
# (sorted-neighborhood, the dedup_sorted_neighborhood shape).  Pair
# mass per group drops O(n^2) -> O(n*W), restoring the family's
# linear-in-corpus bound.  Recall trade (documented, both engines
# identical): inside an over-cap group a qualifying pair is missed
# when more than W-1 other members' (proj, vec_id) keys fall between
# theirs; direction-similar vectors have close projections
# (|proj_a - proj_b| <= |plane| * sqrt(2*(1 - cosine)) on unit
# vectors), so near-twins sort adjacent unless the group is locally
# denser than W -- exactly the boilerplate-mass case the
# SUBSTR_GRAM_MAX_OCC precedent also caps.
SUB_OCC_CAP_MULT = 4
EMB_PAIR_WINDOW = 64
EMB_ORDER_PLANE = [
    lsh_plane_weight(LSH_NUM_PLANES + LSH_EXTRA_NUM_PLANES, i)
    for i in range(EMBEDDING_DIM)
]
# r12: a SECOND independent order plane (the next generator index,
# also outside both sign-bit pools).  Over-cap groups run the
# windowed pass once per plane and union the pair sets: a qualifying
# pair is now missed only when BOTH orderings put > W-1 members
# between its endpoints -- the r11 single-plane pass left 24.7% of
# keep-first drop candidates uncovered at sf100 (one axis cannot
# order a dense cluster in every direction), and two near-orthogonal
# axes square the per-pair miss probability for one extra O(n*W)
# window shuffle of only the over-cap rows.
EMB_ORDER_PLANE2 = [
    lsh_plane_weight(LSH_NUM_PLANES + LSH_EXTRA_NUM_PLANES + 1, i)
    for i in range(EMBEDDING_DIM)
]


# --- corpus-construction pipeline ---------------------------------
# Deterministic hash split: bucket 0..99 from the first 4 hex chars
# of md5(doc_id) -- stable across engines, reruns, and cluster sizes
# (the property a train/test split must have; rand() has none of it).
SPLIT_TEST_PCT = 10     # buckets 0-9  -> test
SPLIT_VAL_PCT = 10      # buckets 10-19 -> val
# Sequence packing: concat-and-chop docs into fixed token windows,
# packed independently per (lang, shard) so no single ordered cumsum
# spans the corpus (the per-shard layout real pipelines use).
PACK_WINDOW_TOKENS = 256
PACK_SHARDS = 8
# --pack shard scaling (ADVICE r10): a FIXED shard fan-out leaves the
# per-(split, lang, shard) pandas group linear in the corpus -- the
# same one-level-split trap the dedup ops fixed at sf100.  The
# materializer raises the fan-out so even a corpus concentrated in
# ONE (split, lang) partition keeps every applyInPandas group at or
# under this many docs (doc_id mod is uniform): ~250k rows of
# (token_count, doc_id) is a few-MB pandas frame + FFD dict, bounded
# executor memory at any corpus size.
PACK_SHARD_TARGET_DOCS = 250_000
# Scratch-space pre-flight for the materializing curate run (r12):
# ONE write action keeps every upstream stage's shuffle files alive
# simultaneously, and the sf100 full-option run measured peak
# transient scratch at ~3x the input parquet bytes (~36 GB over a
# ~12 GB input; SCALE.md r11 -- the first attempt died ENOSPC).
# The pre-flight fails fast when the configured local dirs' free
# space is under factor * input_bytes.
CURATE_SCRATCH_FACTOR = 3.0
# Benchmark decontamination: a corpus doc is contaminated when it
# shares >= 1 word n-gram with the held-out eval source.
EVAL_SOURCE = "src0"
DECONTAM_NGRAM_K = 8
# Cross-doc exact-substring span dedup (the Lee et al. 2022
# "Deduplicating Training Data Makes Language Models Better" shape,
# re-expressed as a join instead of a suffix array): report maximal
# runs of >= SUBSTR_RUN_MIN_TOKENS exactly-shared tokens between doc
# pairs.  A run of L tokens is L-K+1 consecutive matching K-grams on
# one (pos_a - pos_b) diagonal, K = DECONTAM_NGRAM_K (the shared gram
# definition).  SUBSTR_GRAM_MAX_OCC caps the gram join's fan-out by
# TOTAL OCCURRENCES (not document frequency -- df alone leaves the
# join quadratic in within-doc repetitions: two docs each repeating a
# gram 1000x have df=2 but 10^6 match rows): a gram occurring more
# than this many times corpus-wide is boilerplate/repetition, and the
# per-gram join fan-out is hard-bounded at MAX_OCC^2.  A run
# containing a capped gram splits at it (documented recall trade;
# both engines apply the identical cap).
SUBSTR_RUN_MIN_TOKENS = 20
SUBSTR_GRAM_MAX_OCC = 20
# Unigram-LM scoring head size (r11 sf100 catch): the scoring join
# broadcasts only the top-K vocabulary terms by count -- a FIXED-size
# model at any corpus (vocabulary grows with the corpus; the full
# broadcast hit Spark's 8 GiB limit at sf100).  All join skew lives
# in the Zipf head, so the head broadcast keeps hot terms map-side
# while the residual tail shuffle-join is skew-free by construction
# (every tail count is below the head minimum).  Result-identical to
# the full join at every K; 2^18 terms ~ 13 MB broadcast.
UNIGRAM_HEAD_TOP_K = 1 << 18
# Bigram-LM scoring head size (r12: the r11 catch applied to the
# bigram screen, which used to broadcast THREE corpus-scaled models).
# One consolidated per-bigram logp model is head/tail split at this K;
# bigram vocabulary outgrows the unigram's, so the head is wider --
# 2^19 transitions ~ 35 MB broadcast (two words + a double per row),
# fixed at any corpus size.
BIGRAM_HEAD_TOP_K = 1 << 19
# DSIR-style data selection (Xie et al. 2023, arXiv:2302.03169):
# per-doc importance = mean over the doc's hashed-BIGRAM buckets of
# log p_target(bucket) - log p_raw(bucket), Laplace(+1)-smoothed.
# Hashing is the load-bearing trick: the model is DSIR_BUCKETS
# numbers regardless of vocabulary, so it broadcasts at any corpus
# size.  The eval source stands in for the high-quality target set.
DSIR_BUCKETS = 512
# SimHash near-dup pairs: candidates share >= 1 exact 16-bit band
# (exact recall at this cutoff -- see the pigeonhole note above),
# verified at hamming <= SIMHASH_HAM_MAX over the full 64 bits.
SIMHASH_HAM_MAX = 3
# Stratified sampling: per-language keep rates (percent), applied via
# the deterministic md5 bucket of 'sample:'||doc_id so the sample is
# independent of the train/val/test split hash and stable across
# engines/reruns/cluster sizes.
SAMPLE_RATE_PCT = {"en": 100, "de": 60, "es": 60, "fr": 60, "zh": 30}
SAMPLE_RATE_DEFAULT_PCT = 50
# Vocabulary coverage: what fraction of all token occurrences the top
# VOCAB_TOP_K most frequent terms cover, per language (the tokenizer-
# budget question).
VOCAB_TOP_K = 200
# Repeated-span audit: word n-grams shared by more than one document
# (the exact-substring-dedup signal, Lee et al. 2022 style) -- top
# spans by document frequency.
SPAN_NGRAM_K = 8
SPAN_TOP_N = 20
# BPE-style pair statistics: top adjacent subword-token pairs (the
# counting step a BPE tokenizer trainer iterates).
BPE_PAIR_TOP_N = 20
# C4-style segment dedup: docs are cut into consecutive SEGMENT_W-word
# windows (pseudo-sentences -- the corpus has no newline structure); a
# segment is duplicated if its text occurs more than once corpus-wide.
SEGMENT_W = 10
# Segment-grain MinHash dedup: a segment's global id is
# doc_id * SEGMENT_SID_MULT + seg_idx (one bigint, so candidate-pair
# ordering and the keep-first rule need no struct comparisons across
# engines).  Safe while seg_idx < 1e6, i.e. docs under 10M words.
SEGMENT_SID_MULT = 1_000_000
# Segment-grain Jaccard bar, calibrated to the segment geometry: a
# SEGMENT_W=10-token segment has only 8 word-3-shingles, so ONE token
# substitution already drops Jaccard to 5/11..7/9 (position-dependent)
# -- the doc-grain 0.8 bar would match only identical shingle SETS.
# 0.4 admits every single-token edit (min 5/11 = 0.4545) and rejects
# two interior edits (max 4/12 = 0.333).
SEGMENT_JACCARD_THRESHOLD = 0.4
# Incremental dedup: corpus docs split into an "existing" (already
# deduped) set and an "incoming" batch by doc_id hash bucket;
# candidates are incoming x existing band collisions only.
INCREMENTAL_EXISTING_PCT = 80

# TF-IDF keyword extraction: top terms per language, scored
# cf * n_docs / df in pure integer->double arithmetic so both engines
# rank identically.
TFIDF_TOP_K = 10
# C4-style quality gates (Raffel et al. heuristics adapted to the
# synthetic corpus: token-count floor, mean-word-length band,
# must-contain-a-stopword).
C4_MIN_TOKENS = 20
C4_WORD_LEN_MIN = 3.0
C4_WORD_LEN_MAX = 10.0
# Embedding norm outliers: |norm - label mean| > Z_MAX * label stddev.
NORM_OUTLIER_Z = 2.0

# --- sliding-window chunking --------------------------------------
# Context-window chunking: CHUNK_W-token windows every CHUNK_STRIDE
# tokens (overlap = W - STRIDE).  A chunk is emitted only when it
# contributes at least one token the previous window didn't cover:
# start == 1 OR start <= n_tokens - CHUNK_W + CHUNK_STRIDE.
CHUNK_W = 32
CHUNK_STRIDE = 24

# --- Zipf rank-frequency fit --------------------------------------
# Slope of ln(freq) ~ ln(rank) over the top ZIPF_TOP_K terms per
# language (a healthy natural-language corpus sits near -1; flat
# slopes flag templated/synthetic text).
ZIPF_TOP_K = 100

# --- n-gram containment near-dup ----------------------------------
# Asymmetric containment |A∩B| / min(|A|,|B|) over word k-grams --
# catches quote/subset duplication that Jaccard's union denominator
# dilutes.  Candidate pairs come from an inverted index on the gram;
# grams appearing in more than CONTAINMENT_MAX_DF docs are dropped
# from the index (boilerplate grams generate quadratic candidate
# blowup and carry no dedup signal -- the standard df cap).
CONTAINMENT_NGRAM_K = 5
CONTAINMENT_THRESHOLD = 0.30
CONTAINMENT_MAX_DF = 50

# --- product-quantization ANN -------------------------------------
# PQ code layout: EMBEDDING_DIM split into PQ_M contiguous subspaces
# of PQ_SUB_DIM dims; each subspace has PQ_N_CODES codewords taken
# from a fixed, deterministic sample of corpus vectors (exists at
# every SF: max id 470 < 500), code = rank of the sampled vec_id in
# ascending order.  A real pipeline k-means's each subspace codebook;
# the index structure -- encode once, rank by ADC lookup distance --
# is identical.
PQ_M = 8
PQ_SUB_DIM = EMBEDDING_DIM // PQ_M
PQ_CODEBOOK_IDS = [5 + 31 * i for i in range(16)]
PQ_N_CODES = len(PQ_CODEBOOK_IDS)

# --- TPC-H shapes without a partsupp table ------------------------
# The part<->supplier relation is derived from lineitem history.
# Q2-shape: supply cost := MIN unit price the pair ever shipped at
# (min over an exact IEEE division -- no float-sum ordering hazard);
# suppliers restricted to one region, parts to one type + size floor.
Q2_REGION = "EUROPE"
Q2_PART_TYPE = "PROMO"
Q2_MIN_SIZE = 40
Q2_TOP_N = 20
# Q11-shape: per-part shipped value across one region's suppliers,
# kept when above FRACTION of the regional grand total (share-based,
# so the same constant works at every scale factor).
Q11_REGION = "ASIA"
Q11_FRACTION = 0.001
# Q20-shape: (supplier, part) pairs that shipped more than half of
# their lifetime part volume inside one year (compared exactly as
# 2*qty_year > qty_total -- quantities are integer-valued).
Q20_YEAR_START = "1998-01-01 00:00:00"
Q20_YEAR_END = "1999-01-01 00:00:00"
Q20_NAME_PREFIX = "b"
# Q9-shape: profit per supplier-nation per order year for parts whose
# name contains the token; supply cost is the Q2 derived-partsupp
# idiom (MIN unit price the (part, supplier) pair ever shipped at).
Q9_NAME_TOKEN = "bolt"
# Q21-shape: a line is "late" when it ships > LATE_DAYS after the
# order date (the q12 bucket boundary, shared definition).
Q21_LATE_DAYS = 60
Q21_TOP_N = 100

# --- round-4 additions --------------------------------------------
# Temperature-sampled data mix (XLM-R / GPT-3 style): sampling
# probability proportional to share^alpha.  alpha = 0.5 is chosen so
# the power IS sqrt -- IEEE-754 correctly-rounded in both engines
# (pow() carries no such guarantee), keeping the oracle bit-exact.
MIX_TEMP_ALPHA = 0.5
# Dedup threshold sweep: exact-Jaccard histogram over the LSH
# candidate pairs in THRESHOLD_SWEEP_BINS equal-width bins (the
# tau-tuning curve); bin index is integer arithmetic, no float cuts.
THRESHOLD_SWEEP_BINS = 20
# Robust length-outlier screen: |n_chars - median| > K * MAD.
# Medians of integers are exact half-integers, so the predicate is
# bit-identical cross-engine (no stddev/mean float-sum hazard).
MAD_OUTLIER_K = 3.0
# Winnowing fingerprints (Schleimer et al., SIGMOD'03): char K-grams
# hashed (md5 prefix), every window of W consecutive gram hashes
# contributes its rightmost-minimal hash.  Guarantee: any shared
# substring of length >= W + K - 1 = 8 chars yields a shared
# fingerprint; expected density 2/(W+1) of positions.
WINNOW_K = 5
WINNOW_W = 4
# Inference harness: dimensionality of the deterministic pseudo-
# embedder (md5-seeded stand-in for a real model call); small enough
# that the SQL oracle's per-dim expression stays legible.
INFER_DIM = 16
# Near-dup graph PageRank (boilerplate centrality): fixed iteration
# count so the oracle unrolls to plain CTEs; damping is the classic
# 0.85.  Exactly representable: 0.85 rounds once, then every engine
# multiplies the same double.
PAGERANK_ITERS = 3
PAGERANK_DAMPING = 0.85
# Per-domain curation short-list: keep the K highest-quality docs of
# every source (quality = the composite text_quality_score formula,
# rounded to 6 so the window ordering key is engine-exact).
QUALITY_TOPK = 5
# Deterministic epoch shuffle: the training order of epoch E is the
# sort by md5('epoch{E}:' || doc_id) -- seeded, engine-independent,
# cluster-size-independent.  The preview query surfaces the first
# EPOCH_PREVIEW_N docs of that order (TakeOrderedAndProject shape;
# the full permutation is never materialized).
EPOCH_SEED = 1
EPOCH_PREVIEW_N = 100
# Interpolated bigram LM (CCNet-style perplexity screen, one step up
# from the unigram model): P = LAMBDA*P(w2|w1) + (1-LAMBDA)*P(w2).
# 0.7 is exactly representable enough for cross-engine parity: both
# engines parse the same literal to the same double.
BIGRAM_LAMBDA = 0.7
# Token-budget curation: greedy quality-descending selection keeps
# docs while the inclusive running token sum stays within the budget
# (FineWeb/DataComp-style "best N tokens" step).  12k tokens keeps
# roughly a third of the synthetic corpus at every SF, so the cutoff
# lands mid-distribution and both kept and dropped sets are non-empty.
TOKEN_BUDGET = 12_000
# Coarse quality-bucket width for the distributed running sum: the
# bucket id is floor(quality * TOKEN_BUDGET_BUCKETS), so the bucket
# frame has at most TOKEN_BUDGET_BUCKETS+1 rows (the only
# unpartitioned window in the op runs over that tiny frame).
TOKEN_BUDGET_BUCKETS = 1000
# Bloom prefilter sizing for bloom_decontam / stream_bloom_quarantine:
# k = 2 hash probes derived from one xxhash64; m AUTO-SIZES to the
# eval gram count at build time -- the next power of two >=
# BLOOM_BITS_PER_ITEM * n, floored at BLOOM_M_BITS -- targeting
# ~(1 - e^{-2n/m})^2 <~ 2% false positives however large the
# benchmark suite grows.  That formula assumes independent probes;
# BLOOM_SHIFTS=(0, 17) derives both probes from ONE xxhash64, so
# once m exceeds 2^17 the two index windows share source bits (e.g.
# bits 17..28 overlap at m=2^29) and the realized fp rate sits
# somewhat above the independent-probe estimate.  This is a sizing
# heuristic, not a correctness bound: the exact verify join behind
# every Bloom consumer removes all false positives, so probe
# correlation costs only a little extra verify traffic.  (r9 fix: the sf10 probe caught the
# former FIXED 1<<20 image saturating once |eval grams| reached ~m --
# fp -> 1, the prefilter stopped pruning, and the verify join
# shuffled the whole corpus gram stream: 109 s at sf10 vs the ~35 s a
# linear op costs.  A Bloom must be sized to its key set; the probe
# derives m from the image length, so build and probe can't drift.)
# m still scales with the EVAL SUITE only -- ~2 bytes per eval gram,
# a broadcast-sized artifact -- never with the corpus.
BLOOM_M_BITS = 1 << 20
BLOOM_BITS_PER_ITEM = 16
# Distributed BPE trainer: fixed merge count so the DuckDB oracle
# unrolls to plain chained CTEs (the pagerank precedent); ties break
# on (count desc, left asc, right asc) so the merge table is
# engine-exact.
BPE_MERGE_STEPS = 6
# Batched BPE trainer (bpe_train_merges_batched): ceil(STEPS/BATCH)
# passes, each selecting up to BATCH symbol-disjoint pairs from ONE
# pair count (stale within the pass -- the standard batched-BPE
# approximation) and applying them in a single rewrite fold.  Cuts
# the per-merge driver round-trip + vocab rewrite to one per BATCH
# merges -- the shape a real 100k-merge tokenizer run needs.
# Width tuned at production depth (r7, sf1 / 500 merges -- PLANS.md
# "Production depth + width tuning (r7)"): sequential 442 s; B=3
# 196 s (-0.33% compression vs sequential); B=8 124 s (-1.30%, i.e.
# BETTER compression -- greedy is not optimal); B=16 117 s (+0.41%).
# B=8 is the knee: 3.6x over sequential, drift bounded ~1% and favorable
# here; beyond it per-pass CASE-chain cost eats the round-trip
# savings.
BPE_BATCH = 8
# Sorted-neighborhood dedup (Hernandez & Stolfo 1995): two passes
# (normalized text prefix, reversed-text prefix = suffix key), each
# comparing a doc to its SNM_WINDOW successors in sort order within a
# SNM_BLOCK_LEN-char prefix block.  Deterministic, order-based
# blocking -- complementary to MinHash/SimHash's hash-band luck; the
# multi-pass key set is the classic recall recovery for docs that
# differ in their first characters.
SNM_KEY_LEN = 24
SNM_BLOCK_LEN = 2
SNM_WINDOW = 2
# Count-Min-Sketch heavy hitters: DEPTH independent md5-row hashes
# onto WIDTH counters each (state = DEPTH x WIDTH regardless of
# corpus size); estimate = min over rows (always >= exact).  Expected
# overcount per row ~ N/WIDTH; min over 3 rows makes large inflation
# exponentially unlikely (Cormode & Muthukrishnan 2005).  4 hex
# digits (16 bits) feed the mod, so WIDTH must stay << 65536.
CMS_DEPTH = 3
CMS_WIDTH = 1024
HH_TOPK = 20
# Hashed-histogram drift monitor: tokens fold onto DRIFT_BUCKETS
# md5-mod counters, so a distribution comparison (total-variation
# distance) costs one wide row per source regardless of vocabulary --
# the bounded-state shape a streaming aggregation needs.  Hashing is
# contractive for TV (each bucket sums non-negative probability
# mass), so hashed-TV <= true token-level TV: a clean "no drift"
# reading is trustworthy, a high reading localizes to buckets.
DRIFT_BUCKETS = 64
# Two-stage retrieval: the PQ-ADC scan shortlists 3*ANN_K candidates
# per query; raw vectors are fetched ONLY for the shortlist and exact
# cosine fixes the quantization error in the final order -- the
# standard compressed-scan + re-rank production pattern.
PQ_RERANK_SHORTLIST = 15
# Per-domain token cap (head-domain suppression): each source keeps
# its best docs until the cap; oversized domains are truncated, small
# domains pass whole -- the domain-balancing complement to the global
# TOKEN_BUDGET.  800 truncates most synthetic sources (~1.4k tokens
# each) mid-distribution at every SF.
SOURCE_TOKEN_CAP = 800

# Whitening regularizer: keeps a zero-variance dimension from
# dividing by zero; added INSIDE the sqrt, shared with the oracle.
WHITEN_EPS = 1e-6

# IVF tuning sweep: recall is measured at nprobe = 1..MAX in one
# assignment pass (probe lists are proximity-ordered, so nprobe = p
# is a prefix of the MAX-probe list).  MAX = an eighth of the 64
# coarse cells -- the same max scan fraction the K=16 sweep covered;
# past that IVF degenerates toward brute force and the curve says
# nothing new.  r7 sf1 curve (K=64): 0.22 / 0.30 / 0.34 / 0.40 /
# 0.40 / 0.46 / 0.54 / 0.56 at nprobe 1..8.
IVF_PROBE_SWEEP_MAX = 8

# Fuzzy decontamination: NEAR-duplicate eval overlap (MinHash bands +
# exact-Jaccard verify) at a LOWER bar than the dup threshold --
# contamination cares about weaker overlap than "same document".
FUZZY_DECONTAM_THRESHOLD = 0.5

# Quality classifier (logistic regression over hashed unigram
# features -- the GPT-3/CCNet-style learned quality filter, Brown et
# al. 2020 appendix A): the model is QC_BUCKETS+1 doubles however
# large the vocabulary (the DSIR hashing argument applied to a
# DISCRIMINATIVE model).  QC_ITERS full-batch gradient steps at
# QC_LR; weights are published HALF-UP-rounded to QC_ROUND decimals
# after every step so cross-engine float reassociation noise
# (~1e-13 relative on the gradient sums) cannot compound across
# iterations -- both engines compute iteration t+1 from the same
# published iteration-t model.
QC_BUCKETS = 128
# 3 full-batch steps.  Depth was A/B'd at r9 (PLANS.md "Measured:
# quality-classifier trainer at depth": the exact loop, 30 steps at
# sf1): per-step wall is FLAT (first-5 3.2 s vs last-5 1.9 s -- no
# lineage/cache leak) and max |dw| decays geometrically (1.2e-3 at
# step 30), so Spark-side depth is a pure linear-cost knob --
# production trains as deep as it likes.  The
# BINDING constraint is the ORACLE: the closed CTE chain costs ~2x
# wall per +2 steps and a 5-step chain measured 62-65 s per query in
# DuckDB at the driver's sf0.01 (vs ~35 s at 3) -- risking the
# correctness window for zero parity value, so the replayed depth
# stays 3.  PLANS.md holds the full depth table.
QC_ITERS = 3
QC_LR = 0.5
QC_ROUND = 6

# IVF re-train (the index-lifecycle closer for the
# embedding_centroid_drift staleness signal): a FIXED Lloyd budget --
# not a data-dependent drift-threshold stop -- so the DuckDB oracle
# can replay the identical CTE chain (the QC_ITERS precedent; a
# conditional iteration count cannot be expressed as a closed SQL
# chain).  Production loops until the report's iter_move rows clear
# the operator's drift bar; the report exposes that trajectory.
# Per-dim means are published HALF-UP-rounded at IVF_RETRAIN_ROUND
# decimals after every iteration, so both engines compute iteration
# t+1 from identical doubles (the QC_ROUND discipline; cross-engine
# AVG reassociation noise is ~1e-15 relative, far under the grain).
IVF_RETRAIN_ITERS = 2
IVF_RETRAIN_ROUND = 9

# Prototype scoring (D4-style, Tirumala et al. 2023): per-cell
# percentile of cosine-to-assigned-centroid; the top/bottom deciles
# are the prototype/outlier tiers a diversification pass keeps/drops.
PROTO_TIER_LO = 0.1
PROTO_TIER_HI = 0.9
