"""Text analysis operators for training-data curation.

All pure Catalyst array/string expressions -- tokenization, stopword
ratios, fingerprints run map-side inside whole-stage codegen; the
only shuffles are the final small aggregations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..constants import (
    BPE_TOKEN_RE,
    PII_EMAIL_RE,
    PII_PHONE_RE,
    REP_DUP_BIGRAM_MAX,
    STOPWORDS,
)
from ..functions.columns import round_half_up as rnd
from ..functions import tokens, word_shingles


def _stopword_count(toks):
    return F.size(F.filter(toks, lambda w: w.isin(STOPWORDS)))


def text_token_count(documents: DataFrame) -> DataFrame:
    """Per-language token/char statistics."""
    per_doc = documents.select(
        "lang",
        F.size(tokens(F.col("text"))).alias("n_tokens"),
        F.length("text").alias("n_chars_actual"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        rnd(F.avg("n_tokens"), 4).alias("avg_tokens"),
        F.sum("n_chars_actual").cast("bigint").alias("total_chars"),
    )


def text_bpe_tokens(documents: DataFrame) -> DataFrame:
    """Subword-style token counting: a BPE-ish pre-tokenizer regex
    (letter runs | digit runs | single punctuation) next to plain
    whitespace tokens, with per-language fertility (subword/word
    ratio) -- the cost estimate a training pipeline runs first.

    regexp_extract_all runs JVM-side inside codegen; no Python in the
    row loop.
    """
    # regexp_count, not size(regexp_extract_all): counting must not
    # materialize the match array per row
    per_doc = documents.select(
        "lang",
        F.regexp_count(F.lower(F.col("text")), F.lit(BPE_TOKEN_RE)).alias("n_bpe"),
        F.size(tokens(F.col("text"))).alias("n_ws"),
    )
    fertility = F.when(F.col("n_ws") > 0, F.col("n_bpe") / F.col("n_ws"))
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bpe").cast("bigint").alias("total_bpe_tokens"),
        F.sum("n_ws").cast("bigint").alias("total_ws_tokens"),
        rnd(F.avg(fertility), 4).alias("avg_fertility"),
    )


def text_lang_id(documents: DataFrame) -> DataFrame:
    """Stopword-ratio language-ID heuristic vs. the labeled lang.

    Confusion-matrix output (lang x predicted) -- on synthetic text
    the interesting part is the deterministic plumbing, mirrored by
    the oracle.
    """
    toks = F.col("toks")
    n = F.size(toks)
    ratio = _stopword_count(toks) / n
    pred = (
        F.when(n == 0, F.lit("unknown"))
        .when(ratio > 0.05, F.lit("en"))
        .otherwise(F.lit("other"))
    )
    return (
        documents.select("lang", tokens(F.col("text")).alias("toks"))
        .select("lang", pred.alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def _doc_quality(toks) -> "F.Column":
    """Composite quality expression over a token-array column: token
    count (half weight, saturates at 200), stopword ratio (0.3) and
    average word length (0.2, saturates at 10 chars) -- rounded to 6
    so the double is a stable ordering/grouping key cross-engine.
    Caller guards the empty-array case (size 0 divides by zero)."""
    n = F.size(toks)
    stop_ratio = _stopword_count(toks) / n
    total_len = F.aggregate(toks, F.lit(0), lambda acc, w: acc + F.length(w))
    avg_word_len = total_len / n
    return rnd(
        F.least(n / F.lit(200.0), F.lit(1.0)) * 0.5
        + stop_ratio * 0.3
        + F.least(avg_word_len / F.lit(10.0), F.lit(1.0)) * 0.2,
        6,
    )


def text_quality_score(documents: DataFrame) -> DataFrame:
    """Composite doc-quality score (length, stopword ratio, word
    length) aggregated per source -- the classic pre-training quality
    filter signal."""
    toks = F.col("toks")
    n = F.size(toks)
    per_doc = documents.select(
        "source", tokens(F.col("text")).alias("toks")
    ).select(
        "source",
        F.when(n > 0, _doc_quality(toks)).otherwise(F.lit(0.0)).alias("quality"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        rnd(F.avg("quality"), 4).alias("avg_quality"),
        rnd(F.min("quality"), 4).alias("min_quality"),
        rnd(F.max("quality"), 4).alias("max_quality"),
    )


def text_repetition_score(documents: DataFrame) -> DataFrame:
    """Gopher-style repetition filter: per source, the duplicate
    word-bigram fraction (1 - distinct/total bigrams) with the count
    of docs above REP_DUP_BIGRAM_MAX -- repeated n-grams are the
    classic signature of boilerplate and low-quality spans.

    Map-side array expressions, one small agg shuffle; docs under two
    tokens have no bigrams and drop out.
    """
    # repartition = CollapseProject barrier: keeps tokens(text) from
    # being re-inlined into the bigram lambda (see dedup._doc_shingles)
    per_doc = (
        documents.select("source", tokens(F.col("text")).alias("toks"))
        .where(F.size("toks") >= 2)
        .repartition(documents.sparkSession.sparkContext.defaultParallelism)
    )
    dup_frac = rnd(
        1 - F.size(word_shingles(F.col("toks"), 2)) / (F.size("toks") - 1), 6
    )
    scored = per_doc.select("source", dup_frac.alias("dup_frac"))
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        rnd(F.avg("dup_frac"), 4).alias("avg_dup_frac"),
        rnd(F.max("dup_frac"), 4).alias("max_dup_frac"),
        F.sum((F.col("dup_frac") > REP_DUP_BIGRAM_MAX).cast("int"))
        .cast("bigint")
        .alias("n_flagged"),
    )


def text_redact_pii(documents: DataFrame) -> DataFrame:
    """PII scrub accounting: per-source counts of documents containing
    email/phone patterns, total matches, and characters removed by
    redaction -- the audit row every training-data release needs.

    regexp_extract_all / regexp_replace run JVM-side; redaction never
    materializes a second corpus column in this summary (the actual
    scrubbed text would be ``regexp_replace`` in a writer job).
    """
    low = F.lower(F.col("text"))
    n_email = F.regexp_count(low, F.lit(PII_EMAIL_RE))
    n_phone = F.regexp_count(low, F.lit(PII_PHONE_RE))
    redacted = F.regexp_replace(
        F.regexp_replace(low, PII_EMAIL_RE, "<EMAIL>"),
        PII_PHONE_RE,
        "<PHONE>",
    )
    per_doc = documents.select(
        "source",
        n_email.alias("n_email"),
        n_phone.alias("n_phone"),
        (F.length("text") - F.length(redacted)).alias("chars_delta"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("n_email") > 0).cast("int")).cast("bigint").alias("docs_with_email"),
        F.sum((F.col("n_phone") > 0).cast("int")).cast("bigint").alias("docs_with_phone"),
        F.sum("n_email").cast("bigint").alias("total_emails"),
        F.sum("n_phone").cast("bigint").alias("total_phones"),
        F.sum("chars_delta").cast("bigint").alias("total_chars_delta"),
    )


def ngram_top(documents: DataFrame, n_top: int = 20) -> DataFrame:
    """Most frequent word bigrams across the corpus: map-side bigram
    arrays -> explode -> one count shuffle -> top-N."""
    bigrams = word_shingles(F.col("toks"), k=2)
    return (
        documents.select(tokens(F.col("text")).alias("toks"))
        .where(F.size("toks") >= 2)
        .repartition(documents.sparkSession.sparkContext.defaultParallelism)
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.col("n_docs").desc(), F.col("bigram").asc())
        .limit(n_top)
    )


def doc_fingerprint(documents: DataFrame) -> DataFrame:
    """Min-shingle-hash fingerprint (winnowing-lite): duplicate
    fingerprints flag near-identical docs; groupBy fingerprint is the
    only shuffle."""
    fp = F.array_min(F.transform(word_shingles(F.col("toks")), F.md5))
    return (
        # filter on size(toks) below the shuffle, shingle+hash above
        # it -- same pushdown/CollapseProject reasoning as
        # dedup._doc_shingles; >=3 tokens guarantees a fingerprint
        documents.select("doc_id", tokens(F.col("text")).alias("toks"))
        .where(F.size("toks") >= 3)
        .repartition(documents.sparkSession.sparkContext.defaultParallelism)
        .select("doc_id", fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_doc_id"))
        .where(F.col("n_docs") > 1)
    )


def tfidf_top_terms(documents: DataFrame) -> DataFrame:
    """Per-language TF-IDF keyword extraction: top TFIDF_TOP_K terms
    ranked by cf * n_lang_docs / df (collection frequency damped by
    document frequency).

    The score stays in integer space until one double division, so
    both engines produce bit-identical ranks -- no cross-engine
    float-sum ordering hazard.  One explode shuffle on (lang, term),
    a broadcast of the tiny per-lang doc counts, and a per-lang
    window over the already-aggregated term rows.  At corpus scale
    the window input is |distinct terms|, not |tokens|; if even that
    is too wide, swap the window for a per-partition top-k + merge.
    """
    from ..constants import TFIDF_TOP_K
    from pyspark.sql import Window

    term_stats = (
        documents.select(
            "lang", "doc_id", F.explode(tokens(F.col("text"))).alias("term")
        )
        .groupBy("lang", "term")
        .agg(
            F.count(F.lit(1)).alias("cf"),
            F.countDistinct("doc_id").alias("df"),
        )
    )
    lang_docs = documents.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_lang_docs")
    )
    scored = term_stats.join(F.broadcast(lang_docs), "lang").withColumn(
        "tfidf",
        F.col("cf").cast("double") * F.col("n_lang_docs") / F.col("df"),
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TFIDF_TOP_K)
        .select("lang", "term", "cf", "df", rnd(F.col("tfidf"), 6).alias("tfidf"), "rank")
    )


def bpe_pair_counts(documents: DataFrame, n_top: int | None = None) -> DataFrame:
    """Adjacent subword-pair frequencies -- the counting step a BPE
    tokenizer trainer iterates (most frequent pair gets merged, then
    recount).  One round of that loop over the whole corpus.

    Shape: regexp pre-tokenizer (JVM codegen) materialized behind the
    barrier, positions exploded as a cheap integer sequence, each
    pair built ONCE per output row from two element_at's (exploding a
    prebuilt pairs array would re-evaluate the builder per generated
    row -- the Generate pitfall), then one count shuffle and a top-N.
    """
    from ..constants import BPE_PAIR_TOP_N

    top = BPE_PAIR_TOP_N if n_top is None else n_top
    toked = (
        documents.select(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(BPE_TOKEN_RE), 0).alias("bt")
        )
        .where(F.size("bt") >= 2)
        .repartition(documents.sparkSession.sparkContext.defaultParallelism)
    )
    pairs = toked.select(
        F.explode(F.sequence(F.lit(1), F.size("bt") - 1)).alias("pos"), "bt"
    ).select(
        F.concat_ws(
            " ", F.element_at("bt", F.col("pos")), F.element_at("bt", F.col("pos") + 1)
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("pair").asc())
        .limit(top)
    )


def vocab_coverage(documents: DataFrame) -> DataFrame:
    """Per-language vocabulary coverage: what share of all token
    occurrences the top VOCAB_TOP_K most frequent terms account for
    -- the question a tokenizer/vocab budget decision starts from.

    Term counting is one explode + (lang, term) shuffle with map-side
    partial agg; the rank window runs over the per-(lang, term)
    aggregate (|vocab| rows, not |tokens|), partitioned by lang.
    """
    from pyspark.sql import Window

    from ..constants import VOCAB_TOP_K

    term_counts = (
        documents.select("lang", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), F.col("term").asc())
    ranked = term_counts.withColumn("rank", F.row_number().over(w))
    return ranked.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("cnt").cast("bigint").alias("total_tokens"),
        F.sum(F.when(F.col("rank") <= VOCAB_TOP_K, F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("top_k_tokens"),
        rnd(
            F.sum(F.when(F.col("rank") <= VOCAB_TOP_K, F.col("cnt")).otherwise(0))
            / F.sum("cnt"),
            6,
        ).alias("coverage"),
    )


def repeated_ngram_spans(documents: DataFrame) -> DataFrame:
    """Cross-document repeated spans: word SPAN_NGRAM_K-grams that
    appear in more than one distinct document, top SPAN_TOP_N by
    document frequency -- the signal exact-substring dedup (Lee et
    al. 2022) removes, computed here as the audit that says how much
    of it the corpus carries.

    Same positional-explode shape as benchmark_decontam: grams build
    once per output row; the only wide shuffle keys on the gram
    (md5'd to a fixed 32-char key so the exchange never carries long
    raw spans).
    """
    from ..constants import SPAN_NGRAM_K, SPAN_TOP_N

    toks_d = (
        documents.select("doc_id", tokens(F.col("text")).alias("toks"))
        .where(F.size("toks") >= SPAN_NGRAM_K)
        .repartition(documents.sparkSession.sparkContext.defaultParallelism)
    )
    grams = toks_d.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.size("toks") - (SPAN_NGRAM_K - 1))
        ).alias("pos"),
        "toks",
    ).select(
        "doc_id",
        F.concat_ws(" ", F.slice(F.col("toks"), F.col("pos"), SPAN_NGRAM_K)).alias(
            "gram"
        ),
    )
    per_gram = grams.groupBy(F.md5("gram").alias("gram_hash")).agg(
        F.count_distinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_occurrences"),
        F.min("doc_id").alias("min_doc_id"),
    )
    return (
        per_gram.where(F.col("n_docs") > 1)
        .orderBy(
            F.col("n_docs").desc(), F.col("n_occurrences").desc(), F.col("gram_hash").asc()
        )
        .limit(SPAN_TOP_N)
    )


def repeated_span_excision(documents: DataFrame) -> DataFrame:
    """Exact-substring dedup EXCISION LIST (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"):
    where ``repeated_ngram_spans`` only audits how much cross-corpus
    repetition exists, this emits the actual per-document token spans
    to cut.  A word SPAN_NGRAM_K-gram occurrence is removable when
    the gram occurs more than once in the corpus (across OR within
    documents) and this occurrence is not the canonical first one
    (lexicographic min (doc_id, pos) keeps one copy corpus-wide);
    overlapping/adjacent removable K-gram windows then merge into
    maximal spans (gaps-and-islands), so each output row is one
    contiguous cut: (doc_id, span_start, span_end, n_tokens) in
    1-based token positions, inclusive.

    Scale shape: the gram build is the positional-explode pattern
    (one pass, grams md5'd before any exchange so the wide shuffle
    never carries raw text).  First-occurrence selection is a
    groupBy(gram_hash) min(struct(doc_id, pos)) -- map-side partial
    agg, NO per-gram window, so a stop-phrase gram with millions of
    occurrences costs a partial-agg cell, not a single-task sort.
    Removable occurrences (a small fraction of positions) then sort
    per doc for the island merge -- the window partitions by doc_id,
    bounded by doc length.  (No reference analog -- training-data
    mandate.)
    """
    from pyspark.sql import Window

    from ..constants import SPAN_NGRAM_K

    k = SPAN_NGRAM_K
    toks_d = (
        documents.select("doc_id", tokens(F.col("text")).alias("toks"))
        .where(F.size("toks") >= k)
        .repartition(documents.sparkSession.sparkContext.defaultParallelism)
    )
    grams = toks_d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.size("toks") - (k - 1))).alias("pos"),
        "toks",
    ).select(
        "doc_id",
        F.col("pos").cast("bigint").alias("pos"),
        F.md5(F.concat_ws(" ", F.slice(F.col("toks"), F.col("pos"), k))).alias(
            "gram_hash"
        ),
    )
    per_gram = grams.groupBy("gram_hash").agg(
        F.count(F.lit(1)).alias("n_occ"),
        F.min(F.struct("doc_id", "pos")).alias("first"),
    )
    removable = (
        grams.join(per_gram.where(F.col("n_occ") > 1), "gram_hash")
        .where(
            (F.col("doc_id") != F.col("first.doc_id"))
            | (F.col("pos") != F.col("first.pos"))
        )
        .select("doc_id", "pos")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    flagged = removable.withColumn(
        "brk",
        F.when(F.col("pos") <= F.lag("pos").over(w) + k, F.lit(0)).otherwise(
            F.lit(1)
        ),
    )
    isl = flagged.withColumn(
        "island",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        isl.groupBy("doc_id", "island")
        .agg(F.min("pos").alias("mn"), F.max("pos").alias("mx"))
        .select(
            "doc_id",
            F.col("mn").cast("bigint").alias("span_start"),
            (F.col("mx") + (k - 1)).cast("bigint").alias("span_end"),
            (F.col("mx") + (k - 1) - F.col("mn") + 1)
            .cast("bigint")
            .alias("n_tokens"),
        )
    )


def span_excision_stats(documents: DataFrame) -> DataFrame:
    """Corpus impact report for exact-substring excision: per
    (lang, source), how many docs lose at least one span, how many
    spans are cut, how many tokens those spans cover, and the share
    of the group's tokens removed -- the accounting a pipeline reads
    before committing the cut list (`repeated_span_excision`).

    Scale shape: the span list is sparse (only repeated-gram docs),
    the meta join keys on doc_id, and the report aggregates to
    |langs| x |sources| rows -- everything after the excision
    pipeline is map-side partials into a dimension-sized groupBy.
    """
    spans = repeated_span_excision(documents)
    per_doc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("n_tokens").alias("cut_tokens"),
    )
    meta = documents.select(
        "doc_id", "lang", "source", F.size(tokens(F.col("text"))).alias("n_toks")
    )
    joined = meta.join(per_doc, "doc_id", "left")
    total = F.sum("n_toks").cast("bigint")
    removed = F.sum(F.coalesce(F.col("cut_tokens"), F.lit(0))).cast("bigint")
    return joined.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("n_spans") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_docs_cut"),
        F.sum(F.coalesce(F.col("n_spans"), F.lit(0))).cast("bigint").alias(
            "n_spans"
        ),
        total.alias("total_tokens"),
        removed.alias("tokens_removed"),
        F.when(total == 0, F.lit(0.0))
        .otherwise(rnd(removed / total, 6))
        .alias("removed_share"),
    )


def token_distribution_drift(documents: DataFrame) -> DataFrame:
    """Per-source distribution drift: exact KL divergence
    KL(source || corpus) over whitespace-token unigram distributions
    -- the curation signal for "this source's language is unlike the
    rest of the mix" (domain skew, spam injections, template floods).
    Zero-probability terms vanish analytically (p_s = 0 contributes
    0; p_c > 0 for every token the source contains, since the corpus
    includes the source), so the sum is exact, no smoothing.

    Scale shape: one tokenize pass into a (source, token) count --
    map-side partials, the only corpus-wide shuffle; corpus counts
    fold from that frame (vocab-sized, never re-reads the corpus);
    per-source totals ride a broadcast.  The KL fold sums in
    ascending sorted order (the pagerank idiom) so the double matches
    the oracle bit-for-bit; group size is per-source vocabulary.
    """
    st = (
        documents.select(
            "source", F.explode(tokens(F.col("text"))).alias("tok")
        )
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c_st"))
        .persist()
    )
    corpus = st.groupBy("tok").agg(F.sum("c_st").alias("c_t"))
    totals = st.groupBy("source").agg(F.sum("c_st").alias("n_s"))
    grand = F.broadcast(totals.agg(F.sum("n_s").alias("n_corpus")))
    terms = (
        st.join(corpus, "tok")
        .join(F.broadcast(totals), "source")
        .crossJoin(grand)
        .select(
            "source",
            "n_s",
            (
                (F.col("c_st") / F.col("n_s"))
                * F.log(
                    (F.col("c_st") / F.col("n_s"))
                    / (F.col("c_t") / F.col("n_corpus"))
                )
            ).alias("term"),
        )
    )
    return terms.groupBy("source").agg(
        F.max("n_s").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("vocab_size"),
        rnd(
            F.aggregate(
                F.array_sort(F.collect_list("term")),
                F.lit(0.0),
                lambda a, x: a + x,
            ),
            6,
        ).alias("kl_drift"),
    )


def text_c4_filters(documents: DataFrame) -> DataFrame:
    """C4-style quality-gate report per source: how many docs fail
    the token-count floor, the mean-word-length band, and the
    must-contain-a-stopword test, and how many pass all three.

    All counts are integers derived from per-doc integer token stats
    (the only double, mean word length, is the same single division
    in both engines), so the report is exact.  Map-side expressions
    plus one small agg shuffle.
    """
    from ..constants import C4_MIN_TOKENS, C4_WORD_LEN_MIN, C4_WORD_LEN_MAX

    toks = F.col("toks")
    n = F.size(toks)
    total_len = F.aggregate(toks, F.lit(0), lambda acc, wd: acc + F.length(wd))
    awl = total_len / n
    per_doc = (
        documents.select("source", tokens(F.col("text")).alias("toks"))
        .repartition(documents.sparkSession.sparkContext.defaultParallelism)
        .select(
            "source",
            (n < C4_MIN_TOKENS).alias("too_short"),
            F.when(n > 0, (awl < C4_WORD_LEN_MIN) | (awl > C4_WORD_LEN_MAX))
            .otherwise(F.lit(True))
            .alias("word_len_out"),
            (_stopword_count(toks) == 0).alias("no_stopword"),
        )
    )
    kept = ~F.col("too_short") & ~F.col("word_len_out") & ~F.col("no_stopword")
    as_cnt = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        as_cnt(F.col("too_short")).alias("n_too_short"),
        as_cnt(F.col("word_len_out")).alias("n_word_len_out"),
        as_cnt(F.col("no_stopword")).alias("n_no_stopword"),
        as_cnt(kept).alias("n_kept"),
    )


def _lm_head_tail_stats(
    stream: DataFrame, key: str, model_h: DataFrame, model_t: DataFrame
) -> DataFrame:
    """Shared scoring tail of the LM quality screens (unigram/bigram):
    join a corpus-scaled (doc_id, lang, source, <key>) stream against
    a head/tail-PARTITIONED logp model in ONE corpus scan, then report
    per-(lang, source) stats of the per-doc mean logp.

    Contract: model_h is the bounded Zipf head ((key, logp), <= top-K
    rows, broadcastable at any corpus size), model_t the vocab-sized
    tail, head and tail disjoint with head UNION tail covering every
    key the stream can produce.

    Scale shape -- the r11/r12 sf100 catch made concrete: the stream
    left-joins ONLY the broadcast head (map-side, where all the Zipf
    join skew lives), then a single partial aggregation collapses head
    hits per doc (group key NULL) and misses per (doc, key) -- the
    shuffle carries one row per doc plus one per distinct rare key per
    doc, never one per token.  The reduced frame persists (released by
    the harnesses' per-query clearCache, the file convention) so the
    hit/miss split does NOT re-scan the corpus -- the r11 plan's
    two-filter union cost a second full tokenize pass (+31% at sf0.1).
    Misses then shuffle-join the tail model, skew-free BY CONSTRUCTION
    (every tail key's count is below the head minimum), and the split
    keeps the per-doc NULL-group rows out of that join (hash(NULL)
    would funnel one row per doc into a single task at 1B docs).
    Result-identical to the full-model join: per-key logp is computed
    from the same counts, and a key occurring c times in a doc
    contributes c * logp.
    """
    j = stream.join(F.broadcast(model_h), key, "left")
    partial = (
        j.groupBy(
            "doc_id",
            "lang",
            "source",
            F.when(F.col("logp").isNull(), F.col(key)).alias("_miss"),
        )
        .agg(
            F.sum(F.coalesce(F.col("logp"), F.lit(0.0))).alias("_s"),
            F.count(F.lit(1)).alias("_c"),
        )
        .persist()
    )
    hits = partial.where(F.col("_miss").isNull()).select(
        "doc_id", "lang", "source", "_s", "_c"
    )
    misses = (
        partial.where(F.col("_miss").isNotNull())
        .join(model_t.withColumnRenamed(key, "_miss"), "_miss")
        .select(
            "doc_id",
            "lang",
            "source",
            (F.col("_c") * F.col("logp")).alias("_s"),
            "_c",
        )
    )
    per_doc = (
        hits.unionByName(misses)
        .groupBy("doc_id", "lang", "source")
        .agg((F.sum("_s") / F.sum("_c")).alias("lp"))
    )
    return per_doc.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        rnd(F.avg("lp"), 4).alias("avg_logprob"),
        rnd(F.min("lp"), 4).alias("min_logprob"),
    )


def unigram_logprob_score(documents: DataFrame) -> DataFrame:
    """Perplexity-proxy quality screen: score every document by the
    mean log-probability of its tokens under a corpus-wide unigram
    model, reported per (lang, source).  The classic cheap stand-in
    for a KenLM/perplexity filter (CCNet-style): boilerplate and
    natural prose score high, gibberish and rare-token soup score
    low.  (No reference analog -- training-data mandate.)

    Scale shape: two corpus tokenize passes (model build + scoring)
    and one BOUNDED broadcast.  Building the model is a groupBy(term)
    count -- map-side partial agg collapses the Zipf head before the
    shuffle, so 'the' does not create a hot partition; the vocab frame
    persists so the head top-K, tail anti-join, and total all read it
    once.  Scoring is the SKEW-SPLIT head/tail join (the r11 sf100
    catch: broadcasting the FULL vocabulary model is corpus-scaled --
    9.7 GiB at 2M-vocab sf100, over Spark's 8 GiB broadcast limit):
    the top-UNIGRAM_HEAD_TOP_K terms by count broadcast as a
    fixed-size model; tail misses shuffle-join skew-free (see
    _lm_head_tail_stats, which also removed the r11 plan's second
    corpus scan).  Result-identical to the single full join at every
    corpus size (head and tail partition the vocabulary; below K
    distinct terms the tail is empty and the plan degenerates to the
    old exact broadcast).  Plain AQE skew-join could not replace the
    split: the model side is an aggregate, one of the documented
    OptimizeSkewedJoin no-op conditions (tools/skew_probe.py).
    """
    from ..constants import UNIGRAM_HEAD_TOP_K

    tok = documents.select(
        "doc_id", "lang", "source", F.explode(tokens(F.col("text"))).alias("term")
    )
    vocab = tok.groupBy("term").agg(F.count(F.lit(1)).alias("cnt")).persist()
    total = vocab.agg(F.sum("cnt").cast("double").alias("n_total"))
    logp = F.log(F.col("cnt") / F.col("n_total")).alias("logp")
    # deterministic bounded head: distributed top-K (TakeOrdered), K
    # rows on any corpus, ties broken by term
    head = vocab.orderBy(F.col("cnt").desc(), "term").limit(
        UNIGRAM_HEAD_TOP_K
    ).persist()
    model_h = head.crossJoin(F.broadcast(total)).select("term", logp)
    tail = vocab.join(F.broadcast(head.select("term")), "term", "left_anti")
    model_t = tail.crossJoin(F.broadcast(total)).select("term", logp)
    return _lm_head_tail_stats(tok, "term", model_h, model_t)


def doc_chunk_windows(documents: DataFrame) -> DataFrame:
    """Sliding-window context chunking: cut every document into
    CHUNK_W-token windows every CHUNK_STRIDE tokens (overlapping by
    W - STRIDE), the packing-prep step a long-context training
    pipeline runs before sequence assembly.  (No reference analog --
    training-data mandate.)

    One row per emitted chunk: (doc_id, chunk_idx, start_pos,
    n_chunk_tokens, chunk_hash).  A trailing window fully covered by
    its predecessor is suppressed (keep start == 1 or start <=
    n - W + STRIDE -- every kept chunk contributes tokens).

    Scale shape: tokens materialize once behind the repartition
    barrier (the CollapseProject reasoning of _doc_shingles); the
    explode is bounded by ceil(n_tokens / STRIDE) per doc -- output
    is a constant factor of corpus size, never quadratic.  No
    shuffle at all after the barrier: chunking is embarrassingly
    parallel, which is exactly why it belongs in the engine rather
    than a driver loop.
    """
    from ..constants import CHUNK_STRIDE, CHUNK_W

    n = F.size("toks")
    toked = (
        documents.select("doc_id", tokens(F.col("text")).alias("toks"))
        .where(n >= 1)
        .repartition(documents.sparkSession.sparkContext.defaultParallelism)
    )
    starts = F.sequence(F.lit(1), n, F.lit(CHUNK_STRIDE))
    chunked = toked.select(
        "doc_id",
        "toks",
        F.posexplode(starts).alias("idx0", "start_pos"),
    ).where(
        (F.col("start_pos") == 1)
        | (F.col("start_pos") <= F.size("toks") - (CHUNK_W - CHUNK_STRIDE))
    )
    chunk = F.slice(F.col("toks"), F.col("start_pos"), CHUNK_W)
    return chunked.select(
        "doc_id",
        (F.col("idx0") + 1).alias("chunk_idx"),
        "start_pos",
        F.size(chunk).alias("n_chunk_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_hash"),
    )


def token_zipf_stats(documents: DataFrame) -> DataFrame:
    """Zipf rank-frequency fit per language: regression slope and fit
    of ln(freq) ~ ln(rank) over the top ZIPF_TOP_K terms.  Natural
    language sits near slope -1; templated or synthetic text shows up
    as a flat or kinked curve -- a one-number corpus-health signal.
    (No reference analog -- training-data mandate.)

    Scale shape: term counting is one explode + (lang, term) shuffle
    with map-side partial agg (the Zipf head collapses locally, so
    'the' never makes a hot partition); the rank window runs over the
    per-(lang, term) aggregate and the regression inputs are
    ZIPF_TOP_K rows per language -- dim-sized no matter the corpus.
    """
    from pyspark.sql import Window

    from ..constants import ZIPF_TOP_K

    term_counts = (
        documents.select("lang", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), F.col("term").asc())
    ranked = (
        term_counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= ZIPF_TOP_K)
        .select(
            "lang",
            "cnt",
            F.log(F.col("rank").cast("double")).alias("ln_rank"),
            F.log(F.col("cnt").cast("double")).alias("ln_freq"),
        )
    )
    return ranked.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ranks"),
        F.sum("cnt").cast("bigint").alias("top_k_tokens"),
        rnd(F.regr_slope("ln_freq", "ln_rank"), 4).alias("zipf_slope"),
        rnd(F.regr_intercept("ln_freq", "ln_rank"), 4).alias("zipf_intercept"),
        rnd(F.regr_r2("ln_freq", "ln_rank"), 4).alias("fit_r2"),
    )


def doc_length_percentile_filter(documents: DataFrame) -> DataFrame:
    """Per-language inlier length band: the exact [p05, p95] n_chars
    cutoffs and how much of the corpus survives them -- the outlier-
    trim report run before length-sensitive curation (tiny fragments
    and mega-docs are both quality hazards).  (No reference analog --
    training-data mandate.)

    Scale shape: cutoffs come from an exact percentile agg per lang
    (language cardinality is tiny, so the agg output is a dim table);
    the |langs|-row cutoff table broadcasts back and the keep test is
    a map-side comparison.  At 100 TB swap the exact percentile for
    approx_percentile(1e-4 accuracy) -- same plan, sketch-sized agg
    state instead of per-group sorted values.
    """
    cuts = (
        documents.groupBy("lang")
        .agg(
            F.percentile(F.col("n_chars"), F.array(F.lit(0.05), F.lit(0.95))).alias(
                "p"
            )
        )
        .select(
            "lang",
            F.element_at("p", 1).alias("lo_cut"),
            F.element_at("p", 2).alias("hi_cut"),
        )
    )
    return _length_band_report(documents, cuts)


def _length_band_report(documents: DataFrame, cuts: DataFrame) -> DataFrame:
    """Shared tail of the exact/approx length filters: broadcast the
    |langs|-row cutoff table back and report survival per lang --
    one place so the two forms can never drift apart in contract."""
    kept = (F.col("n_chars") >= F.col("lo_cut")) & (F.col("n_chars") <= F.col("hi_cut"))
    return (
        documents.join(F.broadcast(cuts), "lang")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            rnd(F.max("lo_cut"), 4).alias("lo_cut"),
            rnd(F.max("hi_cut"), 4).alias("hi_cut"),
            F.sum(kept.cast("int")).cast("bigint").alias("n_kept"),
            rnd(F.sum(kept.cast("int")) / F.count(F.lit(1)), 6).alias("kept_share"),
        )
    )


def doc_length_percentile_filter_approx(
    documents: DataFrame, accuracy: int = 10000
) -> DataFrame:
    """The 100 TB form of doc_length_percentile_filter: cutoffs from
    approx_percentile (KLL-style sketch, mergeable map-side, state
    O(accuracy) per lang instead of the exact form's per-group sorted
    values).  Same contract and columns; cutoffs differ from exact by
    at most the sketch's rank-error bound (tolerance-tested against
    the exact twin, <=1% relative -- the NO_ORACLE sketch-op pattern,
    like votes_approx_stats).
    """
    cuts = (
        documents.groupBy("lang")
        .agg(
            F.approx_percentile(
                F.col("n_chars"), F.array(F.lit(0.05), F.lit(0.95)), F.lit(accuracy)
            ).alias("p")
        )
        .select(
            "lang",
            F.element_at("p", 1).cast("double").alias("lo_cut"),
            F.element_at("p", 2).cast("double").alias("hi_cut"),
        )
    )
    return _length_band_report(documents, cuts)


def doc_field_completeness(documents: DataFrame) -> DataFrame:
    """Column-level completeness profile of the documents table:
    null count, empty/blank count, and distinct cardinality per field
    -- the first table any data-quality dashboard shows.  (Engine
    completeness: profiling surface.)

    Scale shape: ONE pass, every metric a conditional column
    aggregate with map-side partial agg; the unpivot runs on the
    single aggregated row.  Exact distinct counts are fine at dim
    cardinality; swap approx_count_distinct at 100 TB (same plan,
    sketch state).
    """
    cols = ["text", "lang", "source"]
    aggs = []
    for c in cols:
        aggs += [
            F.sum(F.col(c).isNull().cast("int")).alias(f"n_null_{c}"),
            F.sum(
                (F.col(c).isNotNull() & (F.trim(F.col(c)) == "")).cast("int")
            ).alias(f"n_blank_{c}"),
            F.count_distinct(F.col(c)).alias(f"n_distinct_{c}"),
        ]
    row = documents.agg(F.count(F.lit(1)).alias("n_rows"), *aggs)
    stack = F.expr(
        "stack({n}, {args}) AS (field, n_null, n_blank, n_distinct)".format(
            n=len(cols),
            args=", ".join(
                f"'{c}', n_null_{c}, n_blank_{c}, n_distinct_{c}" for c in cols
            ),
        )
    )
    return row.select("n_rows", stack).select(
        "field",
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("n_null").cast("bigint").alias("n_null"),
        F.col("n_blank").cast("bigint").alias("n_blank"),
        F.col("n_distinct").cast("bigint").alias("n_distinct"),
    )


def doc_length_mad_outliers(documents: DataFrame) -> DataFrame:
    """Robust per-language length-outlier screen: flag docs whose
    |n_chars - median| exceeds MAD_OUTLIER_K x the median absolute
    deviation.  Median/MAD resist the heavy tails that wreck a
    mean/stddev z-score on document lengths (one mega-doc shifts the
    mean; it cannot shift the median) -- the screen quality teams
    actually run on length.  (No reference analog -- training-data
    mandate.)

    Scale shape: two dim-sized percentile aggs (|langs| rows each)
    with broadcast joins back; the flag test is map-side.  At 100 TB
    swap percentile for approx_percentile exactly as
    doc_length_percentile_filter documents -- same plan shape.
    Numeric determinism: medians of integers are exact half-integers
    and K*MAD stays in exact-double territory, so the cutoff
    predicate is bit-identical cross-engine (no float-sum ordering).
    """
    from ..constants import MAD_OUTLIER_K

    med = documents.groupBy("lang").agg(
        F.percentile(F.col("n_chars"), F.lit(0.5)).alias("med")
    )
    dev = documents.join(F.broadcast(med), "lang").select(
        "lang", "n_chars", "med", F.abs(F.col("n_chars") - F.col("med")).alias("dev")
    )
    mad = dev.groupBy("lang").agg(
        F.percentile(F.col("dev"), F.lit(0.5)).alias("mad")
    )
    flagged = (F.col("dev") > F.lit(MAD_OUTLIER_K) * F.col("mad")).cast("int")
    return (
        dev.join(F.broadcast(mad), "lang")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            rnd(F.max("med"), 4).alias("median_chars"),
            rnd(F.max("mad"), 4).alias("mad_chars"),
            F.sum(flagged).cast("bigint").alias("n_outliers"),
            rnd(F.sum(flagged) / F.count(F.lit(1)), 6).alias("outlier_rate"),
        )
    )


def doc_winnowing_fingerprints(documents: DataFrame) -> DataFrame:
    """Winnowing fingerprint audit (Schleimer et al., SIGMOD'03 --
    the MOSS algorithm): hash every WINNOW_K-char gram, slide a
    window of WINNOW_W consecutive hashes, and select each window's
    rightmost-minimal hash.  Guarantee min-shingle fingerprints lack:
    any substring match of length >= W+K-1 chars produces a shared
    fingerprint.  Report per (lang, source): fingerprint density and
    the share of docs sharing >= 1 fingerprint with another doc (the
    local plagiarism/boilerplate signal).  (No reference analog --
    training-data mandate.)

    Scale shape: position explode is per-doc bounded (same shape as
    the char-trigram ops); the selection window partitions by doc_id
    and looks W-1 rows ahead -- no cross-doc state.  The window sort
    IS the cost center (position-level rows), so the sorted row is
    kept minimal: a BIGINT gram hash (fixed-width hex order ==
    numeric order, so selection is unchanged vs the oracle's string
    min) and a 1-byte window-start flag instead of carrying doc
    length -- measured 56 MiB shuffle + 298 MiB sort spill at sf0.1
    with 24-byte string hashes, 2.3x less after this slimming.  An
    all-array rewrite (no explode, transform+array_min per position)
    was measured and REJECTED: bit-identical but interpreted-HOF
    evaluation made it >100x slower at sf0.1.  Fingerprint sharing is
    one groupBy on the 32-bit hash space (bounded occupancy), and the
    report aggregates to |langs|x|sources| rows.  Selection rule: min
    over struct(hash, -pos) picks the rightmost-minimal hash per
    window.  The fingerprint set feeds THREE consumers (per-doc
    counts, shared-hash classes, membership), so it persists -- one
    explode+window pass, not three.
    """
    from pyspark.sql import Window

    from ..constants import WINNOW_K, WINNOW_W

    npos = F.length("text") - WINNOW_K + 1
    # spread the few-split scan across cores BEFORE the per-position
    # md5 work (measured 1.5x at sf0.1: 3.6 -> 2.4 s) -- the window's
    # own exchange comes too late to parallelize gram hashing.  Hash-
    # partition on doc_id (not round-robin): the selection window
    # needs ClusteredDistribution(doc_id), so partitioning the DOC
    # rows by the same key lets the window reuse it and the position-
    # level rows are never shuffled -- the doc-level exchange carries
    # the raw text instead of per-position rows.  Measured sf0.1:
    # shuffle write 27.1 MiB -> 1.3 MiB (20x); wall-clock at sf1 is
    # unchanged steady-state (~4.7 s both forms, interleaved A/B x3 --
    # local[32] shuffles through memory, so the win is cluster network
    # bytes, not local seconds).
    grams = (
        documents.where(npos >= 1)
        .repartition(
            documents.sparkSession.sparkContext.defaultParallelism,
            F.col("doc_id"),
        )
        .select(
            "doc_id",
            npos.alias("npos"),
            F.posexplode(F.sequence(F.lit(1), npos)).alias("i", "pos"),
            F.col("text"),
        )
        .select(
            "doc_id",
            "pos",
            # windows must fit inside the doc: starts 1 .. npos-W+1
            (F.col("pos") <= F.col("npos") - WINNOW_W + 1).alias("is_start"),
            F.conv(
                F.substring(
                    F.md5(F.substr("text", F.col("pos"), F.lit(WINNOW_K))), 1, 8
                ),
                16,
                10,
            )
            .cast("bigint")
            .alias("h"),
        )
    )
    w_sel = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, WINNOW_W - 1)
    )
    # the struct min carries the winning hash itself, so selection and
    # fingerprint extraction are one window pass -- no join-back; the
    # distinct collapses repeated selections of the same hash
    fp = (
        grams.withColumn(
            "sel",
            F.min(F.struct(F.col("h"), (-F.col("pos")).alias("np"))).over(w_sel),
        )
        .where(F.col("is_start"))
        .select("doc_id", F.col("sel")["h"].alias("h"))
        .distinct()
        .persist()
    )
    shared_h = (
        fp.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") > 1)
        .select("h")
    )
    per_doc = fp.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fp"))
    docs_shared = (
        fp.join(shared_h, "h")
        .select("doc_id")
        .distinct()
        .withColumn("has_shared", F.lit(1))
    )
    return (
        documents.select("doc_id", "lang", "source")
        .join(per_doc, "doc_id", "left")
        .join(docs_shared, "doc_id", "left")
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce(F.col("n_fp"), F.lit(0))).cast("bigint").alias(
                "total_fp"
            ),
            rnd(
                F.sum(F.coalesce(F.col("n_fp"), F.lit(0)))
                / F.count(F.lit(1)),
                4,
            ).alias("avg_fp_per_doc"),
            F.sum(F.coalesce(F.col("has_shared"), F.lit(0))).cast("bigint").alias(
                "docs_with_shared_fp"
            ),
            rnd(
                F.sum(F.coalesce(F.col("has_shared"), F.lit(0)))
                / F.count(F.lit(1)),
                6,
            ).alias("shared_doc_share"),
        )
    )


def domain_quality_topk(documents: DataFrame) -> DataFrame:
    """Per-source curation short-list: the QUALITY_TOPK highest-
    quality docs of every source, ranked by the composite quality
    score (_doc_quality -- identical formula to text_quality_score)
    with doc_id ascending as the deterministic tie-break.  The "keep
    the best K pages per domain" selection every curated crawl
    pipeline runs before mixing.

    Scale shape: scoring is a map-side array expression inside
    codegen; ranking is one row_number window partitioned by source
    -- a single shuffle on the source key, each task bounded by that
    domain's doc count.  For a pathologically hot domain the
    two-phase top-K (per-partition local top-K, then top-K of the
    K x P survivors) drops in without changing the contract; at
    observed domain cardinalities the plain window wins (one scan,
    no candidate union).  The score is rounded BEFORE ranking so the
    window ordering key is engine-exact (no float-sum tie hazard).
    """
    from pyspark.sql import Window

    from ..constants import QUALITY_TOPK

    scored = documents.select(
        "source", "doc_id", tokens(F.col("text")).alias("toks")
    ).select(
        "source",
        "doc_id",
        F.when(F.size("toks") > 0, _doc_quality(F.col("toks")))
        .otherwise(F.lit(0.0))
        .alias("quality"),
    )
    w = Window.partitionBy("source").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    return scored.withColumn(
        "quality_rank", F.row_number().over(w).cast("int")
    ).where(F.col("quality_rank") <= QUALITY_TOPK)


def _doc_toks_base(documents: DataFrame) -> DataFrame:
    """PERSISTED (doc_id, lang, source, toks) token frame -- one
    corpus scan + tokenize behind a round-robin barrier, shared by
    every op that consumes the positional bigram stream
    (bigram_logprob_score, dsir_importance_score) so the tokenize
    pass and its oracle-mirrored semantics live in one place.
    Released by the harnesses' per-query clearCache."""
    return (
        documents.select("doc_id", "lang", "source", "text")
        .repartition(documents.sparkSession.sparkContext.defaultParallelism)
        .select(
            "doc_id", "lang", "source", tokens(F.col("text")).alias("toks")
        )
        .persist()
    )


def _bigrams_of(toks):
    """Positional word-bigram array of a token-array column -- THE
    single bigram definition (zip_with over two slices), mirrored in
    every consumer's oracle.  Guard like word_shingles/char_ngrams: a
    0/1-token doc has no bigrams; F.slice with a negative length
    would throw INVALID_PARAMETER_VALUE.LENGTH and abort the whole
    query."""
    return F.when(
        F.size(toks) >= 2,
        F.zip_with(
            F.slice(toks, 1, F.size(toks) - 1),
            F.slice(toks, 2, F.size(toks) - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))


def bigram_logprob_score(documents: DataFrame) -> DataFrame:
    """Interpolated bigram-LM quality screen -- the next rung above
    unigram_logprob_score on the CCNet-style perplexity ladder: every
    document scored by the mean log-probability of its POSITIONAL
    word bigrams under lambda*P(w2|w1) + (1-lambda)*P(w2)
    (Jelinek-Mercer interpolation), reported per (lang, source).
    Fluent prose keeps high-probability transitions; shuffled-word
    soup that fools a unigram model scores low here.

    Scale shape: mirrors unigram_logprob_score's head/tail split --
    the r11 sf100 catch applies with interest here (unigram's single
    full-vocab model broadcast died at 9.7 GiB > Spark's 8 GiB cap;
    this op used to broadcast THREE corpus-scaled models: bigram,
    context, unigram).  The fix assembles ONE consolidated per-bigram
    logp model on the VOCAB-sized distinct-bigram frame (the
    ctx/unigram/total joins run vocab-against-vocab, never against the
    corpus stream -- per-w1 groups are bounded by distinct successors,
    not corpus frequency, so no hot task), persists it, and head/tail
    splits it ONCE: the top-BIGRAM_HEAD_TOP_K transitions by count
    broadcast bounded; tail misses shuffle-join skew-free (see
    _lm_head_tail_stats).  Result-identical to the full join -- logp
    per bigram is computed from the same (bi_cnt, ctx_cnt, uni_cnt,
    n_total) -- and below K distinct bigrams the tail is empty and the
    plan degenerates to an exact bounded broadcast.  Model building is
    groupBy counts with map-side partial agg (the Zipf head collapses
    before the shuffle) over the persisted _doc_toks_base token frame
    (one corpus scan + tokenize feeds the bigram stream, the unigram
    stream, and scoring; r5 fold).
    """
    from ..constants import BIGRAM_HEAD_TOP_K, BIGRAM_LAMBDA

    base = _doc_toks_base(documents)
    toks = F.col("toks")
    bigrams = _bigrams_of(toks)
    pair = base.select(
        "doc_id", "lang", "source", bigrams.alias("bigrams")
    ).where(F.size("bigrams") >= 1).select(
        "doc_id", "lang", "source", F.explode("bigrams").alias("bigram")
    )
    tok = base.select(F.explode(toks).alias("term"))
    uni = tok.groupBy("term").agg(F.count(F.lit(1)).alias("uni_cnt"))
    total = uni.agg(F.sum("uni_cnt").cast("double").alias("n_total"))
    bi = pair.groupBy("bigram").agg(F.count(F.lit(1)).alias("bi_cnt"))
    ctx = bi.groupBy(
        F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)).alias("w1")
    ).agg(F.sum("bi_cnt").alias("ctx_cnt"))
    p_bi = F.col("bi_cnt") / F.col("ctx_cnt")
    p_uni = F.col("uni_cnt") / F.col("n_total")
    # consolidated model: vocab-sized joins only (no broadcast hints
    # -- the model sides are corpus-scaled aggregates; AQE picks the
    # physical join from runtime sizes).  Persisted so head top-K and
    # tail anti-join read it once (harness clearCache releases it).
    model = (
        bi.withColumn("w1", F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)))
        .withColumn("w2", F.split_part(F.col("bigram"), F.lit(" "), F.lit(2)))
        .join(ctx, "w1")
        .join(uni.withColumnRenamed("term", "w2"), "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "bigram",
            "bi_cnt",
            F.log(
                F.lit(BIGRAM_LAMBDA) * p_bi + F.lit(1.0 - BIGRAM_LAMBDA) * p_uni
            ).alias("logp"),
        )
        .persist()
    )
    head = model.orderBy(F.col("bi_cnt").desc(), "bigram").limit(
        BIGRAM_HEAD_TOP_K
    ).persist()
    model_h = head.select("bigram", "logp")
    model_t = model.join(
        F.broadcast(head.select("bigram")), "bigram", "left_anti"
    ).select("bigram", "logp")
    return _lm_head_tail_stats(pair, "bigram", model_h, model_t)


def dsir_importance_score(documents: DataFrame) -> DataFrame:
    """DSIR-style importance scores (Xie et al. 2023,
    arXiv:2302.03169 -- Data Selection via Importance Resampling):
    every non-eval doc scored by the mean log-ratio of a TARGET
    hashed-bigram distribution (the eval source standing in for the
    high-quality target set) over the RAW corpus distribution,
    Laplace(+1)-smoothed.  High scores = docs whose bigram profile
    looks like the target -- the sampling weight a DSIR selection
    pass resamples by; the selection itself composes via the
    corpus_* ops (the report -> transform convention).

    Scale shape -- hashing is the whole point: both distributions are
    DSIR_BUCKETS (512) numbers however large the vocabulary, so the
    log-ratio table is a bona-fide broadcast model at any corpus
    size (the unigram-LM broadcast rationale without its top-K cap).
    One corpus scan builds the bucket stream (tokenize once, persist,
    the bigram_logprob fold); model building is ONE bounded groupBy
    (conditional t/r sums); the 512-double model publishes as an
    in-plan literal and scoring folds it map-side over each doc's
    bigram array -- no explode, no join, no doc-keyed shuffle.
    Determinism: integer bucket counts, the log-ratio expression is
    mirrored token-for-token in the oracle, and the per-doc double
    avg rounds to 4 (the logprob-family convention).
    """
    from ..constants import DSIR_BUCKETS, EVAL_SOURCE
    from ..functions.columns import md5_mod_bucket

    # the SHARED tokenize pass + bigram definition (one place, one
    # oracle mirror -- _doc_toks_base/_bigrams_of)
    base = _doc_toks_base(documents)
    bigrams = _bigrams_of(F.col("toks"))
    # model pass (r12): ONE explode scan with conditional per-bucket
    # sums replaces the two filtered groupBys (the t/r streams are a
    # partition of the same bucket stream, so COUNT(*)-after-filter ==
    # SUM(CASE) on the union -- identical integers); both totals then
    # read the 512-row frame, never the corpus
    cnts = (
        base.select("source", F.explode(bigrams).alias("bigram"))
        .select(
            "source",
            md5_mod_bucket(F.col("bigram"), DSIR_BUCKETS).alias("b"),
        )
        .groupBy("b")
        .agg(
            F.sum(
                F.when(F.col("source") == EVAL_SOURCE, 1).otherwise(0)
            ).alias("t_cnt"),
            F.sum(
                F.when(F.col("source") != EVAL_SOURCE, 1).otherwise(0)
            ).alias("r_cnt"),
        )
    )
    totals = cnts.agg(
        F.coalesce(F.sum("t_cnt"), F.lit(0)).alias("tt"),
        F.coalesce(F.sum("r_cnt"), F.lit(0)).alias("rt"),
    )
    buckets = documents.sparkSession.range(DSIR_BUCKETS).select(
        F.col("id").cast("int").alias("b")
    )
    # the log-ratio expression is mirrored literally in the oracle
    # (identical parenthesization, both operands cast to double before
    # the division); values are COMPUTED BY SPARK here exactly as the
    # old broadcast-join plan computed them, then published in-plan
    lr = (
        buckets.join(cnts, "b", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "b",
            (
                F.log(
                    (F.coalesce("t_cnt", F.lit(0)) + 1).cast("double")
                    / (F.col("tt") + DSIR_BUCKETS).cast("double")
                )
                - F.log(
                    (F.coalesce("r_cnt", F.lit(0)) + 1).cast("double")
                    / (F.col("rt") + DSIR_BUCKETS).cast("double")
                )
            ).alias("lr"),
        )
    )
    # r12: the model is DSIR_BUCKETS doubles BY CONSTRUCTION (the
    # hashing is the whole point) -- publish it as an in-plan literal
    # (the QC-model idiom) and fold each doc's mean log-ratio map-side
    # over its bigram array: no explode, no per-bucket broadcast join,
    # no doc-keyed shuffle.  Summation order is the explode order the
    # old Average agg consumed (doc rows are partition-contiguous
    # behind _doc_toks_base's round-robin barrier), so the per-doc
    # double sum -- and the 4-rounded publication -- are bit-identical.
    lr_by_b = {int(r["b"]): float(r["lr"]) for r in lr.collect()}
    # one array Literal instead of 512 F.lit py4j calls (value- and
    # optimized-plan-identical: CreateArray of literals constant-folds
    # to the same Literal; r13)
    lr_lit = F.lit([lr_by_b[i] for i in range(DSIR_BUCKETS)]).cast("array<double>")
    n_bg = F.size("bigrams")
    lr_sum = F.aggregate(
        F.col("bigrams"),
        F.lit(0.0),
        lambda acc, bgm: acc
        + F.element_at(lr_lit, md5_mod_bucket(bgm, DSIR_BUCKETS) + 1),
    )
    return (
        base.where(F.col("source") != EVAL_SOURCE)
        .select(
            "doc_id", "lang", "source", bigrams.alias("bigrams")
        )
        .where(n_bg >= 1)
        .select(
            "doc_id",
            "lang",
            "source",
            n_bg.cast("bigint").alias("n_bigrams"),
            rnd(lr_sum / n_bg, 4).alias("dsir_logratio"),
        )
    )


def text_entropy_score(documents: DataFrame) -> DataFrame:
    """Shannon token-entropy quality screen: every document scored by
    the entropy of its within-doc token distribution (-sum p*ln p),
    reported per (lang, source).  The information-theoretic
    boilerplate detector: keyword-stuffed or looping spam has LOW
    entropy for its length, natural prose sits near ln(vocab-in-doc).
    Complements the bigram LM (which needs a corpus model) with a
    per-doc signal that needs none.

    Scale shape: the score is FULLY MAP-SIDE (an explode +
    groupBy(doc, term) + doc-total window costs two corpus-wide
    shuffles for a quantity each row can compute alone; measured:
    that plan carried 3 Exchanges, this one only the small report
    agg).  The per-doc pass is the Arrow-batched entropy_pandas --
    np.unique run counts + a SEQUENTIAL cumsum in sorted-token order,
    bit-identical to the Catalyst run-length fold kept below as
    _entropy_fold_column (the semantics reference, pinned equal in
    tests/test_functions.py).  The fold's interpreted one-struct-per-
    token aggregate measured 4.5 s vs ~1 s for the Arrow pass at
    sf0.1 -- the documented reason a Pandas UDF sits in this hot path.
    """
    from ..functions.pandas_udfs import entropy_pandas

    n_toks = F.size(tokens(F.col("text")))
    per_doc = documents.where(n_toks > 0).select(
        "lang", "source", entropy_pandas(F.col("text")).alias("entropy")
    )
    return per_doc.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        rnd(F.avg("entropy"), 4).alias("avg_entropy"),
        rnd(F.min("entropy"), 4).alias("min_entropy"),
        rnd(F.max("entropy"), 4).alias("max_entropy"),
    )


def _entropy_fold_column():
    """The pure-Catalyst token-entropy expression: array_sort the
    tokens and fold run-lengths of equal adjacent tokens into the
    entropy sum in one linear pass, accumulating in sorted-token
    order (deterministic float sum).  Kept as the semantics reference
    for entropy_pandas (pinned equal in tests) and for environments
    where the Arrow path is unavailable.  No O(len^2) array scans (a
    filter-count per distinct token would quadratic-scan long docs).
    """
    st = F.array_sort(tokens(F.col("text")))
    n = F.size(st).cast("double")

    def run_h(run):
        p = run.cast("double") / n
        return -p * F.log(p)

    zero = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0.0).alias("acc"),
    )

    def merge(a, w):
        return F.when(
            w.eqNullSafe(a["prev"]),
            F.struct(
                a["prev"].alias("prev"),
                (a["run"] + 1).alias("run"),
                a["acc"].alias("acc"),
            ),
        ).otherwise(
            F.struct(
                w.alias("prev"),
                F.lit(1).alias("run"),
                (
                    a["acc"]
                    + F.when(a["run"] > 0, run_h(a["run"])).otherwise(F.lit(0.0))
                ).alias("acc"),
            )
        )

    def finish(a):
        return a["acc"] + F.when(a["run"] > 0, run_h(a["run"])).otherwise(
            F.lit(0.0)
        )

    return F.aggregate(st, zero, merge, finish)


def _bpe_train(documents: DataFrame, n_merges=None):
    """Distributed BPE tokenizer TRAINING: run BPE_MERGE_STEPS greedy
    merge steps over the corpus and return (merge table rows, final
    vocab frame) -- the merge table is the artifact
    (step, left, right, pair_count, new_symbol) -- the artifact a
    tokenizer build hands to the encoder (bpe_pair_counts is one
    round of the pair statistics; this is the full training loop).

    Algorithm (Sennrich et al. 2016, the classic trainer): BPE trains
    on the WORD-FREQUENCY table, not the raw corpus -- one corpus
    shuffle builds (word, freq), and every iteration after that works
    on a vocab-bounded frame.  Each step counts adjacent symbol pairs
    weighted by word frequency (map-side positional explode + one
    small agg shuffle), takes the argmax (TakeOrdered, 1 row -- a
    model artifact collect like the k-means centroids), and rewrites
    each word's symbol array with the merge applied left-to-right
    greedily.  The rewrite is a pure Catalyst fold: accumulate a
    unit-separator-joined string, appending ``right`` directly when
    the accumulator's last symbol equals ``left`` (that IS the greedy
    left-to-right scan: a symbol produced by a merge this pass can
    never equal ``left`` again, because new symbols are strict
    concatenations), then re-split.  Ties break on (count desc, left
    asc, right asc) so the merge table is engine-exact; the oracle
    unrolls the same loop into chained CTEs (the pagerank precedent)
    with DuckDB's list_reduce as the same fold.

    Scale shape: iteration state is O(|vocab|), never O(corpus);
    lineage is cut per step (dedup._lineage_cut -- reliable
    checkpoint when a dir is configured).  Pair counting shuffles
    |vocab| rows on a bounded key; the argmax is
    TakeOrderedAndProject.  At 10^9-word corpora the vocab table is
    ~10^7 rows -- one executor's worth of work per step.
    """
    from ..constants import BPE_MERGE_STEPS
    from .dedup import _lineage_cut

    n_merges = BPE_MERGE_STEPS if n_merges is None else n_merges
    spark = documents.sparkSession
    sep = "\x1f"
    chars = F.transform(
        F.sequence(F.lit(1), F.length("w")),
        lambda i: F.substring(F.col("w"), i, F.lit(1)),
    )
    vocab = _lineage_cut(
        documents.select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select("w", "freq", chars.alias("syms"))
    )
    merges = []
    for step in range(1, n_merges + 1):
        best = (
            _bpe_pair_counts(vocab)
            .orderBy(
                F.col("pair_count").desc(),
                F.col("left").asc(),
                F.col("right").asc(),
            )
            .limit(1)
            .collect()
        )
        if not best:
            break
        left, right = best[0]["left"], best[0]["right"]
        merges.append((step, left, right, int(best[0]["pair_count"]), left + right))
        l_lit, r_lit = F.lit(left), F.lit(right)
        merged = F.aggregate(
            F.slice(F.col("syms"), 2, F.greatest(F.size("syms") - 1, F.lit(0))),
            F.element_at("syms", 1),
            lambda acc, s: F.when(
                (s == r_lit)
                & ((acc == l_lit) | F.endswith(acc, F.lit(sep + left))),
                F.concat(acc, r_lit),
            ).otherwise(F.concat(acc, F.lit(sep), s)),
        )
        vocab = _lineage_cut(
            vocab.select("w", "freq", F.split(merged, sep).alias("syms"))
        )
    return merges, vocab


def _bpe_pair_counts(vocab: DataFrame) -> DataFrame:
    """(left, right, pair_count) adjacent-symbol pair counts weighted
    by word frequency -- ONE definition shared by the sequential and
    batched trainers so the two can never count apart."""
    return (
        vocab.where(F.size("syms") >= 2)
        .select(
            "freq",
            F.explode(F.sequence(F.lit(1), F.size("syms") - 1)).alias("i"),
            "syms",
        )
        .select(
            F.element_at("syms", F.col("i")).alias("left"),
            F.element_at("syms", F.col("i") + 1).alias("right"),
            "freq",
        )
        .groupBy("left", "right")
        .agg(F.sum("freq").alias("pair_count"))
    )


def _bpe_train_batched(documents: DataFrame, n_merges=None, batch=None):
    """Batched BPE trainer: ceil(n_merges/batch) passes; each pass
    counts pairs ONCE, greedily selects up to ``batch`` pairs in
    (count desc, left, right) order subject to SYMBOL-DISJOINTNESS
    ({left, right, left||right} of every selected pair disjoint from
    every other selected pair's triple), and applies all of them in a
    single rewrite fold.

    Why disjointness makes the single fold exact: a merge in the
    batch can neither create nor destroy an occurrence of another
    selected pair (no shared boundary symbol, and a batch-mate's new
    symbol is excluded from selection), so the one-pass CASE chain
    rewrites exactly what sequential application of the batch would.
    The approximation relative to the classic sequential trainer
    (Sennrich et al. 2016) is only that selections 2..batch within a
    pass rank on PASS-START counts -- counts are not refreshed after
    each merge -- which is the standard batched-BPE trade
    (pair_count in the merge table is likewise the pass-start count).
    A pass that under-fills because every remaining pair conflicts
    simply yields fewer merges; there are no compensating passes, so
    the pass structure is static and the DuckDB oracle unrolls it
    into plain chained CTEs (selection k is an argmax with NOT EXISTS
    conflict filters against selections 1..k-1).

    Scale shape vs the sequential trainer: one vocab-bounded pair
    count + ONE vocab rewrite per ``batch`` merges instead of per
    merge; the per-selection argmaxes within a pass are driver
    round-trips over the CACHED pass count frame (a
    TakeOrderedAndProject over a small materialized frame, not a
    recount).  For a real 100k-merge tokenizer run this divides the
    dominant cost -- corpus-derived recounts and lineage-cut
    rewrites -- by the batch width.  Measured A/B in PLANS.md.
    """
    from ..constants import BPE_BATCH, BPE_MERGE_STEPS
    from .dedup import _lineage_cut

    n_merges = BPE_MERGE_STEPS if n_merges is None else n_merges
    batch = BPE_BATCH if batch is None else batch
    sep = "\x1f"
    chars = F.transform(
        F.sequence(F.lit(1), F.length("w")),
        lambda i: F.substring(F.col("w"), i, F.lit(1)),
    )
    vocab = _lineage_cut(
        documents.select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select("w", "freq", chars.alias("syms"))
    )
    merges = []
    n_passes = -(-n_merges // batch)
    for p in range(n_passes):
        take = min(batch, n_merges - p * batch)
        counts = _bpe_pair_counts(vocab).persist()
        try:
            selected, used = [], []
            for _ in range(take):
                cand = counts
                if used:
                    cand = cand.where(
                        ~F.col("left").isin(used)
                        & ~F.col("right").isin(used)
                        & ~F.concat("left", "right").isin(used)
                    )
                best = (
                    cand.orderBy(
                        F.col("pair_count").desc(),
                        F.col("left").asc(),
                        F.col("right").asc(),
                    )
                    .limit(1)
                    .collect()
                )
                if not best:
                    break
                left, right = best[0]["left"], best[0]["right"]
                selected.append((left, right, int(best[0]["pair_count"])))
                used.extend([left, right, left + right])
        finally:
            counts.unpersist()
        if not selected:
            break
        for left, right, cnt in selected:
            merges.append((len(merges) + 1, left, right, cnt, left + right))

        # NB: the fold lambda must take exactly (acc, s) -- PySpark's
        # lambda factory binds one Column per parameter, defaults
        # included -- so the batch is captured via closure.
        sel = tuple(selected)

        def chain(acc, s):
            expr = F.concat(acc, F.lit(sep), s)
            for left, right, _cnt in reversed(sel):
                expr = F.when(
                    (s == F.lit(right))
                    & ((acc == F.lit(left)) | F.endswith(acc, F.lit(sep + left))),
                    F.concat(acc, F.lit(right)),
                ).otherwise(expr)
            return expr

        merged = F.aggregate(
            F.slice(F.col("syms"), 2, F.greatest(F.size("syms") - 1, F.lit(0))),
            F.element_at("syms", 1),
            chain,
        )
        vocab = _lineage_cut(
            vocab.select("w", "freq", F.split(merged, sep).alias("syms"))
        )
    return merges, vocab


def bpe_train_merges_batched(documents: DataFrame) -> DataFrame:
    """The learned merge table of the BATCHED BPE trainer (see
    _bpe_train_batched for semantics and the scale argument; the
    sequential twin is bpe_train_merges)."""
    merges, _ = _bpe_train_batched(documents)
    return documents.sparkSession.createDataFrame(
        merges,
        "step int, left string, right string, pair_count bigint, new_symbol string",
    )


def bpe_fertility_stats(documents: DataFrame) -> DataFrame:
    """Tokenizer QUALITY report for the trained BPE merges: apply the
    BPE_MERGE_STEPS-merge vocabulary (the exact state bpe_train_merges
    ends on -- shared training loop, one definition) back to the
    corpus and report, per lang: word/char/symbol totals, fertility
    (symbols per word -- the number a tokenizer eval quotes first)
    and compression (chars per symbol).  Train -> apply -> measure is
    the complete tokenizer-build story.

    Scale shape: the trained vocab maps each distinct WORD to its
    post-merge symbol count, so application is a (lang, word)-counts
    frame (one corpus shuffle, map-side partials) joined to the
    vocab-bounded frame on the word key -- the corpus token stream
    itself never carries symbol arrays.  The oracle replays the same
    unrolled merge chain and joins vocab{N} identically."""
    _, vocab = _bpe_train(documents)
    return _fertility_report(documents, vocab)


def _fertility_report(documents: DataFrame, vocab: DataFrame) -> DataFrame:
    """Per-lang fertility/compression report for a trained vocab
    frame (w, freq, syms) -- shared by the sequential and batched
    tokenizer-build stories so the metric definition exists once."""
    per_word = vocab.select("w", F.size("syms").alias("n_syms"))
    lang_words = (
        documents.select("lang", F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    joined = lang_words.join(per_word, "w")
    return joined.groupBy("lang").agg(
        F.sum("n").cast("bigint").alias("n_words"),
        F.sum(F.col("n") * F.length("w")).cast("bigint").alias("total_chars"),
        F.sum(F.col("n") * F.col("n_syms")).cast("bigint").alias("total_symbols"),
        rnd(F.sum(F.col("n") * F.col("n_syms")) / F.sum("n"), 6).alias("fertility"),
        rnd(
            F.sum(F.col("n") * F.length("w"))
            / F.sum(F.col("n") * F.col("n_syms")),
            6,
        ).alias("chars_per_symbol"),
    )


def bpe_fertility_stats_batched(documents: DataFrame) -> DataFrame:
    """Fertility/compression report for the BATCHED trainer's vocab --
    completes the batched tokenizer-build story (train
    bpe_train_merges_batched -> apply -> measure) with the same
    metric definitions as the sequential twin (#bpe_fertility_stats);
    the oracle replays the batched merge chain and joins the final
    bvocab identically."""
    _, vocab = _bpe_train_batched(documents)
    return _fertility_report(documents, vocab)


def bpe_train_merges(documents: DataFrame) -> DataFrame:
    """The learned merge table of the distributed BPE trainer (see
    _bpe_train for the algorithm and scale argument)."""
    merges, _ = _bpe_train(documents)
    return documents.sparkSession.createDataFrame(
        merges,
        "step int, left string, right string, pair_count bigint, new_symbol string",
    )


def _cms_bucket():
    """The CMS bucket column for a frame carrying (d, term): the
    md5-digit row hash over 'd:term' mod CMS_WIDTH -- ONE definition
    shared by the sketch build, the probe side, and the streaming
    twin, so the three can never hash apart."""
    from ..constants import CMS_WIDTH
    from ..functions.columns import md5_mod_bucket

    return md5_mod_bucket(
        F.concat(F.col("d").cast("string"), F.lit(":"), F.col("term")), CMS_WIDTH
    )


def cms_sketch_rows(documents: DataFrame) -> DataFrame:
    """(d, bucket, cnt) Count-Min sketch rows over the corpus token
    stream -- the shared transform behind token_heavy_hitters_cms and
    streaming.stream_token_cms (single logical plan, two execution
    modes).  State/output is bounded by CMS_DEPTH x CMS_WIDTH rows
    regardless of corpus or stream size."""
    from ..constants import CMS_DEPTH

    return (
        documents.select(F.explode(tokens(F.col("text"))).alias("term"))
        .select(
            "term",
            F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))).alias("d"),
        )
        .select("d", _cms_bucket().alias("bucket"))
        .groupBy("d", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_sketch_from_counts(term_counts: DataFrame) -> DataFrame:
    """(d, bucket, cnt) sketch rows folded from a (term, exact_count)
    VOCAB-bounded frame: sum of per-term counts into each row's
    bucket is algebraically identical to counting per-occurrence rows
    (sum over occurrences of 1 == sum over terms of count), but the
    DEPTH-way hash work runs over |vocab| rows instead of |corpus
    tokens| x DEPTH -- the batch-side hot-path fix (the streaming
    twin keeps the per-occurrence cms_sketch_rows shape because
    chained aggregations are illegal in an update-mode stream).
    Same _cms_bucket hash, so the two builds can never hash apart
    (equality pytest-pinned)."""
    from ..constants import CMS_DEPTH

    return (
        term_counts.select(
            "term",
            F.col("exact_count").alias("cnt_in"),
            F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))).alias("d"),
        )
        .select("d", _cms_bucket().alias("bucket"), "cnt_in")
        .groupBy("d", "bucket")
        .agg(F.sum("cnt_in").alias("cnt"))
    )


def token_heavy_hitters_cms(documents: DataFrame) -> DataFrame:
    """Count-Min-Sketch heavy hitters (Cormode & Muthukrishnan 2005)
    with its accuracy audit in the same report: the exact top-HH_TOPK
    tokens next to what a CMS_DEPTH x CMS_WIDTH sketch would answer
    for them, plus the inflation ratio (estimate/exact, always >= 1
    -- CMS never undercounts).  The sizing table for replacing exact
    term counting with bounded-memory sketching at ingest.

    Deterministic BY CONSTRUCTION, so the sketch itself is
    oracle-able exactly: row hashes are the repo's md5-digit buckets
    (functions.columns.md5_mod_bucket over 'd:term'), not a seeded
    RNG.  Scale shape (r5): ONE corpus pass -- the token stream
    collapses to a persisted VOCAB-bounded (term, exact_count) frame
    (map-side partials on the one term shuffle), which feeds BOTH
    the exact top-K and the sketch build; the DEPTH-way row hashing
    runs over |vocab| rows via cms_sketch_from_counts instead of
    exploding every token occurrence x DEPTH (the r4 shape, pure CPU
    inflation).  Sketch state stays DEPTH x WIDTH counters
    regardless of corpus size; the estimate probe joins the tiny
    candidate set against the <= DEPTH*WIDTH-row sketch.  The
    candidate set here is the exact top-K (the audit needs exact
    counts anyway); a pure-sketch deployment tracks candidates with
    a per-partition heap instead -- the sketch side is what this op
    pins.
    """
    from ..constants import CMS_DEPTH, HH_TOPK

    counts = (
        documents.select(F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .persist()
    )
    exact = counts.orderBy(
        F.col("exact_count").desc(), F.col("term").asc()
    ).limit(HH_TOPK)
    cms = cms_sketch_from_counts(counts)
    cand = exact.select(
        "term",
        "exact_count",
        F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))).alias("d"),
    ).select("term", "exact_count", "d", _cms_bucket().alias("bucket"))
    est = (
        cand.join(F.broadcast(cms), ["d", "bucket"])
        .groupBy("term", "exact_count")
        .agg(F.min("cnt").alias("cms_estimate"))
    )
    return est.select(
        "term",
        F.col("exact_count").cast("bigint").alias("exact_count"),
        F.col("cms_estimate").cast("bigint").alias("cms_estimate"),
        rnd(F.col("cms_estimate") / F.col("exact_count"), 6).alias("inflation"),
    )


def token_bucket_counts(documents: DataFrame, streamable: bool = False) -> DataFrame:
    """One wide row per source: DRIFT_BUCKETS md5-mod token-bucket
    counters (c0..c{H-1}) plus the token total -- the shared
    transform behind batch token_bucket_drift and the ingest-time
    streaming.stream_token_drift (same md5 bucket hash as the
    split/CMS machinery, same output schema, so the faces can never
    hash apart -- wide-row equality across both plans is
    pytest-pinned).

    Two plans for one logical result, because the execution modes
    impose different constraints (the cms_sketch_from_counts
    precedent):

    * batch (default): a (source, tok) vocab-sized count first, the
      md5 bucket hash over |source-vocab| rows instead of every token
      occurrence, then a sources-bounded fold into the wide row (the
      cms_sketch_from_counts trick: sum over occurrences of 1 == sum
      over tokens of count).  Measured: 2.9 -> 2.2 s at sf0.1 vs the
      per-occurrence hash; at sf1 it reads 5.4 vs 4.8 s ONLY because
      tools/make_sf1.py's digest-perturbed tokens inflate per-source
      vocabulary toward occurrence count (documented generator
      artifact) -- on a Zipf-real corpus vocab << occurrences and the
      fold wins outright, so it stays.
    * streamable=True: the H conditional sums fold in ONE aggregation
      -- a second grouping after a streaming aggregation is illegal
      in update mode, and the wide row IS the bounded state: sources
      x (H+1) counters, independent of vocabulary and stream length.
    """
    from ..constants import DRIFT_BUCKETS
    from ..functions.columns import md5_mod_bucket

    st = documents.select(
        "source", F.explode(tokens(F.col("text"))).alias("tok")
    )
    if streamable:
        bt = st.select(
            "source", md5_mod_bucket(F.col("tok"), DRIFT_BUCKETS).alias("b")
        )
        # SQL-string builds (plan-identical, ~10x fewer py4j calls; r13)
        return bt.groupBy("source").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            *[
                F.expr(f"sum(cast((b = {i}) as bigint))").alias(f"c{i}")
                for i in range(DRIFT_BUCKETS)
            ],
        )
    # fold from a (source, tok) vocab-sized count first (the
    # cms_sketch_from_counts trick): the md5 bucket hash then runs
    # over |source-vocab| rows instead of every token occurrence
    # (sum over occurrences of 1 == sum over tokens of count)
    vocab = st.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("k"))
    cells = vocab.select(
        "source", md5_mod_bucket(F.col("tok"), DRIFT_BUCKETS).alias("b"), "k"
    )
    # SQL-string builds (plan-identical, ~10x fewer py4j calls; r13)
    return cells.groupBy("source").agg(
        F.sum("k").cast("bigint").alias("n_tokens"),
        *[
            F.expr(
                f"cast(sum(case when (b = {i}) then k else 0 end) as bigint)"
            ).alias(f"c{i}")
            for i in range(DRIFT_BUCKETS)
        ],
    )


def bucket_tv_drift(counts: DataFrame, ref: list[float]) -> DataFrame:
    """(source, n_tokens, tv_drift) from a token_bucket_counts frame
    against a STATIC reference bucket distribution (H floats shipped
    in-closure -- an H-bounded model artifact, the unigram-LM
    pattern).  TV = 0.5 * sum_i |p_i - q_i|, folded in ascending
    bucket order so the double is reproducible cross-engine."""
    from ..constants import DRIFT_BUCKETS

    assert len(ref) == DRIFT_BUCKETS
    # SQL-string / one-literal builds (plan-identical after constant
    # folding, ~10x fewer py4j calls; r13)
    p = F.transform(
        F.expr("array(" + ", ".join(f"c{i}" for i in range(DRIFT_BUCKETS)) + ")"),
        lambda c: c / F.col("n_tokens"),
    )
    q = F.lit([float(x) for x in ref]).cast("array<double>")
    tv = F.lit(0.5) * F.aggregate(
        F.zip_with(p, q, lambda a, b: F.abs(a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return counts.select("source", "n_tokens", rnd(tv, 6).alias("tv_drift"))


def token_bucket_drift(documents: DataFrame) -> DataFrame:
    """Per-source hashed-histogram drift vs the WHOLE corpus: the
    total-variation distance between each source's DRIFT_BUCKETS
    token-bucket distribution and the corpus-wide one -- the cheap,
    bounded-cardinality screen that flags "this feed's language
    shifted" before the exact (vocab-sized) token_distribution_drift
    is worth running.  (No reference analog -- training-data
    mandate.)

    Scale shape: one tokenize pass into a per-source wide row
    (map-side partial agg on a dim key); the corpus reference folds
    from those rows (sources-bounded, never re-reads the corpus) and
    rides a broadcast 1-row frame; TV is a map-side array fold in
    ascending bucket order (reproducible doubles).  Nothing in the
    plan is vocabulary-sized -- the contrast with
    token_distribution_drift's exact KL is the point.
    """
    from ..constants import DRIFT_BUCKETS

    counts = token_bucket_counts(documents).persist()
    # SQL-string builds (plan-identical, ~10x fewer py4j calls; r13)
    corpus = F.broadcast(
        counts.agg(
            F.sum("n_tokens").alias("corpus_n"),
            *[F.expr(f"sum(c{i})").alias(f"t{i}") for i in range(DRIFT_BUCKETS)],
        )
    )
    c_arr = F.expr("array(" + ", ".join(f"c{i}" for i in range(DRIFT_BUCKETS)) + ")")
    t_arr = F.expr("array(" + ", ".join(f"t{i}" for i in range(DRIFT_BUCKETS)) + ")")
    p = F.transform(c_arr, lambda c: c / F.col("n_tokens"))
    q = F.transform(t_arr, lambda c: c / F.col("corpus_n"))
    tv = F.lit(0.5) * F.aggregate(
        F.zip_with(p, q, lambda a, b: F.abs(a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return counts.crossJoin(corpus).select(
        "source", "n_tokens", rnd(tv, 6).alias("tv_drift")
    )


def corpus_span_excised(documents: DataFrame) -> DataFrame:
    """MATERIALIZE the exact-substring excision -- the writer that
    repeated_span_excision's cut list (#47b) feeds: every doc with
    its token counts before/after the cuts and the md5 of the
    excised token stream, so the report -> transform chain is closed
    by an executable op (the curate.py manifest discipline: the
    accounting and the bytes cannot drift apart).  Docs with no cuts
    pass through (hash of their own token stream); join-spaced token
    text is the canonical form both engines hash.

    Scale shape: the cut list is sparse (docs with >= 1 removable
    span), grouped to one spans-array row per cut doc and LEFT-joined
    back (AQE broadcasts the sparse side); the keep-filter is one
    map-side array pass per doc -- O(tokens x spans-per-doc), spans
    bounded by doc length / K; nothing new shuffles beyond the
    excision pipeline itself.
    """
    x = _span_excised_tokens(documents)
    return x.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tokens_before"),
        F.size("kept").cast("bigint").alias("n_tokens_after"),
        F.md5(F.concat_ws(" ", F.col("kept"))).alias("excised_md5"),
    )


def _span_excised_tokens(documents: DataFrame) -> DataFrame:
    """(doc_id, toks, kept): each doc's token array and the array left
    after cutting repeated_span_excision's spans -- the ONE excision
    definition shared by the corpus_span_excised report above and
    curate.py's materializing excision stage, so the accounting and
    the written bytes cannot drift (join-spaced kept tokens are the
    canonical excised text both consumers hash/write)."""
    from .text import repeated_span_excision  # self-module, explicit

    cuts = repeated_span_excision(documents).groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("spans")
    )
    toks_d = (
        documents.select(
            "doc_id",
            F.coalesce(
                tokens(F.col("text")), F.array().cast("array<string>")
            ).alias("toks"),
        )
        # barrier: materialize toks once (the _doc_shingles rationale)
        .repartition(documents.sparkSession.sparkContext.defaultParallelism)
    )
    j = toks_d.join(cuts, "doc_id", "left")
    toks = F.col("toks")
    spans = F.coalesce(
        F.col("spans"),
        F.array().cast("array<struct<span_start:bigint,span_end:bigint>>"),
    )
    kept = F.filter(
        toks,
        lambda x, i: ~F.exists(
            spans,
            lambda s: ((i + 1) >= s["span_start"]) & ((i + 1) <= s["span_end"]),
        ),
    )
    return j.select("doc_id", toks.alias("toks"), kept.alias("kept"))


def _qc_features(documents: DataFrame) -> DataFrame:
    """(doc_id, lang, source, y, b, x): hashed-unigram logistic-
    regression features.  x = in-doc count of bucket b over the doc's
    token count (length-normalized so feature scale is bounded by 1
    whatever the doc length); y = 1 for the held-out quality target
    (EVAL_SOURCE -- the same positive set DSIR's generative model
    uses, here feeding a discriminative one).  Docs with no tokens
    carry no signal and are excluded.

    Scale shape: one tokenize pass (the shared _doc_toks_base), one
    explode + (doc, bucket)-keyed count -- the feature frame is at
    most QC_BUCKETS rows per doc regardless of vocabulary, and every
    downstream training pass consumes THIS frame, never the corpus.
    """
    from ..constants import EVAL_SOURCE, QC_BUCKETS
    from ..functions.columns import md5_mod_bucket

    base = _doc_toks_base(documents)
    return (
        base.where(F.size("toks") >= 1)
        .select(
            "doc_id",
            "lang",
            "source",
            (F.col("source") == EVAL_SOURCE).cast("int").alias("y"),
            F.size("toks").alias("n_toks"),
            F.explode("toks").alias("term"),
        )
        .select(
            "doc_id", "lang", "source", "y", "n_toks",
            md5_mod_bucket(F.col("term"), QC_BUCKETS).alias("b"),
        )
        .groupBy("doc_id", "lang", "source", "y", "n_toks", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "doc_id", "lang", "source", "y", "b",
            (F.col("cnt") / F.col("n_toks")).cast("double").alias("x"),
        )
    )


def _round_py(v: float, n: int) -> float:
    """Python twin of functions.columns.round_half_up -- the SAME
    floor(x*10^n + 0.5)/10^n double arithmetic, so driver-side model
    publication and the oracle's SQL rounding agree bit-for-bit."""
    import math

    s = float(10**n)
    return math.floor(v * s + 0.5) / s


def _qc_train_weights(documents: DataFrame) -> tuple[list[float], float, DataFrame]:
    """QC_ITERS full-batch gradient-descent steps of the hashed-
    feature logistic regression; returns (weights, bias, feats).

    The model is QC_BUCKETS+1 doubles at any corpus size, so the
    per-iteration collect is a bounded model artifact (the repo's
    BPE-argmax / k-means-centroid convention), and weights are
    published HALF-UP at QC_ROUND decimals each step so both engines
    compute step t+1 from the identical step-t model -- float
    reassociation noise in the gradient sums (~1e-13 relative)
    cannot compound across iterations.

    Scale shape (r12 restructure): the feature frame is packed ONCE
    into one bounded array per doc (<= QC_BUCKETS struct<b,x> entries
    whatever the doc length) and persisted; each iteration is then a
    SINGLE pass -- the margin folds map-side over the doc's own array
    with the 128-double model as an in-plan literal (no join, no
    doc-keyed shuffle), and the bucket gradients + the bias gradient
    come back in one 129-group aggregation (bias rides as bucket -1),
    one action per step.  The r11 shape paid two joins, two shuffles
    and two collects per step against an unpacked (doc, bucket) frame.
    Numerics: the fold's summation order differs from the hash-agg's
    only by float reassociation (~1e-13 relative), far under the
    QC_ROUND=1e-6 publication grain both engines round to -- the same
    tolerance argument the r11 plan already relied on (Spark's own
    partial-agg order is nondeterministic).  Iteration 1 runs the
    generic expressions with the all-zero model: 0.0 * x folds to
    exactly 0.0 and sigmoid(0) is exactly 0.5 in IEEE, which is what
    the oracle's closed-form first step hardcodes.
    """
    from ..constants import QC_BUCKETS, QC_ITERS, QC_LR, QC_ROUND

    # persist: every iteration's single pass re-reads the packed
    # frame (released by the harnesses' per-query clearCache)
    fd = (
        _qc_features(documents)
        .groupBy("doc_id", "lang", "source", "y")
        .agg(F.collect_list(F.struct("b", "x")).alias("fx"))
        .persist()
    )
    # the doc count rides step 1's gradient aggregation as bucket -2
    # (one 1.0 term per doc -- SUM of n ones is the exact integer n as
    # a double for any realistic n), so the pre-loop count() action --
    # a full extra pass whose only other job was materializing the
    # persisted frame step 1 would materialize anyway -- is gone (r13,
    # guide "don't compute what you can fold").
    n: int | None = None
    w = [0.0] * QC_BUCKETS
    bias = 0.0
    for _ in range(QC_ITERS):
        r = _qc_resid(w, bias)
        # one exploded struct stream: each doc emits its per-bucket
        # gradient terms plus one bias term keyed b = -1 (and, on the
        # first step only, the count term keyed b = -2)
        term_arrays = [
            F.transform(
                "fx",
                lambda e: F.struct(
                    e["b"].alias("b"), (e["x"] * F.col("r")).alias("g")
                ),
            ),
            F.array(F.struct(F.lit(-1).alias("b"), F.col("r").alias("g"))),
        ]
        if n is None:
            term_arrays.append(
                F.array(F.struct(F.lit(-2).alias("b"), F.lit(1.0).alias("g")))
            )
        terms = F.concat(*term_arrays)
        grads = {
            row["b"]: row["g"]
            for row in fd.select("fx", r.alias("r"))
            .select(F.explode(terms).alias("t"))
            .groupBy(F.col("t.b").alias("b"))
            .agg(F.sum("t.g").alias("g"))
            .collect()
        }
        if n is None:
            n = int(grads.pop(-2, 0.0))
        gb = grads.pop(-1, 0.0)
        w = [
            _round_py(w[i] - QC_LR * grads.get(i, 0.0) / n, QC_ROUND)
            for i in range(QC_BUCKETS)
        ]
        bias = _round_py(bias - QC_LR * gb / n, QC_ROUND)
    return w, bias, fd


def _qc_resid(w: list[float], bias: float) -> "F.Column":
    """Residual sigmoid(bias + w.x) - y over the packed feature
    array ``fx`` -- the model enters as a literal array, so the
    margin is a map-side fold with no join."""
    if bias == 0.0 and not any(w):
        # all-zero model (gradient step 1): every fold term is
        # x * 0.0 = +0.0 (x > 0), the fold is exactly +0.0, and
        # sigmoid(0) is exactly 0.5 in IEEE -- skip the per-element
        # fold entirely; this is the identical closed form the
        # oracle's first step hardcodes (r13).
        return F.lit(0.5) - F.col("y")
    w_arr = F.lit(w).cast("array<double>")
    s = F.aggregate(
        F.transform(
            "fx", lambda e: e["x"] * F.element_at(w_arr, e["b"] + F.lit(1))
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.lit(float(bias)) + s)))
    return p - F.col("y")


def quality_classifier_train(documents: DataFrame) -> DataFrame:
    """The GPT-3-style learned quality filter's TRAINING step (Brown
    et al. 2020 appendix A; CCNet's fastText analogue): a logistic
    regression over hashed unigram features separating the held-out
    quality target (EVAL_SOURCE) from the raw corpus, trained by
    QC_ITERS full-batch gradient steps.  Output is the published
    model: QC_BUCKETS+1 rows of (feature_id, weight), feature_id -1
    being the bias -- the discriminative complement of
    dsir_importance_score's generative log-ratio model, and the model
    quality_classifier_score applies.

    Reference parity: the reference has no learned ops; this is the
    curation-pipeline extension mandate (SURVEY §2 'beyond the
    reference').  Scale: see _qc_train_weights -- the model is 129
    doubles at any corpus size.
    """
    from ..constants import QC_BUCKETS

    w, bias, _feats = _qc_train_weights(documents)
    spark = documents.sparkSession
    rows = [(-1, bias)] + [(i, w[i]) for i in range(QC_BUCKETS)]
    return spark.createDataFrame(rows, "feature_id int, weight double")


def quality_classifier_score(documents: DataFrame) -> DataFrame:
    """Apply the trained quality classifier to every non-target doc:
    quality_prob = sigmoid(bias + w . x) -- the probability the doc
    looks like the held-out quality target, i.e. the keep-score a
    GPT-3-style filtered corpus thresholds or importance-samples on
    (they kept docs with noisy threshold np.random.pareto(9) >
    1 - score; the deterministic analogue composes via the corpus_*
    selection ops, the report -> transform convention).

    Scale shape: training as in _qc_train_weights; scoring is ONE
    map-side broadcast join of the 128-row model onto the persisted
    feature frame + a doc-keyed agg.  Rounded at 6 (the published
    model is exact by construction, the margin sum's reassociation
    noise is ~1e-15 -- far under the rounding grain).

    INTENTIONALLY retrains per invocation: every registry entry is
    self-contained (computes from the raw tables alone) so the DuckDB
    oracle can replay it as one closed CTE chain -- there is no
    artifact store for a fitted model in the oracle contract.  A
    production session that trains then scores should reuse the
    published weights instead of refitting: quality_model(corpus) ->
    score_from_model(documents, weights, bias) is the batch path
    (shuffle-free, model as an in-plan literal), and streaming's
    stream_quality_score is the same plan at the ingest door;
    curate.py's --quality-threshold stage calls this op's exact
    expression ONCE per run (via _qc_scores, which also hands back
    the feature-frame cache for release).
    """
    return _qc_scores(documents)[0]


def score_from_model(
    documents: DataFrame, weights: list[float], bias: float
) -> DataFrame:
    """Batch quality scoring from a PUBLISHED model: apply an
    already-trained (weights, bias) -- streaming.quality_model()'s
    bounded artifact, or quality_classifier_train's rows unzipped --
    to every non-target doc WITHOUT re-running the training loop.
    Same output contract as quality_classifier_score (doc_id, lang,
    source, quality_prob at 6 decimals); this is the production batch
    path the registry op intentionally does not take (its per-call
    retrain keeps the oracle's closed CTE replay possible -- see
    quality_classifier_score's docstring).

    Scale shape: COMPLETELY SHUFFLE-FREE -- the margin folds map-side
    over each doc's own tokens (sum(x_b * w_b) over buckets ==
    sum(w[bucket(tok)]) over tokens, divided by the token count) with
    the QC_BUCKETS-double model as an in-plan literal, so scoring
    runs at scan rate on any corpus size.  The two summation orders
    differ only in float reassociation (~1e-15 relative); agreement
    with the registry op is pytest-pinned at the rounding grain.
    ONE definition for batch and ingest: streaming's
    stream_quality_score delegates here (stateless projection, so the
    identical plan runs under a streaming source)."""
    from ..constants import EVAL_SOURCE, QC_BUCKETS
    from ..functions.columns import md5_mod_bucket

    w_lit = F.lit(weights).cast("array<double>")
    # The tokenizer runs ONCE per row: the empty-doc gate is the
    # split-free equivalent trim(text) != '' (tokens() splits on ' '
    # and drops empties, so size(toks) >= 1 <=> some non-space char
    # survives trim) -- a size(tokens(...)) row filter would be
    # pushed below the projection with the split re-inlined, and the
    # margin fold referencing `toks` twice is what blocks
    # CollapseProject from re-inlining the projection itself (the
    # _doc_shingles barrier rationale, shuffle-free edition).
    base = documents.where(
        (F.col("source") != F.lit(EVAL_SOURCE)) & (F.trim(F.col("text")) != "")
    ).select("doc_id", "lang", "source", tokens(F.col("text")).alias("toks"))
    margin = (
        F.aggregate(
            F.transform(
                F.col("toks"),
                lambda t: F.element_at(w_lit, md5_mod_bucket(t, QC_BUCKETS) + 1),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / F.size("toks")
    )
    prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.lit(float(bias)) + margin)))
    return base.select(
        "doc_id",
        "lang",
        "source",
        rnd(prob, 6).alias("quality_prob"),
    )


def _qc_scores(documents: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(scores, feats): quality_classifier_score's exact scoring plan
    plus the persisted feature-frame handle, so a non-registry caller
    (curate.py's --quality-threshold stage) can unpersist it -- the
    registry harnesses release it via clearCache instead."""
    w, bias, fd = _qc_train_weights(documents)
    # scoring = the same map-side fold as training, final model as a
    # literal: sigmoid(bias + w.x) per non-target doc, no join, no
    # shuffle (r12 -- was a broadcast join + doc-keyed agg).  On the
    # y == 0 rows the residual IS the probability (p - 0, exact).
    scores = fd.where(F.col("y") == 0).select(
        "doc_id",
        "lang",
        "source",
        rnd(_qc_resid(w, bias), 6).alias("quality_prob"),
    )
    return scores, fd
