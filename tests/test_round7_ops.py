"""Round-7 operator tests.

dedup_ngram_jaccard is now SELF-ROUTING: at or below
NGRAM_EXHAUSTIVE_MAX_DOCS it runs the exact exhaustive
block-co-occurrence plan (bit-identical to every prior round's
oracle); above it, the banded-LSH candidate plan
(dedup_ngram_jaccard_scaled's shape) engages -- the semantic_dedup
cell-budget precedent.  These tests pin both sides of the cutover.
"""

from __future__ import annotations

import pytest

from de_realtime_voting_spark import constants
from de_realtime_voting_spark.operators import dedup


def test_shuffle_width_tolerates_non_numeric_conf(spark):
    """The repartition width helper returns the BATCH planning width:
    AQE's initialPartitionNum when set, else
    spark.sql.shuffle.partitions.  The latter may hold "auto" on some
    vendor platforms; the helper must fall back to defaultParallelism
    instead of raising ValueError (ADVICE r6).  Vanilla Spark
    type-checks conf.set, so the non-numeric value is simulated with a
    stub session exposing the same surface."""

    class _Conf:
        def __init__(self, partitions, initial):
            self._values = {
                "spark.sql.shuffle.partitions": partitions,
                "spark.sql.adaptive.coalescePartitions.initialPartitionNum": initial,
            }

        def get(self, key):
            return self._values[key]

    class _Stub:
        def __init__(self, value, parallelism, initial=None):
            self.conf = _Conf(value, initial)
            self.sparkContext = type(
                "SC", (), {"defaultParallelism": parallelism}
            )()

    assert dedup._shuffle_width(_Stub("auto", 7)) == 7
    assert dedup._shuffle_width(_Stub(None, 5)) == 5
    assert dedup._shuffle_width(_Stub("48", 7)) == 48
    # initialPartitionNum (the batch width) wins over the stream width
    assert dedup._shuffle_width(_Stub("4", 4, initial="32")) == 32
    assert dedup._shuffle_width(_Stub("auto", 4, initial="32")) == 32
    # the real session resolves to its batch width, not the stream width
    assert dedup._shuffle_width(spark) == int(
        spark.conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
    )


def _two_doc_cross_bucket_corpus(spark):
    """A near-dup pair whose lengths straddle a len_bucket boundary:
    the exhaustive block join misses it, the banded route finds it --
    the observable difference between the two plans."""
    base = "the quick brown fox jumps over the lazy dog again and again " * 20
    rows = [
        ("d1", base, "en"),
        ("d2", base + "the quick brown fox jumps over the lazy dog again and end", "en"),
    ]
    return spark.createDataFrame(rows, "doc_id string, text string, lang string")


def test_routing_below_cutover_is_exhaustive(spark):
    """Default constants: a 2-doc corpus is far below the cutover, so
    the op must execute the EXHAUSTIVE plan -- which misses the
    cross-bucket pair (bit-identical to the pre-r7 behavior that the
    sf0.001/0.01 oracles pin)."""
    docs = _two_doc_cross_bucket_corpus(spark)
    assert dedup.dedup_ngram_jaccard(docs).collect() == []


def test_routing_above_cutover_is_banded(spark, monkeypatch):
    """Force the cutover below the corpus size: the op must now
    delegate to the banded plan and return exactly its rows."""
    monkeypatch.setattr(constants, "NGRAM_EXHAUSTIVE_MAX_DOCS", 1)
    docs = _two_doc_cross_bucket_corpus(spark)
    routed = dedup.dedup_ngram_jaccard(docs).collect()
    banded = dedup.dedup_ngram_jaccard_scaled(docs).collect()
    assert routed == banded
    assert [(r.doc_a, r.doc_b) for r in routed] == [("d1", "d2")]


def test_routing_schema_identical_across_routes(spark, sf_dir, monkeypatch):
    """Both routes expose the same (doc_a, doc_b, lang, jaccard)
    schema, so callers (and the driver's column-sorted hash) never
    see the cutover."""
    from de_realtime_voting_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    lo = dedup.dedup_ngram_jaccard(docs)
    monkeypatch.setattr(constants, "NGRAM_EXHAUSTIVE_MAX_DOCS", 1)
    hi = dedup.dedup_ngram_jaccard(docs)
    assert lo.columns == hi.columns == ["doc_a", "doc_b", "lang", "jaccard"]
    assert [f.dataType for f in lo.schema.fields] == [
        f.dataType for f in hi.schema.fields
    ]


def _substr_docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "s1") for i, t in enumerate(rows)],
        "doc_id long, text string, lang string, source string",
    )


def test_substring_spans_finds_known_run(spark):
    """Two docs sharing an exact 25-token run at different offsets:
    ONE maximal run row with both 1-based starts and the exact token
    length -- the span-granular answer full-doc hashing cannot give."""
    run = " ".join(f"r{i}" for i in range(25))
    docs = _substr_docs(spark, [
        "a1 a2 a3 a4 a5 " + run + " a6 a7",
        run + " b1 b2 b3 b4 b5 b6 b7 b8 b9",
    ])
    out = dedup.dedup_substring_spans(docs).collect()
    assert [
        (r.doc_a, r.doc_b, r.a_start, r.b_start, r.run_tokens) for r in out
    ] == [(0, 1, 6, 1, 25)]


def test_substring_spans_min_run_filter(spark):
    """A shared run below SUBSTR_RUN_MIN_TOKENS emits nothing, and a
    doc never pairs with itself (intra-doc repetition belongs to
    repeated_ngram_spans)."""
    short_run = " ".join(f"s{i}" for i in range(15))  # < 20 tokens
    docs = _substr_docs(spark, [
        "a1 a2 " + short_run + " a3",
        short_run + " b1 b2 b3 b4 b5",
        # intra-doc repetition only
        " ".join(f"q{i}" for i in range(25)) + " z1 z2 "
        + " ".join(f"q{i}" for i in range(25)),
    ])
    assert dedup.dedup_substring_spans(docs).collect() == []


def test_substring_spans_occurrence_cap_blocks_boilerplate(spark):
    """A run shared by more docs than SUBSTR_GRAM_MAX_OCC occurrences
    allow is boilerplate: its grams exceed the total-occurrence cap
    and generate no pairs -- the hard bound (MAX_OCC^2 per gram) that
    keeps the gram join from going quadratic.  The cap is on
    OCCURRENCES, not df: a run repeated many times across two docs is
    capped just the same."""
    from de_realtime_voting_spark.constants import SUBSTR_GRAM_MAX_OCC

    run = " ".join(f"c{i}" for i in range(30))
    docs = _substr_docs(
        spark,
        [f"u{i} " + run for i in range(SUBSTR_GRAM_MAX_OCC + 5)],
    )
    assert dedup.dedup_substring_spans(docs).collect() == []
    # within-doc repetition counts toward the cap too: 2 docs, each
    # repeating the run ~13x -> occurrences > cap with df=2
    reps = SUBSTR_GRAM_MAX_OCC // 2 + 3
    docs2 = _substr_docs(
        spark,
        [(" zz%d " % i).join([run] * reps) for i in range(2)],
    )
    assert dedup.dedup_substring_spans(docs2).collect() == []


def test_substring_spans_multiple_runs_split(spark):
    """Two shared runs separated by divergent text are reported as
    TWO maximal runs, not merged; each run's length is exact."""
    run1 = " ".join(f"m{i}" for i in range(22))
    run2 = " ".join(f"n{i}" for i in range(20))
    docs = _substr_docs(spark, [
        run1 + " x1 x2 x3 " + run2,
        run1 + " y1 y2 y3 y4 y5 " + run2,
    ])
    out = sorted(
        dedup.dedup_substring_spans(docs).collect(), key=lambda r: r.a_start
    )
    assert [(r.a_start, r.b_start, r.run_tokens) for r in out] == [
        (1, 1, 22),
        (26, 28, 20),
    ]


def test_dsir_target_like_docs_score_higher(spark):
    """A doc whose bigrams match the eval-source target must out-score
    a doc drawn from a disjoint bigram distribution -- the ordering
    DSIR resampling depends on."""
    from de_realtime_voting_spark.operators.text import dsir_importance_score

    target = "the quick brown fox jumps over the lazy dog " * 5
    unlike = "zz1 zz2 zz3 zz4 zz5 zz6 zz7 zz8 zz9 zz10 " * 5
    docs = spark.createDataFrame(
        [
            (0, target, "en", "src0"),   # the eval/target source
            (1, target, "en", "s1"),     # target-like corpus doc
            (2, unlike, "en", "s1"),     # target-unlike corpus doc
        ],
        "doc_id long, text string, lang string, source string",
    )
    rows = {r.doc_id: r for r in dsir_importance_score(docs).collect()}
    assert set(rows) == {1, 2}  # eval docs are never scored
    assert rows[1].dsir_logratio > rows[2].dsir_logratio
    assert rows[1].n_bigrams == 44  # 45 tokens
    assert rows[2].n_bigrams == 49  # 50 tokens


def test_dsir_short_and_no_target_edges(spark):
    """Docs with < 2 tokens have no bigrams and emit nothing; an
    empty target set still scores (Laplace smoothing keeps the
    target distribution proper -- uniform), never errors."""
    from de_realtime_voting_spark.operators.text import dsir_importance_score

    docs = spark.createDataFrame(
        [(1, "single", "en", "s1"), (2, "a b c d e f g h", "en", "s1")],
        "doc_id long, text string, lang string, source string",
    )
    rows = dsir_importance_score(docs).collect()
    assert [r.doc_id for r in rows] == [2]
    assert rows[0].n_bigrams == 7


def test_corpus_dsir_sample_invariants(spark, sf_dir):
    """The DSIR resampling materializer: every source's kept count is
    within its scored count, the per-source scored totals equal the
    DSIR report's doc counts, and the top-weight doc's rate-1 rule
    means at least one doc survives overall."""
    from de_realtime_voting_spark.operators.pipeline import corpus_dsir_sample
    from de_realtime_voting_spark.operators.text import dsir_importance_score
    from de_realtime_voting_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    scored_per_src = {}
    for r in dsir_importance_score(docs).collect():
        scored_per_src[r.source] = scored_per_src.get(r.source, 0) + 1
    spark.catalog.clearCache()
    rows = corpus_dsir_sample(docs).collect()
    assert {r.source: r.n_scored for r in rows} == scored_per_src
    for r in rows:
        assert 0 <= r.n_kept <= r.n_scored
        assert 0.0 < r.avg_keep_rate <= 1.0
    assert sum(r.n_kept for r in rows) > 0
    spark.catalog.clearCache()


def test_routing_agreement_where_blocks_align(spark, sf_dir, monkeypatch):
    """On the sf0.001 corpus the two routes must agree exactly on
    every pair the exhaustive plan emits from a shared band: the
    cutover changes candidate GENERATION, never verification."""
    from de_realtime_voting_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    exhaustive = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.dedup_ngram_jaccard(docs).collect()
    }
    monkeypatch.setattr(constants, "NGRAM_EXHAUSTIVE_MAX_DOCS", 1)
    banded = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.dedup_ngram_jaccard(docs).collect()
    }
    assert banded, "sf0.001 has dup classes; banded route must find some"
    for pair, jac in banded.items():
        if pair in exhaustive:
            assert exhaustive[pair] == jac
