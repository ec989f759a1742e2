"""Round-13 optimization pins.

Each test pins an r13 optimization's equivalence claim:
- the Arrow DUAL cell assigner (the ivf_retrain_report probe-arm
  fuse) is bit-identical to running the single assigner twice;
- the fused ivf_retrain_report output matches the pre-fuse per-arm
  formulation row-for-row (the two _ivf_topk_with passes it replaced);
- the fold twins' degenerate-batch fallback (ADVICE r12) reproduces
  Catalyst null semantics instead of raising/NaN-coercing;
- _cluster_labels with max_iter=1 no longer claims "-1 labels still
  changing" (ADVICE r12), and the every-2nd-round convergence check
  reaches the identical fixpoint as a per-round check.
"""

from __future__ import annotations

import warnings

import pytest
from pyspark.sql import functions as F

from de_realtime_voting_spark.sources import load_table


def test_dual_cell_assigner_bitwise_equals_two_singles(spark, sf_dir):
    from de_realtime_voting_spark.constants import IVF_NPROBE
    from de_realtime_voting_spark.functions.pandas_udfs import (
        make_cell_assigner,
        make_dual_cell_assigner,
    )
    from de_realtime_voting_spark.ivf_model import IVF_TRAINED_CENTROIDS

    cents_a = [(cid, list(emb)) for cid, emb in IVF_TRAINED_CENTROIDS]
    # a genuinely different second set: perturbed + re-rounded, the
    # shape a retrained quantizer takes
    cents_b = [
        (cid, [round(x + 0.01 * ((i % 3) - 1), 4) for i, x in enumerate(emb)])
        for cid, emb in cents_a
    ]
    emb = load_table(spark, sf_dir, "embeddings").limit(256)
    dual = make_dual_cell_assigner(cents_a, cents_b, IVF_NPROBE)
    sa = make_cell_assigner(cents_a, IVF_NPROBE)
    sb = make_cell_assigner(cents_b, IVF_NPROBE)
    rows = emb.select(
        dual(F.col("embedding")).alias("d"),
        sa(F.col("embedding")).alias("a"),
        sb(F.col("embedding")).alias("b"),
    ).collect()
    assert len(rows) > 100
    for r in rows:
        assert r["d"]["cell_a"] == r["a"]["cell"]
        assert list(r["d"]["probes_a"]) == list(r["a"]["probes"])
        assert r["d"]["cell_b"] == r["b"]["cell"]
        assert list(r["d"]["probes_b"]) == list(r["b"]["probes"])


def test_ivf_retrain_report_matches_per_arm_formulation(spark, sf_dir):
    """The fused dual-assignment probe pass must reproduce the
    pre-r13 per-arm recall rows exactly: recompute each arm with the
    unchanged _ivf_topk_with path and compare the recall components
    row-for-row."""
    from de_realtime_voting_spark.constants import IVF_RETRAIN_ITERS
    from de_realtime_voting_spark.operators.similarity import (
        _collect_centroids,
        _ivf_topk_with,
        _lloyd_step,
        ann_bruteforce_topk,
        ivf_retrain_report,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    got = {
        (r["component"], r["cell"]): (r["n"], r["value"])
        for r in ivf_retrain_report(emb).collect()
        if r["component"] in ("recall_trained", "recall_retrained")
    }

    # reference: the r12 per-arm formulation (two independent
    # _ivf_topk_with passes against the same truth set)
    cents0 = _collect_centroids(emb)
    cur = cents0
    for _ in range(IVF_RETRAIN_ITERS):
        cur, _members = _lloyd_step(emb, cur)
    bf = ann_bruteforce_topk(emb).select("query_id", "neighbor_id").persist()
    truth_k = bf.groupBy("query_id").agg(F.count(F.lit(1)).alias("k"))
    want = {}
    for name, cents in (("recall_trained", cents0), ("recall_retrained", cur)):
        hits = (
            _ivf_topk_with(emb, cents)
            .select("query_id", "neighbor_id")
            .join(bf, ["query_id", "neighbor_id"], "left_semi")
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n_hit"))
        )
        for r in truth_k.join(hits, "query_id", "left").collect():
            n = int(r["n_hit"] or 0)
            want[(name, r["query_id"])] = (n, round(n / r["k"], 6))
    bf.unpersist()
    assert set(got) == set(want)
    for key, (n, val) in want.items():
        assert got[key][0] == n, (key, got[key], (n, val))
        assert got[key][1] == pytest.approx(val, abs=1e-9), (key, got[key], val)


def test_fold_twins_degenerate_batches_match_catalyst(spark):
    """Null array / ragged lengths / null element must produce SQL
    NULL from the Arrow twins exactly as the Catalyst
    aggregate(zip_with(...)) folds do (ADVICE r12)."""
    from de_realtime_voting_spark.functions import cosine_similarity, dot_product
    from de_realtime_voting_spark.functions.pandas_udfs import (
        cosine_fold_pandas,
        dot_product_fold_pandas,
    )

    df = spark.createDataFrame(
        [
            (1, [1.0, 2.0, 3.0], [4.0, 5.0, 6.0]),   # dense
            (2, None, [1.0, 2.0, 3.0]),                # null array
            (3, [1.0, 2.0], [1.0, 2.0, 3.0]),          # ragged
            (4, [1.0, None, 3.0], [1.0, 2.0, 3.0]),    # null element
        ],
        "id bigint, a array<double>, b array<double>",
    )
    rows = {
        r["id"]: r
        for r in df.select(
            "id",
            dot_product(F.col("a"), F.col("b")).alias("dc"),
            dot_product_fold_pandas(F.col("a"), F.col("b")).alias("da"),
            cosine_similarity(F.col("a"), F.col("b")).alias("cc"),
            cosine_fold_pandas(F.col("a"), F.col("b")).alias("ca"),
        ).collect()
    }
    assert rows[1]["da"] == rows[1]["dc"] and rows[1]["dc"] is not None
    assert rows[1]["ca"] == rows[1]["cc"]
    for rid in (2, 3, 4):
        assert rows[rid]["dc"] is None, rid
        assert rows[rid]["da"] is None, rid
        assert rows[rid]["cc"] is None, rid
        assert rows[rid]["ca"] is None, rid


def test_dim_agg_sql_builds_plan_identical(spark, sf_dir):
    """The r13 SQL-string expression builds (dim_avg_cols / rnd_sql /
    el_sql) must produce the BIT-IDENTICAL analyzed plan as the py4j
    constructor chain they replaced -- same functions, same implicit
    casts, same rounding tree."""
    import re

    from de_realtime_voting_spark.functions.columns import (
        dim_avg_cols,
        el_sql,
        rnd_sql,
        round_half_up,
    )

    df = load_table(spark, sf_dir, "embeddings")
    el = lambda i: F.element_at("embedding", i + 1).cast("double")  # noqa: E731

    def analyzed(frame):
        return re.sub(r"#\d+", "#", frame._jdf.queryExecution().analyzed().toString())

    # plain means
    old = df.agg(*[F.avg(el(i)).alias(f"m{i}") for i in range(8)])
    new = df.agg(*dim_avg_cols("embedding", 8))
    assert analyzed(old) == analyzed(new)
    # half-up-rounded means (two grains used by the embedding family)
    for g in (6, 9):
        old_r = df.agg(
            *[round_half_up(F.avg(el(i)), g).alias(f"m{i}") for i in range(4)]
        )
        new_r = df.agg(*dim_avg_cols("embedding", 4, round_to=g))
        assert analyzed(old_r) == analyzed(new_r), g
    # second-moment expression (embedding_pca_stats s{i})
    old_s = df.agg(F.avg(el(0) * el(0)).alias("s0"))
    new_s = df.agg(
        F.expr(f"avg({el_sql('embedding', 1)} * {el_sql('embedding', 1)})").alias(
            "s0"
        )
    )
    assert analyzed(old_s) == analyzed(new_s)
    # variance expression (embedding_whitened_norms va)
    old_v = df.agg(
        round_half_up(F.avg(el(0) * el(0)) - F.avg(el(0)) * F.avg(el(0)), 6).alias(
            "v"
        )
    )
    new_v = df.agg(
        F.expr(
            rnd_sql(
                f"(avg({el_sql('embedding', 1)} * {el_sql('embedding', 1)}) - "
                f"(avg({el_sql('embedding', 1)}) * avg({el_sql('embedding', 1)})))",
                6,
            )
        ).alias("v")
    )
    assert analyzed(old_v) == analyzed(new_v)


def test_digest_jaccard_equals_string_jaccard_fixtures(spark):
    """VERDICT r12 item 9: an INDEPENDENT pin for the 60-bit-digest
    Jaccard equivalence (the r12 change edited query and oracle twin
    in lockstep, so parity alone cannot catch a mistake in it).
    Crafted shingle sets -- disjoint, identical, overlapping,
    dup-heavy (arrays with repeated elements), near-miss singletons --
    must give bit-identical Jaccard from string sets and digest
    sets."""
    from de_realtime_voting_spark.functions.columns import md5_int60_set

    rows = [
        (1, ["a b c", "b c d", "c d e"], ["a b c", "b c d", "c d e"]),  # identical
        (2, ["a b c", "b c d"], ["x y z", "y z w"]),                    # disjoint
        (3, ["a b c", "b c d", "c d e"], ["b c d", "c d e", "d e f"]),  # overlap
        (4, ["a b c", "a b c", "b c d"], ["a b c", "b c d", "b c d"]),  # dup-heavy
        (5, ["a b c"], ["a b c "]),                                     # near-miss
        (6, ["über x y", "x y z"], ["über x y", "p q r"]),     # unicode
    ]
    df = spark.createDataFrame(rows, "id bigint, sa array<string>, sb array<string>")
    # the op's exact Jaccard shape (_jac_h): array_intersect/union ARE
    # set operations, so raw arrays go in on both sides, as in the op
    j_str = F.size(F.array_intersect("sa", "sb")) / F.size(F.array_union("sa", "sb"))
    j_dig = F.size(F.array_intersect("da", "db")) / F.size(F.array_union("da", "db"))
    got = df.select(
        "id",
        "sa",
        "sb",
        md5_int60_set(F.col("sa")).alias("da"),
        md5_int60_set(F.col("sb")).alias("db"),
    ).select("id", j_str.alias("js"), j_dig.alias("jd")).collect()
    assert len(got) == len(rows)
    for r in got:
        assert r["js"] == r["jd"], (r["id"], r["js"], r["jd"])


def test_verify_join_digest_sides_equal_legacy_string_sides(spark):
    """VERDICT r12 item 9, cross-check arm: re-run ONE full verify
    join (dedup_minhash_pairs' exact shape) with the LEGACY raw
    string-set sides and assert identical output rows to the shipped
    digest-side op at sf0.01."""
    from de_realtime_voting_spark.constants import JACCARD_THRESHOLD
    from de_realtime_voting_spark.operators.dedup import (
        _band_candidate_pairs,
        _doc_bands_from,
        _doc_shingles,
        dedup_minhash_pairs,
    )

    sf = "/root/testdata/sf0.01"
    docs = load_table(spark, sf, "documents")
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup_minhash_pairs(docs).collect()
    }
    # legacy formulation: raw distinct string sets on both sides
    sh = _doc_shingles(docs).persist()
    cand = _band_candidate_pairs(_doc_bands_from(sh))
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
        F.array_union("sh_a", "sh_b")
    )
    want = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
        .collect()
    }
    sh.unpersist()
    assert got == want and len(got) > 0


def test_cross_band_candidates_emits_only_probe_build_pairs(spark):
    """The asymmetric band join shared by dedup_incremental and
    fuzzy_decontam: on a hand-made band frame it emits probe x build
    collisions only (never probe x probe or build x build), a pair
    sharing two bands once, nothing for an equal hash under a
    different band index, and an empty frame when the build side is
    empty."""
    from de_realtime_voting_spark.operators.dedup import _cross_band_candidates

    rows = [
        # (doc_id, band_idx, band_hash, is_build)
        (1, 0, "h0", True),
        (1, 1, "h1", True),
        (1, 2, "z", True),
        (2, 2, "z", True),  # build x build collision with doc 1
        (2, 3, "w", True),
        (10, 0, "h0", False),  # shares TWO bands with doc 1
        (10, 1, "h1", False),
        (11, 1, "h0", False),  # doc 1's band-0 hash under band 1
        (11, 4, "x", False),
        (12, 4, "x", False),  # probe x probe collision with doc 11
        (12, 3, "w", False),
    ]
    bands = spark.createDataFrame(
        rows, "doc_id bigint, band_idx int, band_hash string, is_build boolean"
    )
    got = _cross_band_candidates(bands, F.col("is_build"), "probe", "build")
    assert got.columns == ["probe", "build"]
    assert sorted((r["probe"], r["build"]) for r in got.collect()) == [
        (10, 1),
        (12, 2),
    ]
    probe_only = bands.where(~F.col("is_build"))
    empty = _cross_band_candidates(probe_only, F.col("is_build"), "probe", "build")
    assert empty.collect() == []


def test_cluster_labels_maxiter1_warning_is_honest(spark, sf_dir):
    """max_iter=1 runs only the folded init round; the non-convergence
    warning must say the count is unverified, not '-1 labels still
    changing' (ADVICE r12)."""
    from de_realtime_voting_spark.operators.dedup import _cluster_labels

    docs = load_table(spark, sf_dir, "documents")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        _cluster_labels(docs, max_iter=1).collect()
    msgs = [str(w.message) for w in caught if w.category is RuntimeWarning]
    assert msgs, "expected the convergence-unverified warning"
    assert any("unverified" in m for m in msgs)
    assert not any("-1 labels" in m for m in msgs)


def test_cluster_labels_every_2nd_round_check_same_fixpoint(spark, sf_dir):
    """The r13 every-2nd-round convergence check must land on the
    identical label fixpoint as an exhaustive iteration budget."""
    from de_realtime_voting_spark.operators.dedup import _cluster_labels

    docs = load_table(spark, sf_dir, "documents")
    a = {
        (r["doc_id"]): r["label"]
        for r in _cluster_labels(docs, max_iter=20).collect()
    }
    b = {
        (r["doc_id"]): r["label"]
        for r in _cluster_labels(docs, max_iter=40).collect()
    }
    assert a == b
    assert len(a) > 0
