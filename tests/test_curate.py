"""The materializing curation pipeline must ship exactly the docs the
oracle-gated accounting queries say it should -- shared definitions
tested end-to-end against the written parquet, not the plan."""

from __future__ import annotations

import json
import os
import shutil
import tempfile

from pyspark.sql import functions as F

from de_realtime_voting_spark.constants import EVAL_SOURCE
from de_realtime_voting_spark.curate import curate_corpus
from de_realtime_voting_spark.operators.pipeline import (
    corpus_quality_keep,
    curation_tags,
    decontam_overlap,
)
from de_realtime_voting_spark.sources import load_table


def test_curate_matches_accounting_report(spark, sf_dir):
    """With decontamination off, the written per-(split, lang) doc
    counts must equal corpus_quality_keep's n_kept column -- the
    materializer and the audit share one keep definition."""
    docs = load_table(spark, sf_dir, "documents")
    d = tempfile.mkdtemp(prefix="curated_")
    try:
        manifest = curate_corpus(docs, d, drop_contaminated=False)
        want = {
            (r["split"], r["lang"]): r["n_kept"]
            for r in corpus_quality_keep(docs).collect()
            if r["n_kept"] > 0
        }
        got = {
            (p["split"], p["lang"]): p["n_docs"] for p in manifest["partitions"]
        }
        assert got == want
        assert manifest["n_written_docs"] == sum(want.values())
        assert os.path.exists(os.path.join(d, "_MANIFEST.json"))
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_curate_drops_contaminated_and_eval_docs(spark, sf_dir):
    """Full chain: written doc_ids == kept doc_ids minus decontam hits
    minus every eval-source doc, and the run is idempotent."""
    docs = load_table(spark, sf_dir, "documents")
    d = tempfile.mkdtemp(prefix="curated_full_")
    try:
        curate_corpus(docs, d, drop_contaminated=True)
        kept = {
            r["doc_id"]
            for r in curation_tags(docs).where(F.col("kept")).collect()
        }
        _toks, hits = decontam_overlap(docs)
        contaminated = {r["doc_id"] for r in hits.collect()}
        eval_ids = {
            r["doc_id"]
            for r in docs.where(F.col("source") == EVAL_SOURCE).collect()
        }
        want = kept - contaminated - eval_ids
        written = spark.read.parquet(d)
        got = {r["doc_id"] for r in written.select("doc_id").collect()}
        assert got == want and len(got) > 0

        # idempotence: a re-run overwrites to the same doc set
        m2 = curate_corpus(docs, d, drop_contaminated=True)
        got2 = {
            r["doc_id"]
            for r in spark.read.parquet(d).select("doc_id").collect()
        }
        assert got2 == got
        assert m2["n_written_docs"] == len(got)
        with open(os.path.join(d, "_MANIFEST.json")) as f:
            assert json.load(f)["n_written_docs"] == len(got)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_curate_output_prunes_by_split(spark, sf_dir):
    """Training readers must be able to prune to their split: a
    split-filtered read touches only that split's files."""
    docs = load_table(spark, sf_dir, "documents")
    d = tempfile.mkdtemp(prefix="curated_prune_")
    try:
        curate_corpus(docs, d, drop_contaminated=False)
        train = spark.read.parquet(d).where(F.col("split") == "train")
        plan = train._jdf.queryExecution().executedPlan().toString()
        # the split predicate must land in PartitionFilters (directory
        # pruning), not survive as a post-scan Filter over all splits
        pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
        assert pf and "split" in pf[0]
        # and the pruned scan must actually read only train rows
        assert train.count() > 0
        assert (
            spark.read.parquet(d).where(F.col("split") == "nope").count() == 0
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_cli_list_and_run(spark, sf_dir, capsys):
    """The CLI front door: list prints the registry; run executes a
    query against --sf-dir (reuses the live session via getOrCreate)."""
    from de_realtime_voting_spark.__main__ import main

    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert "votes_per_candidate" in out and "doc_embed_inference" in out
    assert main(["--sf-dir", sf_dir, "run", "votes_per_candidate", "-n", "3"]) == 0
    assert "candidate_id" in capsys.readouterr().out
    assert main(["--sf-dir", sf_dir, "run", "nope"]) == 2


def test_curate_fuzzy_gate_matches_standalone_op(spark, sf_dir):
    """fuzzy_gate=True must drop exactly the docs the standalone
    fuzzy_decontam op reports as MinHash-near an eval doc -- the
    materializer and the audit share one candidate+verify path."""
    from de_realtime_voting_spark.operators.dedup import fuzzy_decontam

    docs = load_table(spark, sf_dir, "documents")
    d = tempfile.mkdtemp(prefix="curated_fuzzy_")
    try:
        curate_corpus(docs, d, drop_contaminated=True, fuzzy_gate=True)
        got = {
            r["doc_id"]
            for r in spark.read.parquet(d).select("doc_id").collect()
        }
        kept = {
            r["doc_id"]
            for r in curation_tags(docs).where(F.col("kept")).collect()
        }
        _toks, hits = decontam_overlap(docs)
        contaminated = {r["doc_id"] for r in hits.collect()}
        eval_ids = {
            r["doc_id"]
            for r in docs.where(F.col("source") == EVAL_SOURCE).collect()
        }
        fuzzy_ids = {r["doc_id"] for r in fuzzy_decontam(docs).collect()}
        assert got == kept - contaminated - eval_ids - fuzzy_ids
        assert len(got) > 0
    finally:
        shutil.rmtree(d, ignore_errors=True)
        spark.catalog.clearCache()


def test_curate_excise_spans_matches_standalone_op(spark, sf_dir):
    """excise_spans=True: every written doc's text must hash to the
    corpus_span_excised report's excised_md5 and re-tokenize to
    exactly n_tokens_after tokens; the manifest's n_tokens_excised
    equals the report's before-after delta summed over shipped docs;
    n_chars is recomputed to the excised text."""
    from de_realtime_voting_spark.functions.columns import tokens
    from de_realtime_voting_spark.operators.text import corpus_span_excised

    docs = load_table(spark, sf_dir, "documents")
    report = {
        r["doc_id"]: r for r in corpus_span_excised(docs).collect()
    }
    spark.catalog.clearCache()
    d = tempfile.mkdtemp(prefix="curated_excise_")
    try:
        manifest = curate_corpus(
            docs, d, drop_contaminated=True, excise_spans=True
        )
        written = (
            spark.read.parquet(d)
            .select(
                "doc_id",
                F.md5("text").alias("got_md5"),
                F.size(tokens(F.col("text"))).alias("got_tokens"),
                "n_chars",
                F.length("text").alias("got_chars"),
            )
            .collect()
        )
        assert written
        delta = 0
        for r in written:
            rep = report[r["doc_id"]]
            assert r["got_md5"] == rep["excised_md5"]
            assert r["got_tokens"] == rep["n_tokens_after"]
            assert r["n_chars"] == r["got_chars"]
            delta += rep["n_tokens_before"] - rep["n_tokens_after"]
        assert manifest["n_tokens_excised"] == delta
        assert manifest["stages"]["excise_spans"] is True
    finally:
        shutil.rmtree(d, ignore_errors=True)
        spark.catalog.clearCache()


def test_curate_temperature_sample_matches_standalone_op(spark, sf_dir):
    """temperature_sample=True: the written doc set must be exactly
    the base keep set intersected with corpus_temperature_sample's
    deterministic bucket<threshold membership, and the manifest's
    per-source targets must equal the standalone report's."""
    from de_realtime_voting_spark.operators.pipeline import (
        _temp_bucket,
        _temperature_thresholds,
        corpus_temperature_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    d = tempfile.mkdtemp(prefix="curated_temp_")
    try:
        manifest = curate_corpus(
            docs, d, drop_contaminated=True, temperature_sample=True
        )
        got = {
            r["doc_id"]
            for r in spark.read.parquet(d).select("doc_id").collect()
        }
        # base keep set (the drop_contaminated chain)
        kept = {
            r["doc_id"]
            for r in curation_tags(docs).where(F.col("kept")).collect()
        }
        _toks, hits = decontam_overlap(docs)
        base = (
            kept
            - {r["doc_id"] for r in hits.collect()}
            - {
                r["doc_id"]
                for r in docs.where(F.col("source") == EVAL_SOURCE).collect()
            }
        )
        # standalone membership rule, evaluated with the SAME exprs
        thr = _temperature_thresholds(docs)
        member = {
            r["doc_id"]
            for r in docs.select("doc_id", "source", _temp_bucket().alias("b"))
            .join(F.broadcast(thr.select("source", "threshold")), "source")
            .where(F.col("b") < F.col("threshold"))
            .collect()
        }
        assert got == base & member
        assert len(got) > 0
        # manifest targets == the standalone report's targets
        want_rates = {
            r["source"]: r["keep_rate_target"]
            for r in corpus_temperature_sample(docs).collect()
        }
        for row in manifest["temperature"]:
            assert row["keep_rate_target"] == want_rates[row["source"]]
        # realized written counts reconcile with the written data
        per_src = {}
        for r in spark.read.parquet(d).select("source").collect():
            per_src[r["source"]] = per_src.get(r["source"], 0) + 1
        for row in manifest["temperature"]:
            assert row["n_written"] == per_src.get(row["source"], 0)
    finally:
        shutil.rmtree(d, ignore_errors=True)
        spark.catalog.clearCache()


def test_curate_manifest_matches_waterfall_sf01(spark):
    """Cross-artifact drift gate at sf0.1: the MATERIALIZED corpus
    (curate.py's written manifest) must agree doc-for-doc and
    token-for-token with the curation_waterfall's '4_decontaminated'
    stage row on the same input -- the funnel's accounting and the
    bytes a training job actually reads cannot diverge.  (The budget
    stage is a selection the materializer does not apply, so stage 4,
    not 5, is the written set.)"""
    from de_realtime_voting_spark.operators.pipeline import curation_waterfall

    docs = load_table(spark, "/root/testdata/sf0.1", "documents")
    d = tempfile.mkdtemp(prefix="curated_sf01_")
    try:
        manifest = curate_corpus(docs, d)
        wf = {r["stage"]: r for r in curation_waterfall(docs).collect()}
        s4 = wf["4_decontaminated"]
        assert manifest["n_written_docs"] == s4["n_docs"]
        assert sum(p["n_docs"] for p in manifest["partitions"]) == s4["n_docs"]
        assert (
            sum(p["approx_tokens"] for p in manifest["partitions"])
            == s4["n_tokens"]
        )
        # r7 stage extension: with span excision on, the written set
        # is unchanged (stage 4) and token conservation must hold --
        # post-excision manifest tokens + the manifest's excised
        # delta == the waterfall's pre-excision stage-4 tokens.
        # (tokens() over join-spaced kept tokens re-tokenizes to
        # exactly the kept array, so the identity is exact.)
        spark.catalog.clearCache()
        m2 = curate_corpus(docs, d, excise_spans=True)
        assert m2["n_written_docs"] == s4["n_docs"]
        assert (
            sum(p["approx_tokens"] for p in m2["partitions"])
            + m2["n_tokens_excised"]
            == s4["n_tokens"]
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _base_keep_ids(spark, docs):
    """The drop_contaminated keep chain, evaluated standalone."""
    kept = {
        r["doc_id"] for r in curation_tags(docs).where(F.col("kept")).collect()
    }
    _toks, hits = decontam_overlap(docs)
    return (
        kept
        - {r["doc_id"] for r in hits.collect()}
        - {
            r["doc_id"]
            for r in docs.where(F.col("source") == EVAL_SOURCE).collect()
        }
    )


def test_curate_quality_threshold_matches_standalone_op(spark, sf_dir):
    """quality_threshold=P: the written doc set must be exactly the
    base keep set intersected with quality_classifier_score's
    published-prob >= P membership (the standalone registry op run
    independently), and the manifest must account the stage's own
    frame."""
    from de_realtime_voting_spark.operators.text import quality_classifier_score

    docs = load_table(spark, sf_dir, "documents")
    # a mid-distribution bar so the stage KEEPS some and DROPS some
    probs = sorted(
        r["quality_prob"] for r in quality_classifier_score(docs).collect()
    )
    spark.catalog.clearCache()
    thr = probs[len(probs) // 2]
    d = tempfile.mkdtemp(prefix="curated_qc_")
    try:
        manifest = curate_corpus(
            docs, d, drop_contaminated=True, quality_threshold=thr
        )
        got = {
            r["doc_id"] for r in spark.read.parquet(d).select("doc_id").collect()
        }
        member = {
            r["doc_id"]
            for r in quality_classifier_score(docs)
            .where(F.col("quality_prob") >= thr)
            .collect()
        }
        base = _base_keep_ids(spark, docs)
        assert got == base & member
        assert 0 < len(got) < len(base)  # the stage actually selected
        assert manifest["quality"]["threshold"] == thr
        assert manifest["quality"]["n_docs_at_or_above"] == len(member)
        assert manifest["stages"]["quality_threshold"] == thr
    finally:
        shutil.rmtree(d, ignore_errors=True)
        spark.catalog.clearCache()


def test_curate_dsir_sample_matches_standalone_op(spark, sf_dir):
    """dsir_sample=True: the written doc set must be exactly the base
    keep set intersected with corpus_dsir_sample's deterministic
    membership (the shared _dsir_tagged rule), and the manifest's
    rule-kept count must equal the standalone report's total."""
    from de_realtime_voting_spark.operators.pipeline import (
        _dsir_tagged,
        corpus_dsir_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    d = tempfile.mkdtemp(prefix="curated_dsir_")
    try:
        manifest = curate_corpus(docs, d, drop_contaminated=True, dsir_sample=True)
        got = {
            r["doc_id"] for r in spark.read.parquet(d).select("doc_id").collect()
        }
        member = {
            r["doc_id"]
            for r in _dsir_tagged(docs).where(F.col("kept")).collect()
        }
        base = _base_keep_ids(spark, docs)
        assert got == base & member
        assert 0 < len(got) < len(base)  # the sampler actually sampled
        assert manifest["dsir"]["n_docs_kept_by_rule"] == len(member)
        # and the shared rule reconciles with the standalone report
        want = {
            r["source"]: r["n_kept"] for r in corpus_dsir_sample(docs).collect()
        }
        by_src = {}
        for r in _dsir_tagged(docs).where(F.col("kept")).collect():
            by_src[r["source"]] = by_src.get(r["source"], 0) + 1
        assert by_src == {s: n for s, n in want.items() if n > 0}
    finally:
        shutil.rmtree(d, ignore_errors=True)
        spark.catalog.clearCache()


def test_curate_all_gates_drop_everything_reports_empty(spark, sf_dir):
    """A gate set that ships NOTHING is a reportable outcome, not a
    crash: quality_threshold above the score range writes an empty
    corpus and the manifest says so."""
    docs = load_table(spark, sf_dir, "documents")
    d = tempfile.mkdtemp(prefix="curated_empty_")
    try:
        manifest = curate_corpus(
            docs, d, drop_contaminated=True, quality_threshold=1.0
        )
        assert manifest["n_written_docs"] == 0
        assert manifest["partitions"] == []
        assert manifest["quality"]["n_docs_at_or_above"] == 0
    finally:
        shutil.rmtree(d, ignore_errors=True)
        spark.catalog.clearCache()


def test_curate_pack_and_epoch_shuffle_loader_ready(spark, sf_dir):
    """The r10 loader-ready stages: --pack must write (pack_shard,
    pack_window) that replays the shared FFD rule (_ffd_assign) on
    the FINAL shipped text group-for-group, never over-fill a window,
    and reconcile with the manifest's window accounting;
    --epoch-shuffle SEED must write corpus_epoch_shuffle's exact
    md5 sort key.  Runs with excise_spans on so the packed token
    counts are pinned to the post-excision text."""
    import hashlib

    from de_realtime_voting_spark.constants import (
        PACK_SHARDS,
        PACK_WINDOW_TOKENS,
    )
    from de_realtime_voting_spark.operators.pipeline import _ffd_assign

    docs = load_table(spark, sf_dir, "documents")
    d = tempfile.mkdtemp(prefix="curated_pack_")
    try:
        manifest = curate_corpus(
            docs,
            d,
            drop_contaminated=True,
            excise_spans=True,
            pack=True,
            epoch_shuffle=7,
        )
        win = int(PACK_WINDOW_TOKENS)
        rows = (
            spark.read.parquet(d)
            .select(
                "doc_id", "split", "lang", "pack_shard", "pack_window",
                "shuffle_key", "text",
            )
            .collect()
        )
        assert rows

        def ntok(text):
            return len([t for t in text.split(" ") if t])

        # the shard fan-out scales with the corpus (ADVICE r10); at
        # test scale it must equal the floor and the written shards
        # must replay the md5-hashed doc_id bucket (ADVICE r11: raw
        # mod assumed uniform id residues) against that manifest value
        n_shards = manifest["pack"]["n_shards"]
        assert n_shards == PACK_SHARDS

        def shard_of(doc_id):
            import hashlib

            h = hashlib.md5(f"pack:{doc_id}".encode()).hexdigest()
            return int(h[:4], 16) % n_shards

        # per-group python replay of the shared FFD rule on final text
        groups = {}
        for r in rows:
            assert r["pack_shard"] == shard_of(r["doc_id"])
            groups.setdefault(
                (r["split"], r["lang"], r["pack_shard"]), []
            ).append((ntok(r["text"]), r["doc_id"]))
        want = {}
        for g in groups.values():
            want.update(_ffd_assign(g, win))
        got = {r["doc_id"]: r["pack_window"] for r in rows}
        assert got == want
        # capacity invariant over the written layout
        used = {}
        for r in rows:
            if r["pack_window"] >= 0:
                k = (r["split"], r["lang"], r["pack_shard"], r["pack_window"])
                used[k] = used.get(k, 0) + min(ntok(r["text"]), win)
        assert used and max(used.values()) <= win
        # manifest accounting matches the written windows
        assert manifest["pack"]["n_windows"] == len(used)
        assert manifest["pack"]["max_window_tokens_used"] == max(used.values())
        assert manifest["pack"]["n_unpacked_docs"] == sum(
            1 for r in rows if r["pack_window"] < 0
        )
        # overlong docs (pre-clamp tokens > window) rely on
        # loader-side truncation; the manifest must say how many
        assert manifest["pack"]["n_overlong_docs"] == sum(
            1 for r in rows if ntok(r["text"]) > win
        )
        assert manifest["pack"]["window_tokens"] == win
        # epoch shuffle: the written key IS the #89 op's expression
        for r in rows:
            assert (
                r["shuffle_key"]
                == hashlib.md5(f"epoch7:{r['doc_id']}".encode()).hexdigest()
            )
        assert manifest["epoch_shuffle"] == {"seed": 7}
        assert manifest["stages"]["pack"] is True
        assert manifest["stages"]["epoch_shuffle"] == 7
    finally:
        shutil.rmtree(d, ignore_errors=True)
        spark.catalog.clearCache()

def test_pack_shard_count_scales_with_corpus():
    """The --pack fan-out rule (ADVICE r10): PACK_SHARDS is a floor,
    and above it shards grow so the worst-case (one (split, lang)
    holding everything) per-group doc count never exceeds
    PACK_SHARD_TARGET_DOCS."""
    from de_realtime_voting_spark.constants import (
        PACK_SHARD_TARGET_DOCS,
        PACK_SHARDS,
    )
    from de_realtime_voting_spark.curate import _pack_shard_count

    assert _pack_shard_count(0) == PACK_SHARDS
    assert _pack_shard_count(PACK_SHARD_TARGET_DOCS * PACK_SHARDS) == PACK_SHARDS
    assert (
        _pack_shard_count(PACK_SHARD_TARGET_DOCS * PACK_SHARDS + 1)
        == PACK_SHARDS + 1
    )
    for n in (5_000_000, 123_456_789):
        s = _pack_shard_count(n)
        assert -(-n // s) <= PACK_SHARD_TARGET_DOCS


def test_pack_shard_hash_spreads_strided_ids():
    """ADVICE r11: the shard key is md5-hashed before the mod, so a
    STRIDED doc_id space (every id a multiple of the fan-out -- the
    shape that piles a raw mod onto residue 0) still spreads across
    shards near-uniformly."""
    import hashlib

    n_shards = 8
    ids = [i * n_shards for i in range(4000)]  # raw mod -> all shard 0
    counts = [0] * n_shards
    for d in ids:
        h = hashlib.md5(f"pack:{d}".encode()).hexdigest()
        counts[int(h[:4], 16) % n_shards] += 1
    assert min(counts) > 0
    # no shard holds more than 2x its uniform share
    assert max(counts) <= 2 * len(ids) // n_shards


def test_scratch_preflight_estimator_and_abort(spark, sf_dir):
    """The r12 ENOSPC pre-flight: the estimate is factor x input
    bytes, filesystems are counted once, and an under-provisioned
    scratch raises with the SPARK_LOCAL_DIRS remedy BEFORE any stage
    runs."""
    import os

    from de_realtime_voting_spark.constants import CURATE_SCRATCH_FACTOR
    from de_realtime_voting_spark.curate import (
        _free_bytes,
        estimate_scratch_bytes,
        scratch_preflight,
    )
    from de_realtime_voting_spark.sources import load_table

    assert estimate_scratch_bytes(0) == 0
    assert estimate_scratch_bytes(10_000_000_000) == int(
        CURATE_SCRATCH_FACTOR * 10_000_000_000
    )

    docs = load_table(spark, sf_dir, "documents")
    acct = scratch_preflight(spark, docs)
    # input bytes must equal the source parquet's real on-disk size
    want = sum(
        os.path.getsize(f.removeprefix("file:")) for f in docs.inputFiles()
    )
    assert acct["input_bytes"] == want and want > 0
    assert acct["estimated_scratch_bytes"] == estimate_scratch_bytes(want)
    assert acct["free_scratch_bytes"] > 0

    # same filesystem listed twice counts once
    one = _free_bytes(["/tmp"])
    assert _free_bytes(["/tmp", "/tmp"]) == one

    # an under-provisioned scratch fails fast with the remedy
    try:
        scratch_preflight(spark, docs, free_bytes_fn=lambda dirs: 0)
        raise AssertionError("expected RuntimeError")
    except RuntimeError as e:
        assert "SPARK_LOCAL_DIRS" in str(e) and "zstd" in str(e)


def test_curate_call_job_budget_and_manifest_recount(spark, sf_dir, monkeypatch):
    """One curate_corpus call with the benchmark's stage set
    (perfbench/curate.py) at sf0.01: the keep-set is persisted once
    (pack reads it twice) and the manifest's counts come from ONE
    aggregate over the written data, so a cache-cleared call runs at
    most 61 Spark jobs (77 when pack re-ran the gate chain, the
    manifest ran six more actions and the MinHash signature was
    evaluated per band-join side).  Every count the fold produces must
    equal a pyarrow recount of the written parquet.  The pack window
    is narrowed to 64 tokens so the overlong count is not zero (no
    sf0.01 doc reaches the shipped 256)."""
    import pyarrow.dataset as ds

    from de_realtime_voting_spark import constants
    from tests.test_sources import _with_jobs

    win = 64
    monkeypatch.setattr(constants, "PACK_WINDOW_TOKENS", win)

    docs = load_table(
        spark, os.path.join(os.path.dirname(sf_dir), "sf0.01"), "documents"
    )
    d = tempfile.mkdtemp(prefix="curated_jobs_")
    spark.catalog.clearCache()
    try:
        m, n_jobs = _with_jobs(
            spark,
            lambda: curate_corpus(
                docs,
                d,
                drop_contaminated=True,
                fuzzy_gate=True,
                temperature_sample=True,
                dsir_sample=True,
                pack=True,
                epoch_shuffle=11,
            ),
        )
        assert n_jobs <= 61

        pdf = (
            ds.dataset(d, format="parquet", partitioning="hive")
            .to_table()
            .to_pandas()
        )
        ntok = pdf["text"].map(lambda t: len([w for w in t.split(" ") if w]))
        assert m["n_written_docs"] == len(pdf) > 0
        parts = pdf.assign(ntok=ntok).groupby(["split", "lang"])["ntok"]
        assert m["partitions"] == [
            {"split": s, "lang": g, "n_docs": int(c), "approx_tokens": int(t)}
            for (s, g), c, t in zip(
                parts.count().index, parts.count(), parts.sum()
            )
        ]
        assert m["pack"]["n_unpacked_docs"] == int((pdf["pack_window"] < 0).sum())
        assert m["pack"]["window_tokens"] == win
        assert m["pack"]["n_overlong_docs"] == int((ntok > win).sum()) > 0
        per_src = pdf["source"].value_counts().to_dict()
        assert m["temperature"] and all(
            t["n_written"] == per_src.get(t["source"], 0)
            for t in m["temperature"]
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
        spark.catalog.clearCache()
