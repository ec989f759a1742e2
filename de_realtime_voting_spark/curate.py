"""The materializing curation pipeline: quality gates -> exact dedup
-> benchmark decontamination -> deterministic split -> partitioned
parquet, plus a machine-readable manifest.  This is the "actually
ship the training corpus" entry point; the registry queries are the
audits AROUND this step, and both sides share one definition of every
rule (operators/pipeline.py::curation_tags, decontam_overlap), so the
accounting can never drift from the bytes written.

Reference parity note: the reference persists its curated facts to
Postgres (main.py:20-68); here the lake is partitioned parquet --
the Spark-native warehouse surface -- with the JDBC writer
(sources/io.py) available when a Postgres target exists.

Scale shape: every rule is the same map-side expression / single
shuffle the audited queries use; the write itself partitions by
(split, lang) so downstream training readers prune to their split
without scanning the rest.  Nothing in this module collects corpus
data to the driver -- the manifest aggregates |splits| x |langs|
rows.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .operators.pipeline import curation_tags, decontam_overlap


def _pack_shard_count(n_docs: int) -> int:
    """--pack shard fan-out for an ``n_docs``-doc corpus.

    A fixed PACK_SHARDS leaves the per-(split, lang, shard)
    applyInPandas group LINEAR in the corpus -- the one-level-split
    trap (ADVICE r10; the dedup ops hit the same shape at sf100).
    Scaling the fan-out bounds the WORST case: even when one
    (split, lang) partition holds every doc, the uniform doc_id mod
    keeps each pandas group at or under PACK_SHARD_TARGET_DOCS."""
    from .constants import PACK_SHARD_TARGET_DOCS, PACK_SHARDS

    return max(int(PACK_SHARDS), -(-int(n_docs) // int(PACK_SHARD_TARGET_DOCS)))


def _scratch_dirs(spark) -> list[str]:
    """The local directories Spark will spill shuffle files into, in
    the same precedence Spark resolves them: spark.local.dir conf,
    then SPARK_LOCAL_DIRS, then the java.io.tmpdir default."""
    conf = ""
    try:
        conf = spark.conf.get("spark.local.dir", "") or ""
    except Exception:
        pass
    raw = conf or os.environ.get("SPARK_LOCAL_DIRS", "") or "/tmp"
    return [d for d in (p.strip() for p in raw.split(",")) if d]


def _free_bytes(dirs: list[str]) -> int:
    """Total free bytes across ``dirs``, counting each filesystem
    (st_dev of the deepest existing ancestor) once -- two scratch
    dirs on one disk do not double the budget."""
    seen: set[int] = set()
    total = 0
    for d in dirs:
        path = d
        while path and not os.path.exists(path):
            parent = os.path.dirname(path)
            if parent == path:
                break
            path = parent
        try:
            st = os.stat(path)
            if st.st_dev in seen:
                continue
            seen.add(st.st_dev)
            sv = os.statvfs(path)
            total += sv.f_bavail * sv.f_frsize
        except OSError:
            continue
    return total


def estimate_scratch_bytes(input_bytes: int) -> int:
    """Peak transient shuffle-scratch estimate for a full curate run:
    CURATE_SCRATCH_FACTOR x the input parquet bytes.  The factor is
    MEASURED, not guessed: the sf100 full-option materialization
    peaked at ~36 GB live shuffle files over a ~12 GB input (one
    write action keeps every upstream stage's shuffle alive at once;
    SCALE.md r11, first attempt ENOSPC)."""
    from .constants import CURATE_SCRATCH_FACTOR

    return int(CURATE_SCRATCH_FACTOR * max(0, int(input_bytes)))


def scratch_preflight(
    spark, documents: DataFrame, free_bytes_fn=_free_bytes
) -> dict:
    """Fail fast BEFORE the nine-stage curate chain starts when the
    configured scratch dirs cannot hold its measured peak shuffle
    footprint -- the sf100 lesson: the ENOSPC arrived ~20 minutes in,
    after every stage had already run once (r12, VERDICT item 8).

    Input bytes come from the source's own files (df.inputFiles --
    exact for parquet sources; a non-file source estimates 0 and the
    check degrades to a no-op rather than a false abort).  Returns
    the accounting dict (recorded in the manifest); raises
    RuntimeError with the operational remedy when under-provisioned.
    """
    try:
        files = documents.inputFiles()
    except Exception:
        files = []
    input_bytes = 0
    for f in files:
        p = f.removeprefix("file:")
        try:
            input_bytes += os.path.getsize(p)
        except OSError:
            pass
    need = estimate_scratch_bytes(input_bytes)
    dirs = _scratch_dirs(spark)
    free = free_bytes_fn(dirs)
    if need > free:
        raise RuntimeError(
            f"curate scratch pre-flight: need ~{need >> 30} GiB shuffle "
            f"scratch ({input_bytes >> 30} GiB input x measured "
            f"{need / max(input_bytes, 1):.1f}x live-shuffle factor) but "
            f"local dirs {dirs} have {free >> 30} GiB free.  Remedy: set "
            "SPARK_LOCAL_DIRS to span tmpfs + disk (e.g. "
            "/dev/shm/spark,/var/tmp/spark) and enable "
            "spark.shuffle.compress with spark.io.compression.codec=zstd "
            "-- the provisioning that carried the sf100 run (SCALE.md)."
        )
    return {
        "input_bytes": input_bytes,
        "estimated_scratch_bytes": need,
        "free_scratch_bytes": free,
        "scratch_dirs": dirs,
    }


def curate_corpus(
    documents: DataFrame,
    out_dir: str,
    drop_contaminated: bool = True,
    fuzzy_gate: bool = False,
    excise_spans: bool = False,
    temperature_sample: bool = False,
    quality_threshold: float | None = None,
    dsir_sample: bool = False,
    pack: bool = False,
    epoch_shuffle: int | None = None,
) -> dict:
    """Run the full curation chain over ``documents`` and write the
    surviving corpus to ``out_dir`` partitioned by (split, lang).

    Keep rule: passes the C4 gates AND is the canonical copy of its
    exact-dup class AND (optionally) shares no word n-gram with the
    held-out eval source -- eval docs themselves never ship.
    Idempotent: overwrite mode, deterministic hash split, so re-runs
    write the same rows to the same partitions.  Not the same bytes:
    row order within a file follows the shuffle's fetch order, so
    file sizes can differ between runs (87370 vs 87438 bytes on a
    500-doc corpus).  Returns the manifest dict
    (also written as _MANIFEST.json beside the data).

    Optional stages (r7 -- each reuses the EXACT expression of its
    standalone audit op, so report and bytes cannot drift):

    - ``fuzzy_gate``: also drop docs that are MinHash-NEAR an
      eval-source doc (dedup.fuzzy_decontam's pair set -- the
      paraphrased-leakage complement of the exact n-gram gate).
    - ``excise_spans``: rewrite each shipped doc's text to the
      join-spaced kept-token stream after cutting
      repeated_span_excision's spans (text._span_excised_tokens --
      corpus_span_excised's exact arrays, so written md5(text) ==
      the report's excised_md5); n_chars is recomputed.  The
      manifest accounts the excised tokens.
    - ``temperature_sample``: keep only docs whose deterministic
      md5('temp:'||doc_id) bucket clears their source's published
      threshold (pipeline._temperature_thresholds /_temp_bucket --
      corpus_temperature_sample's exact model).  The manifest
      records per-source target and realized keep rates.

    Learned-selection stages (r9 -- same exact-expression sharing):

    - ``quality_threshold``: train the GPT-3-style quality classifier
      ONCE and ship only docs with quality_prob >= threshold
      (text._qc_scores -- quality_classifier_score's exact plan, so
      the kept set is reproducible from the standalone report; probs
      are published at 6 decimals, making the threshold compare
      deterministic).  Unscored docs (the eval target, empty docs)
      do not pass -- the eval source never ships anyway and empty
      docs fail the C4 floor.
    - ``dsir_sample``: keep only docs the DSIR importance-resampling
      rule keeps (pipeline._dsir_tagged -- corpus_dsir_sample's exact
      per-doc membership: published 4-rounded log-ratios, integer
      threshold floor(exp(w - w_max) * 10000), md5('dsir:'||doc_id)
      bucket).  Docs too short to score (< 2 tokens) are outside the
      sample frame and do not pass.

    Loader-ready stages (r10 -- the written shards carry the layout
    a training loader needs, closing the report -> transform gap for
    #47n and #89):

    - ``pack``: assign every shipped doc a (pack_shard, pack_window)
      by first-fit-decreasing whole-doc packing into
      PACK_WINDOW_TOKENS windows (pipeline._ffd_assign --
      seq_pack_bestfit's exact FFD rule, applied to the FINAL shipped
      text so window budgets reflect post-excision token counts).
      Packing groups by (split, lang, pack_shard): the report op
      packs (lang, shard) over the whole table, but a written window
      must never span splits (a loader reads one split) -- same rule,
      split-scoped groups.  Docs whose final text has zero tokens get
      pack_window -1 (nothing to pack).
    - ``epoch_shuffle`` (a seed): write shuffle_key =
      md5('epoch{seed}:'||doc_id) (pipeline.epoch_shuffle_key --
      corpus_epoch_shuffle's exact sort key) as a column, so a loader
      realizes epoch ``seed``'s global order by sorting its split on
      (shuffle_key, doc_id) -- the #89 preview's order, materialized.
    """
    _t0 = time.perf_counter()
    # fail fast on scratch provisioning (r12: the sf100 ENOSPC
    # arrived 20 minutes in) -- recorded in the manifest
    scratch = scratch_preflight(documents.sparkSession, documents)
    # counted once, up front: the manifest reports it and --pack sizes
    # its shard fan-out from it (an upper bound on shipped docs --
    # conservative fan-out is harmless, an undersized one is the OOM)
    n_input_docs = documents.count()
    tags = curation_tags(documents)
    keep = tags.where(F.col("kept")).select("doc_id", "split")
    if drop_contaminated:
        _toks, hits = decontam_overlap(documents)
        keep = keep.join(hits.select("doc_id"), "doc_id", "left_anti")
        # the eval source never ships: its docs exist to be held out
        from .constants import EVAL_SOURCE

        keep = keep.join(
            documents.where(F.col("source") == EVAL_SOURCE).select("doc_id"),
            "doc_id",
            "left_anti",
        )
    if fuzzy_gate:
        from .operators.dedup import fuzzy_decontam

        keep = keep.join(
            fuzzy_decontam(documents).select("doc_id").distinct(),
            "doc_id",
            "left_anti",
        )
    # stage-scoped caches: unlike registry queries (where the harness
    # clearCache()s between queries), this is the standalone
    # entry point, so every frame persisted here is released in the
    # finally below -- repeated curate_corpus calls in a long-lived
    # service must not accumulate cache entries.  The try starts
    # BEFORE the first persisting stage: the quality/DSIR stages run
    # eager actions (training collects, .count()) between persist and
    # write, and a failure there must release what's already cached.
    _stage_caches = []
    n_quality_kept = None
    n_dsir_kept = None
    thresholds = None
    try:
        if quality_threshold is not None:
            from .operators.text import _qc_scores

            scores, feats = _qc_scores(documents)
            _stage_caches.append(feats)
            # persist: the kept-id frame feeds the keep-set join AND
            # the manifest count -- unpersisted, the QC_ITERS training
            # loop would run twice
            q_kept = (
                scores.where(
                    F.col("quality_prob") >= F.lit(quality_threshold)
                )
                .select("doc_id")
                .persist()
            )
            _stage_caches.append(q_kept)
            n_quality_kept = q_kept.count()
            keep = keep.join(q_kept, "doc_id", "left_semi")
        if dsir_sample:
            from .operators.pipeline import _dsir_tagged

            d_kept = (
                _dsir_tagged(documents, caches=_stage_caches)
                .where(F.col("kept"))
                .select("doc_id")
                .persist()
            )
            _stage_caches.append(d_kept)
            n_dsir_kept = d_kept.count()
            keep = keep.join(d_kept, "doc_id", "left_semi")
        curated = documents.join(keep, "doc_id")
        if temperature_sample:
            from .operators.pipeline import _temp_bucket, _temperature_thresholds

            thresholds = _temperature_thresholds(documents)
            _stage_caches.append(thresholds)
            curated = (
                curated.withColumn("_bucket", _temp_bucket())
                .join(
                    F.broadcast(thresholds.select("source", "threshold")),
                    "source",
                )
                .where(F.col("_bucket") < F.col("threshold"))
                .drop("_bucket", "threshold")
            )
        excised_tokens_delta = None
        if excise_spans:
            from .operators.text import _span_excised_tokens

            # persist: ex feeds BOTH the delta agg and the write below
            # -- unpersisted, the excision pipeline (the heaviest
            # shuffle in SHUFFLE_AUDIT.md) would execute end-to-end
            # twice
            ex = _span_excised_tokens(documents).persist()
            _stage_caches.append(ex)
            # account excised tokens over the SHIPPED docs only (the
            # manifest describes what a training job reads); one
            # |written|-row agg over the cached excision frame
            shipped_ex = curated.select("doc_id").join(ex, "doc_id")
            excised_tokens_delta = (
                shipped_ex.agg(
                    F.coalesce(
                        F.sum(F.size("toks") - F.size("kept")), F.lit(0)
                    ).cast("bigint")
                ).collect()[0][0]
            )
            new_text = F.concat_ws(" ", F.col("kept"))
            replaced = {"text": new_text}
            if "n_chars" in curated.columns:
                replaced["n_chars"] = F.length(new_text).cast("bigint")
            curated = (
                curated.join(ex.select("doc_id", "kept"), "doc_id")
                .withColumns(replaced)
                .drop("kept")
            )
        if pack:
            # runs AFTER excision so window budgets count the tokens a
            # loader actually reads; the FFD rule itself is the report
            # op's (_ffd_assign), groups add split (windows must not
            # span the partition a loader reads).  applyInPandas per
            # (split, lang, pack_shard): the same bounded-group shape
            # as seq_pack_bestfit, with the fan-out SCALED to the
            # corpus (_pack_shard_count) so no pandas group outgrows
            # executor memory however large the input; groups pack in
            # parallel across executors.
            import pandas as pd

            from .constants import PACK_WINDOW_TOKENS
            from .functions.columns import tokens as _tokens
            from .operators.pipeline import _ffd_assign

            _win = int(PACK_WINDOW_TOKENS)
            _n_shards = _pack_shard_count(n_input_docs)
            # md5-hash before the mod (ADVICE r11): a raw doc_id mod
            # assumes id residues are uniform -- strided or sparse id
            # spaces could pile one residue class into a single pandas
            # group past PACK_SHARD_TARGET_DOCS.  md5_mod_bucket is
            # the repo's stable-hash idiom (16 hash bits feed the mod,
            # so the fan-out ceiling is ~65k shards = 16e9 docs at
            # the 250k target -- raise the hash width before the
            # target if a corpus outgrows that).
            from .functions.columns import md5_mod_bucket

            per_doc = curated.select(
                "split",
                "lang",
                md5_mod_bucket(
                    F.concat(F.lit("pack:"), F.col("doc_id").cast("string")),
                    _n_shards,
                ).cast("bigint").alias("pack_shard"),
                "doc_id",
                # greatest(.., 0): size(NULL) is -1 under non-ANSI
                F.greatest(
                    F.size(_tokens(F.col("text"))), F.lit(0)
                ).alias("_nt"),
            )

            def _assign(pdf: "pd.DataFrame") -> "pd.DataFrame":
                asg = _ffd_assign(
                    zip(pdf["_nt"], pdf["doc_id"]), _win
                )
                return pd.DataFrame(
                    {
                        "doc_id": list(asg.keys()),
                        "pack_window": list(asg.values()),
                    }
                )

            assignments = per_doc.groupBy(
                "split", "lang", "pack_shard"
            ).applyInPandas(_assign, "doc_id bigint, pack_window int")
            # the SAME hashed-bucket expression as per_doc's -- the
            # written column and the packing groups must agree
            curated = curated.withColumn(
                "pack_shard",
                md5_mod_bucket(
                    F.concat(F.lit("pack:"), F.col("doc_id").cast("string")),
                    _n_shards,
                ).cast("bigint"),
            ).join(assignments.select("doc_id", "pack_window"), "doc_id")
        if epoch_shuffle is not None:
            from .operators.pipeline import epoch_shuffle_key

            curated = curated.withColumn(
                "shuffle_key", epoch_shuffle_key(int(epoch_shuffle))
            )
        curated.write.partitionBy("split", "lang").mode("overwrite").parquet(out_dir)

        # manifest from the WRITTEN data (not the plan): what a training
        # job reads is what gets accounted.  Explicit schema: a run
        # whose gates keep NOTHING writes zero files, and schema
        # inference on the empty dir would crash the manifest step --
        # an empty corpus is a reportable outcome, not an error.
        written = documents.sparkSession.read.schema(curated.schema).parquet(
            out_dir
        )
        from .functions.columns import tokens

        per_part = (
            written.groupBy("split", "lang")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                # the SAME tokens() definition as every audit query, so
                # manifest totals are comparable to the waterfall's
                # stage rows token-for-token (cross-artifact pytest)
                F.sum(F.size(tokens(F.col("text")))).cast("bigint").alias(
                    "approx_tokens"
                ),
            )
            .collect()
        )
        # written-bytes from the files on disk (what a training job
        # pays to read), wall-clock from pipeline entry: both are
        # operational facts a capacity plan needs beside the token
        # accounting
        written_bytes = sum(
            os.path.getsize(os.path.join(root, f))
            for root, _dirs, files in os.walk(out_dir)
            for f in files
            if f.endswith(".parquet")
        )
        manifest = {
            "out_dir": out_dir,
            "n_input_docs": n_input_docs,
            "n_written_docs": written.count(),
            "written_bytes": written_bytes,
            "wall_s": round(time.perf_counter() - _t0, 2),
            "scratch_preflight": scratch,
            "drop_contaminated": drop_contaminated,
            "stages": {
                "fuzzy_gate": fuzzy_gate,
                "excise_spans": excise_spans,
                "temperature_sample": temperature_sample,
                "quality_threshold": quality_threshold,
                "dsir_sample": dsir_sample,
                "pack": pack,
                "epoch_shuffle": epoch_shuffle,
            },
            "partitions": sorted(
                (
                    {
                        "split": r["split"],
                        "lang": r["lang"],
                        "n_docs": r["n_docs"],
                        "approx_tokens": r["approx_tokens"],
                    }
                    for r in per_part
                ),
                key=lambda d: (d["split"], d["lang"]),
            ),
        }
        if excise_spans:
            manifest["n_tokens_excised"] = int(excised_tokens_delta)
        if quality_threshold is not None:
            # classifier-eligible docs at/above the bar (the stage's
            # own frame, BEFORE intersection with the other gates)
            manifest["quality"] = {
                "threshold": quality_threshold,
                "n_docs_at_or_above": int(n_quality_kept),
            }
        if dsir_sample:
            # docs the DSIR membership rule keeps (ditto)
            manifest["dsir"] = {"n_docs_kept_by_rule": int(n_dsir_kept)}
        if pack:
            # window accounting from the WRITTEN data: per-window used
            # tokens (clamped at the window size -- the truncation
            # rule), reduced to one bounded stats row; a capacity
            # violation here would mean the written layout diverged
            # from the FFD rule, so max_used is part of the manifest
            per_win = (
                written.select(
                    "split",
                    "lang",
                    "pack_shard",
                    "pack_window",
                    F.least(
                        F.greatest(
                            F.size(tokens(F.col("text"))), F.lit(0)
                        ),
                        F.lit(_win),
                    ).alias("_used"),
                )
                .where(F.col("pack_window") >= 0)
                .groupBy("split", "lang", "pack_shard", "pack_window")
                .agg(F.sum("_used").alias("used"))
            )
            pstats = per_win.agg(
                F.count(F.lit(1)).alias("n_windows"),
                F.avg(F.col("used") / _win).alias("avg_fill"),
                F.max("used").alias("max_used"),
            ).collect()[0]
            n_unpacked = written.where(F.col("pack_window") < 0).count()
            # overlong docs (pre-clamp token count > window) got a
            # dedicated window whose TEXT is not truncated -- the
            # loader truncates at read.  Counted in the manifest so a
            # consumer can see how many windows rely on that
            # (ADVICE r10).
            n_overlong = written.where(
                F.greatest(F.size(tokens(F.col("text"))), F.lit(0)) > _win
            ).count()
            manifest["pack"] = {
                "window_tokens": _win,
                "n_shards": _n_shards,
                "n_windows": int(pstats["n_windows"]),
                "avg_fill": round(float(pstats["avg_fill"] or 0.0), 6),
                "max_window_tokens_used": (
                    int(pstats["max_used"])
                    if pstats["max_used"] is not None
                    else 0
                ),
                "n_unpacked_docs": int(n_unpacked),
                "n_overlong_docs": int(n_overlong),
            }
        if epoch_shuffle is not None:
            manifest["epoch_shuffle"] = {"seed": int(epoch_shuffle)}
        if temperature_sample:
            # per-source target vs realized keep rate over the WRITTEN
            # docs: thresholds is |sources| rows (already persisted), the
            # realized side is one agg over the written data
            per_src = {
                r["source"]: r["n"]
                for r in written.groupBy("source")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            # HALF-UP to 6 places -- the same floor(x*1e6 + 0.5)/1e6
            # rule as functions.columns.round_half_up, NOT python's
            # banker's round(): the manifest target must equal
            # corpus_temperature_sample's keep_rate_target bit-for-bit
            # even on decimal ties
            import math

            manifest["temperature"] = sorted(
                (
                    {
                        "source": r["source"],
                        "keep_rate_target": math.floor(r["rate"] * 1e6 + 0.5)
                        / 1e6,
                        "n_written": per_src.get(r["source"], 0),
                    }
                    for r in thresholds.collect()
                ),
                key=lambda d: d["source"],
            )
        with open(os.path.join(out_dir, "_MANIFEST.json"), "w") as f:
            json.dump(manifest, f, indent=1)
        return manifest
    finally:
        for c in _stage_caches:
            c.unpersist()
