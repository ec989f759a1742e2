"""curate: ``curate_corpus`` called repeatedly in one session.

Stages: exact decontamination, the fuzzy (MinHash) gate, temperature
and DSIR sampling, packing and the epoch shuffle key (the seed is the
epoch).  Span excision and the quality threshold stay off for the
suite's time budget: on 4 cores every stage on took 31.6 s cold and
14.5 s warm per call, this set about 20 s and 9.5 s.  Input: the sf0.01 documents table
(500 docs).  Each call loads the table and writes the partitioned
parquet corpus anew (overwrite).

Timeline: session start, call 1 (cold; its end is ``setup_s``), then
the calls that fit in ``seconds`` (at least one).  Checks, outside
the timed calls: every call's manifest is identical apart from its
timing and byte fields (``wall_s``, ``scratch_preflight.free_scratch_bytes``,
``written_bytes``), every call wrote the same rows (a content hash of
the written parquet sorted by doc_id), and the token conservation
identity holds on the written corpus (tools/curate_sf1.py's identity:
written tokens + excised tokens == the shipped docs' original tokens).
"""

from __future__ import annotations

import copy
import hashlib
import os
import time

from harness import pct, process_age_s, start_spark, state_store, stop_spark
from layers import layer_metrics

STAGES = dict(
    drop_contaminated=True,
    fuzzy_gate=True,
    temperature_sample=True,
    dsir_sample=True,
    pack=True,
)


def _call(spark, data, out, seed):
    from de_realtime_voting_spark.curate import curate_corpus
    from de_realtime_voting_spark.sources import load_table

    docs = load_table(spark, data, "documents")
    return curate_corpus(docs, out, epoch_shuffle=seed, **STAGES)


def _content_hash(out: str) -> str:
    """Order-free hash of the rows written under ``out``."""
    import pyarrow.dataset as ds

    tbl = ds.dataset(out, format="parquet", partitioning="hive").to_table()
    pdf = tbl.to_pandas()
    pdf = pdf[sorted(pdf.columns)].astype(str).sort_values("doc_id", ignore_index=True)
    return hashlib.sha256(pdf.to_csv(index=False).encode()).hexdigest()[:16]


def _comparable(manifest: dict) -> dict:
    m = copy.deepcopy(manifest)
    for k in ("wall_s", "written_bytes"):
        m.pop(k, None)
    m.get("scratch_preflight", {}).pop("free_scratch_bytes", None)
    return m


def _token_conservation(spark, data, out, manifest) -> bool:
    from pyspark.sql import functions as F

    from de_realtime_voting_spark.functions.columns import tokens
    from de_realtime_voting_spark.sources import load_table

    docs = load_table(spark, data, "documents")
    shipped = spark.read.parquet(out).select("doc_id")
    pre = docs.join(shipped, "doc_id").agg(
        F.sum(F.size(tokens(F.col("text")))).cast("bigint")).collect()[0][0] or 0
    written = sum(p["approx_tokens"] for p in manifest["partitions"])
    return written + manifest.get("n_tokens_excised", 0) == pre


def run(seed, seconds, trace, data, work, env):
    out = os.path.join(work, "curated")
    spark, start_s = start_spark()
    env["state_store"] = state_store(spark)
    try:
        manifests, hashes = [], []
        manifests.append(_call(spark, data, out, seed))
        setup_s = process_age_s()
        cold_s = manifests[0]["wall_s"]
        hashes.append(_content_hash(out))
        calls = []
        t0 = time.perf_counter()
        while not calls or time.perf_counter() - t0 + calls[-1] <= seconds:
            c0 = time.perf_counter()
            m = _call(spark, data, out, seed)
            calls.append(time.perf_counter() - c0)
            manifests.append(m)
            hashes.append(_content_hash(out))  # outside the call's time
        n_in = manifests[0]["n_input_docs"]
        ref = _comparable(manifests[0])
        bad = [f"manifest_{i}" for i, m in enumerate(manifests) if _comparable(m) != ref]
        bad += [f"content_{i}" for i, h in enumerate(hashes) if h != hashes[0]]
        conserved = _token_conservation(spark, data, out, manifests[-1])
        if not conserved:
            bad.append("token_conservation")
        docs_per_s = n_in / pct(calls, 50)
        detail = {
            "stages": {**STAGES, "epoch_shuffle": seed},
            "n_input_docs": n_in,
            "n_written_docs": manifests[-1]["n_written_docs"],
            "written_bytes": [m["written_bytes"] for m in manifests],
            "cold_call_s": cold_s,
            "call_s": [round(x, 4) for x in calls],
            "docs_per_s": docs_per_s,
            "setup_s": setup_s,
            "token_conservation_holds": conserved,
            "check_failures": bad,
        }
        metrics = {
            "latency_p50_ms": (pct(calls, 50) * 1e3, "ms"),
            "latency_p90_ms": (pct(calls, 90) * 1e3, "ms"),
            "throughput_per_s": (docs_per_s, "1/s"),
            "setup_s": (setup_s, "s"),
        }
        if trace:
            metrics, detail["trace"] = _traced(spark, data, out, seed, calls, start_s)
    finally:
        stop_spark(spark)
    return {
        "correct": not bad,
        "attempted": len(calls),
        "failed": min(len(bad), len(calls)),
        "metrics": metrics,
        "detail": detail,
    }


def _traced(spark, data, out, seed, untraced, start_s):
    """One more call with the load and ``curate_corpus`` wrapped; its
    job-busy time (union of its jobs' intervals) is the execution
    share, the rest is driver-side building."""
    from de_realtime_voting_spark.curate import curate_corpus
    from de_realtime_voting_spark.sources import load_table
    from spans import Tracer

    tracer = Tracer(spark)
    tracer.start_storage_poll()
    try:
        with tracer.span("call"):
            with tracer.span("sources.load"):
                docs = load_table(spark, data, "documents")
            with tracer.span("curate.call"):
                m = curate_corpus(docs, out, epoch_shuffle=seed, **STAGES)
    finally:
        peak = tracer.stop_storage_poll()
    r = tracer.rollup()
    load, cur, call = r.get("sources.load", {}), r["curate.call"], r["call"]
    values = {
        "sources.load_calls": load.get("spans", 0),
        "sources.load_s": load.get("self_s", 0),
        "sources.load_jobs": load.get("jobs", 0),
        "operators.build_s": cur["self_s"] - cur["job_busy_s"],
        "operators.exec_s": cur["job_busy_s"],
        "operators.exec_jobs": cur["jobs"],
        "operators.exec_stages": cur["stages"],
        "operators.exec_tasks": cur["tasks"],
        "operators.shuffle_write_bytes": cur["shuffle_write_bytes"],
        "operators.spill_bytes": cur["spill_bytes"],
        "operators.storage_peak_bytes": peak,
        "functions.udf_rows": cur.get("udf_rows", 0),
        "functions.udf_s": cur.get("udf_s", 0),
        "curate.call_s": cur["wall_s"],
        "curate.jobs": cur["jobs"],
        "curate.stages": cur["stages"],
        "curate.written_bytes": m["written_bytes"],
        "session.start_s": start_s,
        "trace.unit_wall_s": call["wall_s"],
        "trace.overhead_pct": (call["wall_s"] / pct(untraced, 50) - 1.0) * 100.0,
    }
    return layer_metrics(values), {"rollup": r}
