"""Streaming THROUGHPUT bench: sustained rows/sec and per-microbatch
latency for the representative stateful pipeline families.

STATE_AUDIT.md proves the state-size bounds; this measures the other
axis a 100 TB ingest is bound by -- RATE.  One pipeline per stateful
family (tally, sessions via applyInPandasWithState, stream-stream
join, CMS sketch, centroid drift, watermarked sliding-window agg)
runs over the soak harness's deterministic file feed
(tools/state_soak.py -- same geometry, same RocksDB state store,
maxFilesPerTrigger=1 so each slice is one microbatch) at 1x and 10x
volume over the SAME event-time span, i.e. a 10x rate.

Per run it records, from the query's own progress stream:

  * rows_per_sec  -- total input rows / sum of triggerExecution time
    over input-carrying batches (sustained engine throughput; excludes
    the drain-poll idle batches availableNow schedules at the end);
  * batch_ms p50 / max -- per-microbatch latency distribution;
  * wall_s -- start->drain wall clock (includes scheduling overhead);
  * state_rows_final -- cross-check against STATE_AUDIT bounds.

Protocol: run ALONE on an idle machine (the SCALE.md rule); rates are
single-shot and carry the documented small-run variance -- compare
family-level shapes (does 10x volume hold rows/sec?), not single rows.

Artifacts: STREAM_BENCH.json (header + machine rows).  Usage:

    python tools/stream_bench.py                 # all pipelines
    python tools/stream_bench.py name [name...]  # chunk + merge
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

_TOOLS = os.path.dirname(os.path.abspath(__file__))
_REPO = os.path.dirname(_TOOLS)
sys.path.insert(0, _REPO)
sys.path.insert(0, _TOOLS)

import state_soak as soak  # noqa: E402  (feed writers + drain guard)


def _pipelines():
    """(name, domain, build, mode, family) -- one per stateful family."""
    from de_realtime_voting_spark.streaming import pipelines as P
    from de_realtime_voting_spark.streaming import state as S

    return [
        ("running_tally", "votes", S.running_tally, "update",
         "bounded per-key aggregation (applyInPandasWithState tally)"),
        ("voter_sessions_with_timeout", "votes",
         lambda v: S.voter_sessions_with_timeout(v, gap_ms=3000),
         "update", "sessionization with processing-time timeout"),
        ("stream_repeat_vote_pairs", "votes", P.stream_repeat_vote_pairs,
         "append", "stream-stream self-join (rate-linear state family)"),
        ("stream_votes_sliding_window", "votes",
         P.stream_votes_sliding_window, "append",
         "watermarked sliding-window aggregation"),
        ("stream_token_cms", "docs", P.stream_token_cms, "update",
         "bounded-sketch aggregation (Count-Min over the token stream)"),
        ("stream_centroid_drift", "emb", P.stream_centroid_drift, "update",
         "per-cell running-moment monitor (K x (DIM+1) state)"),
    ]


def run_bench(spark, src_dir: str, schema, build, output_mode: str) -> dict:
    """Drain `src_dir` through `build` at one file per microbatch and
    return throughput/latency metrics from the progress stream."""
    ckpt = tempfile.mkdtemp(prefix="stream_bench_ckpt_")
    try:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        t0 = time.perf_counter()
        q = (
            build(stream)
            .writeStream.format("noop")
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        soak._await_drained(q)
        wall = time.perf_counter() - t0
        prog = list(q.recentProgress)
        fed = [p for p in prog if p.get("numInputRows", 0) > 0]
        assert fed, "query reported no input-carrying batches"
        rows = sum(p["numInputRows"] for p in fed)
        durs = sorted(
            float(p["durationMs"]["triggerExecution"]) for p in fed
        )
        proc_s = sum(durs) / 1000.0
        stateful = [p for p in prog if p.get("stateOperators")]
        state_rows = (
            sum(
                op.get("numRowsTotal", 0)
                for op in stateful[-1]["stateOperators"]
            )
            if stateful
            else 0
        )
        return {
            "input_rows": int(rows),
            "n_batches": len(fed),
            "wall_s": round(wall, 2),
            "proc_s": round(proc_s, 2),
            "rows_per_sec": round(rows / proc_s, 1),
            "batch_ms_p50": round(durs[len(durs) // 2], 1),
            "batch_ms_max": round(durs[-1], 1),
            "state_rows_final": int(state_rows),
        }
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def _load(path: str) -> dict:
    if os.path.exists(path):
        with open(path) as f:
            return {r["pipeline"]: r for r in json.load(f)["rows"]}
    return {}


def main() -> None:
    from pyspark.sql.types import (
        ArrayType, DoubleType, FloatType, LongType, StringType,
        StructField, StructType, TimestampType,
    )

    from de_realtime_voting_spark.session import (
        enable_rocksdb_state_store, get_spark,
    )

    spark = get_spark("stream-bench")
    spark.sparkContext.setLogLevel("ERROR")
    enable_rocksdb_state_store(spark)

    vote_schema = StructType([
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ])
    doc_schema = StructType([
        StructField("doc_id", LongType()),
        StructField("source", StringType()),
        StructField("text", StringType()),
    ])
    emb_schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
    ])

    base = tempfile.mkdtemp(prefix="stream_bench_data_")
    feeds = {}
    for scale in (1, 10):
        vd = os.path.join(base, f"votes_{scale}x")
        dd = os.path.join(base, f"docs_{scale}x")
        ed = os.path.join(base, f"emb_{scale}x")
        soak.write_vote_slices(vd, soak.V_BASE * scale)
        soak.write_doc_slices(dd, soak.D_BASE * scale)
        soak.write_emb_slices(ed, soak.E_BASE * scale)
        feeds[scale] = {
            "votes": (vd, vote_schema),
            "docs": (dd, doc_schema),
            "emb": (ed, emb_schema),
        }

    only = set(sys.argv[1:])
    specs = _pipelines()
    if only:
        unknown = only - {s[0] for s in specs}
        assert not unknown, f"unknown pipelines: {sorted(unknown)}"
        specs = [s for s in specs if s[0] in only]

    dest = os.path.join(_REPO, "STREAM_BENCH.json")
    rows = _load(dest)
    try:
        for name, domain, build, mode, family in specs:
            row = {"pipeline": name, "domain": domain, "family": family}
            # codegen/JIT warmup: one discarded 1x drain per pipeline
            # so the timed rows measure steady state, not janino
            # compilation of the first batch (the bench.py convention;
            # measured 5.7s first batch vs 1.2s steady on the CMS)
            _src, _schema = feeds[1][domain]
            run_bench(spark, _src, _schema, build, mode)
            for scale in (1, 10):
                src, schema = feeds[scale][domain]
                m = run_bench(spark, src, schema, build, mode)
                for k, v in m.items():
                    row[f"{k}_{scale}x"] = v
                print(
                    f"{name} @{scale}x: {m['input_rows']} rows in "
                    f"{m['proc_s']}s proc ({m['rows_per_sec']}/s), "
                    f"batch p50 {m['batch_ms_p50']}ms max "
                    f"{m['batch_ms_max']}ms, state {m['state_rows_final']}",
                    flush=True,
                )
            rows[name] = row
    finally:
        shutil.rmtree(base, ignore_errors=True)

    out = {
        "note": (
            "sustained streaming throughput/latency per stateful family; "
            "RocksDB state store, file feed at one slice per microbatch "
            "(tools/state_soak.py geometry), availableNow drain; "
            "rows_per_sec excludes drain-poll idle batches; single-shot "
            "rows -- compare shapes, not +-20% deltas"
        ),
        "cpus": spark.sparkContext.defaultParallelism,
        "stream_shuffle_partitions": int(
            spark.conf.get("spark.sql.shuffle.partitions")
        ),
        "n_pipelines": len(rows),
        "rows": sorted(rows.values(), key=lambda r: r["pipeline"]),
    }
    with open(dest, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({"n": len(rows), "dest": dest}))


if __name__ == "__main__":
    main()
