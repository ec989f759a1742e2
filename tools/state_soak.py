"""Streaming state-size soak: measure (don't assert-by-docstring) the
state-store footprint of the stateful pipelines under RocksDB.

Each of the 28 stateful streaming surfaces documents a state bound
("candidates x in-flight windows", "CMS_DEPTH x CMS_WIDTH", "three
numbers per live voter", ...).  This tool EXECUTES a representative
pipeline per bound family over a deterministic synthetic feed at 1x
and 10x volume (same key domains, same event-time span — i.e. a 10x
RATE), under the RocksDB state store provider, and records the
final-batch `stateOperators` metrics (numRowsTotal, memory/SST bytes)
from the query progress.  For every pipeline it then checks

  * an ABSOLUTE row bound derived from the documented formula, and
  * a GROWTH cap: state rows at 10x rate / rows at 1x rate.  Bounded
    pipelines must stay ~flat (cap 1.05-1.6 depending on how much of
    the key domain the 1x feed already touches); the stream-stream
    join is the documented exception — its state is O(rate x
    join-horizon), so 10x rate legitimately means ~10x state and its
    no-unbounded-growth property is eviction over TIME, pinned by
    tests/test_state_audit.py with a 4-horizon soak.

Artifacts: STATE_AUDIT.md (human table + contract notes) and
STATE_AUDIT.json (machine rows).  Usage:

    python tools/state_soak.py                 # full soak
    python tools/state_soak.py name [name...]  # chunk: soak only these
                                               # pipelines, merge into
                                               # STATE_AUDIT.json (the
                                               # MD regenerates from
                                               # the merged rows)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa
import pyarrow.parquet as pq

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# deterministic feed geometry (no wall-clock anywhere)
T0_US = 1_709_251_200_000_000  # 2024-03-01 00:00:00 UTC
SPAN_MIN = 120
N_SLICES = 12                  # one file per 10-minute slice
N_USERS = 2_000
EVENT_TYPES = ["view", "click", "purchase", "share", "like"]
V_BASE = 24_000                # 1x volume; 10x = 240_000 over the SAME span


def write_vote_slices(
    out_dir: str, volume: int, span_min: int = SPAN_MIN, n_slices: int = N_SLICES
) -> None:
    """`volume` vote rows spread evenly over `span_min`, one parquet
    file per time slice (ascending), so maxFilesPerTrigger=1 advances
    the watermark slice by slice exactly like a live feed."""
    os.makedirs(out_dir, exist_ok=True)
    span_us = span_min * 60 * 1_000_000
    per_slice = volume // n_slices
    for s in range(n_slices):
        idx = range(s * per_slice, (s + 1) * per_slice)
        tab = pa.table(
            {
                "event_id": pa.array(list(idx), pa.int64()),
                "ts": pa.array(
                    [T0_US + i * span_us // volume for i in idx],
                    pa.timestamp("us", tz="UTC"),
                ),
                "user_id": pa.array([i % N_USERS for i in idx], pa.int64()),
                # round-robin rounds over the user domain: round r gives
                # every user one event of EVENT_TYPES[r % 5] — users
                # traverse view->click->purchase in funnel order
                "event_type": pa.array(
                    [EVENT_TYPES[(i // N_USERS) % len(EVENT_TYPES)] for i in idx]
                ),
                "value": pa.array([float(i % 7) + 0.5 for i in idx], pa.float64()),
                "props": pa.array([None] * per_slice, pa.string()),
            }
        )
        pq.write_table(tab, os.path.join(out_dir, f"{s:03d}.parquet"))


DOC_VOCAB = 800
DOC_TOKENS = 30
D_BASE = 1_000
DOC_SOURCES = 8


def write_doc_slices(out_dir: str, volume: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    per_slice = volume // 6
    for s in range(6):
        # fold volume % 6 into the last slice so the feed carries
        # EXACTLY `volume` rows (the count recorded as input_Nx in
        # STATE_AUDIT.json) and the 10x/1x input ratio is exact
        hi = (s + 1) * per_slice if s < 5 else volume
        idx = range(s * per_slice, hi)
        tab = pa.table(
            {
                "doc_id": pa.array(list(idx), pa.int64()),
                "source": pa.array([f"s{i % DOC_SOURCES}" for i in idx]),
                "text": pa.array(
                    [
                        " ".join(
                            f"tok{(i * 31 + j * 7) % DOC_VOCAB}"
                            for j in range(DOC_TOKENS)
                        )
                        for i in idx
                    ]
                ),
            }
        )
        pq.write_table(tab, os.path.join(out_dir, f"{s:03d}.parquet"))


E_BASE = 1_000


def write_emb_slices(out_dir: str, volume: int) -> None:
    """`volume` embedding rows, one parquet file per slice --
    deterministic pseudo-random float32 vectors (the make_sf1 value
    recipe) so 1x and 10x feeds cover the same vector space and only
    the RATE grows."""
    from de_realtime_voting_spark.constants import EMBEDDING_DIM

    os.makedirs(out_dir, exist_ok=True)
    per_slice = volume // 6
    for s in range(6):
        hi = (s + 1) * per_slice if s < 5 else volume
        idx = range(s * per_slice, hi)
        vecs = [
            [
                ((1 + i * EMBEDDING_DIM + j) * 2654435761 % 2000) / 1000.0 - 1.0
                for j in range(EMBEDDING_DIM)
            ]
            for i in idx
        ]
        tab = pa.table(
            {
                "vec_id": pa.array(list(idx), pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
            }
        )
        pq.write_table(tab, os.path.join(out_dir, f"{s:03d}.parquet"))


def _await_drained(q, max_sec: float = 600.0) -> None:
    """awaitTermination with an escape hatch for processing-time
    timeouts: FlatMapGroupsWithStateExec.shouldRunAnotherBatch is
    unconditionally TRUE for ProcessingTimeTimeout, so an availableNow
    query over such an operator schedules empty batches FOREVER after
    the feed drains (measured: 700+ batches before this guard
    existed).  Poll instead: once recent batches carry zero input and
    the state has either fully drained (timeouts fired and removed
    every group) or sat unchanged across enough empty batches to span
    the timeout gap, stop() the query manually."""
    import time

    deadline = time.monotonic() + max_sec
    while q.isActive:
        if q.awaitTermination(2):
            return
        empty = [
            p for p in q.recentProgress
            if p.get("numInputRows", 0) == 0 and p.get("stateOperators")
        ]
        if len(empty) >= 2:
            rows = [
                sum(op.get("numRowsTotal", 0) for op in p["stateOperators"])
                for p in empty
            ]
            if rows[-1] == 0 or (len(empty) >= 6 and rows[-1] == rows[-6]):
                q.stop()
                q.awaitTermination(30)
                return
        if time.monotonic() > deadline:
            q.stop()
            raise TimeoutError("soak query did not drain within max_sec")


def run_stateful(spark, src_dir: str, schema, build, output_mode: str) -> dict:
    """Stream `src_dir` (one file per micro-batch) through `build`,
    discard output, and return the FINAL batch's summed stateOperators
    metrics — the post-eviction state footprint."""
    ckpt = tempfile.mkdtemp(prefix="state_soak_ckpt_")
    try:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        q = (
            build(stream)
            .writeStream.format("noop")
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _await_drained(q)
        progress = [p for p in q.recentProgress if p.get("stateOperators")]
        assert progress, "query reported no stateOperators progress"
        last = progress[-1]["stateOperators"]
        rows = sum(op.get("numRowsTotal", 0) for op in last)
        peak = max(
            sum(op.get("numRowsTotal", 0) for op in p["stateOperators"])
            for p in progress
        )
        mem = sum(op.get("memoryUsedBytes", 0) for op in last)
        sst = sum(
            int(op.get("customMetrics", {}).get("rocksdbSstFileSize", 0))
            for op in last
        )
        pinned = sum(
            int(op.get("customMetrics", {}).get("rocksdbPinnedBlocksMemoryUsage", 0))
            for op in last
        )
        return {
            "state_rows": rows,
            "peak_rows": peak,
            "memory_bytes": mem,
            "sst_bytes": sst,
            "pinned_bytes": pinned,
            "operators": [op.get("operatorName", "?") for op in last],
            "batches": len(progress),
        }
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def _pipelines():
    """(name, domain, build, mode, bound_rows, growth_cap, contract)."""
    from de_realtime_voting_spark.constants import (
        CMS_DEPTH, CMS_WIDTH, DRIFT_BUCKETS, IVF_K, PACK_SHARDS,
    )
    from de_realtime_voting_spark.streaming import pipelines as P
    from de_realtime_voting_spark.streaming import state as S

    n_types = len(EVENT_TYPES)
    span_h = SPAN_MIN // 60
    return [
        # --- flat-by-key-domain families -------------------------------
        ("running_tally", "votes", S.running_tally, "update",
         n_types, 1.05,
         "one (votes, weight) row per candidate — O(candidates)"),
        ("funnel_tracker", "votes", S.funnel_tracker, "update",
         N_USERS, 1.05,
         "three numbers per voter IN the funnel — O(live voters)"),
        ("voter_sessions_with_timeout", "votes",
         # short processing-time gap: availableNow only terminates
         # after pending timeouts fire (see the operator docstring)
         lambda v: S.voter_sessions_with_timeout(v, gap_ms=3000),
         "update", N_USERS, 1.05,
         "one open-session row per active voter — O(active voters); "
         "peak is the honest footprint (the final batch may have "
         "closed sessions via the processing-time timeout)"),
        ("stream_one_vote_per_voter", "votes", P.stream_one_vote_per_voter,
         "append", N_USERS, 1.05,
         "one dedup row per voter EVER seen — O(electorate), the "
         "documented bounded-job contract (election night)"),
        ("stream_one_vote_per_voter_ttl", "votes",
         P.stream_one_vote_per_voter_ttl, "append",
         N_USERS, 1.6,
         "dedup rows only for voters inside the watermark horizon — "
         "O(voters active per horizon); 1x touches ~78% of the domain "
         "in its final horizon, 10x saturates it, hence the 1.6 cap"),
        ("stream_votes_per_candidate", "votes", P.stream_votes_per_candidate,
         "complete", n_types, 1.05,
         "global tally — O(candidates)"),
        # --- windowed-aggregation families -----------------------------
        # growth cap 2.0, not ~1: the ABSOLUTE candidates-x-windows
        # bound is the contract here.  The 1x feed delivers one funnel
        # round (so ~one event type) per 10-min slice, which makes the
        # second window's cells materialize one candidate per slice
        # and the 1x peak UNDERSHOOT the formula (measured 6 vs 10 /
        # 11 vs 15); 10x covers every type in every slice and lands on
        # the formula exactly.  Coverage discretization, not
        # rate-linear state -- both peaks sit far under the bound.
        ("stream_votes_per_candidate_hourly", "votes",
         P.stream_votes_per_candidate_hourly, "append",
         n_types * (span_h + 2), 2.0,
         "candidates x in-flight tumbling windows (span + watermark "
         "lag); 1x peak undershoots the formula (type-sparse slices), "
         "10x saturates it -- the absolute bound is the contract"),
        ("stream_votes_sliding_window", "votes", P.stream_votes_sliding_window,
         "append", n_types * (2 * span_h + 4), 2.0,
         "candidates x in-flight sliding windows (2 per hour of lag); "
         "same 1x type-sparsity undershoot as the tumbling family"),
        ("stream_votes_sessionized", "votes", P.stream_votes_sessionized,
         "append", 2 * N_USERS, 1.3,
         "in-flight session windows — O(active voters) while gaps stay "
         "under the session gap"),
        # --- sketch family ---------------------------------------------
        ("stream_token_cms", "docs", P.stream_token_cms, "update",
         CMS_DEPTH * CMS_WIDTH, 1.05,
         "CMS_DEPTH x CMS_WIDTH counter rows regardless of stream length"),
        ("stream_token_drift", "docs",
         lambda d: P.stream_token_drift(d, [1.0 / DRIFT_BUCKETS] * DRIFT_BUCKETS),
         "update", DOC_SOURCES, 1.05,
         "one wide row per source (DRIFT_BUCKETS+1 counters inside the "
         "row) regardless of vocabulary and stream length"),
        ("stream_pack_nextfit", "docs",
         # the soak feed has no lang column: source stands in for it
         lambda d: S.stream_pack_nextfit(
             d.withColumnRenamed("source", "lang")),
         "update", PACK_SHARDS * DOC_SOURCES, 1.05,
         "three numbers per (lang, shard) key -- rate- and "
         "corpus-independent (key domain: langs x shards of the feed)"),
        ("stream_centroid_drift", "emb", P.stream_centroid_drift, "update",
         IVF_K, 1.05,
         "one (count + DIM running sums) row per occupied IVF cell -- "
         "O(K) regardless of stream length and vector count (the "
         "token_cms bounded-aggregation shape on the vector axis)"),
        ("drift_alarm_tracker", "docs",
         lambda d: S.drift_alarm_tracker(
             d, [1.0 / DRIFT_BUCKETS] * DRIFT_BUCKETS, 0.3),
         "update", DOC_SOURCES, 1.05,
         "DRIFT_BUCKETS+2 numbers per source (cumulative histogram + "
         "alarm flag) regardless of rate and vocabulary"),
        # --- the documented linear-in-rate exception -------------------
        ("stream_repeat_vote_pairs", "votes", P.stream_repeat_vote_pairs,
         "append", int(2 * 1.3 * (V_BASE * 10 // 2)), 13.0,
         "stream-stream self-join: state is O(rate x join-horizon) by "
         "contract (both sides buffer the last `within`+delay of "
         "events).  10x RATE -> ~10x state is the correct shape; "
         "boundedness is eviction over TIME (4-horizon soak pinned in "
         "tests/test_state_audit.py)"),
    ]


def run_horizon_soak(spark, vote_schema) -> list[dict]:
    """Fixed-RATE soak of the stream-stream join over ~4x and ~8x the
    join horizon (within 30 min + 1 min delay + one ~15.3-min slice of
    watermark lag ~= 46 min): the TIME axis the rate soak cannot see.
    Eviction-over-time means the buffered state is ~one horizon of
    events however long the feed runs, so doubling the feed length at
    fixed rate must leave state rows AND bytes ~flat -- the numbers
    recorded here and asserted by tests/test_state_audit.py."""
    from de_realtime_voting_spark.streaming.pipelines import (
        stream_repeat_vote_pairs,
    )

    out = []
    rate_per_min = V_BASE / SPAN_MIN  # the 1x feed rate
    for mult, n_slices in ((4, 12), (8, 24)):
        span = round(mult * 46.0)  # ~4 / ~8 join horizons
        volume = int(rate_per_min * span)
        d = tempfile.mkdtemp(prefix=f"horizon_{mult}x_")
        try:
            write_vote_slices(d, volume, span_min=span, n_slices=n_slices)
            m = run_stateful(
                spark, d, vote_schema,
                lambda v: stream_repeat_vote_pairs(
                    v, within="30 minutes", delay="1 minute"
                ),
                "append",
            )
        finally:
            shutil.rmtree(d, ignore_errors=True)
        row = {
            "pipeline": f"stream_repeat_vote_pairs@{mult}h",
            "horizons": mult, "span_min": span, "input": volume,
            "rows": m["state_rows"], "peak": m["peak_rows"],
            "mem_bytes": m["memory_bytes"], "sst_bytes": m["sst_bytes"],
        }
        print(f"horizon {mult}x: input={volume} rows={row['rows']} "
              f"peak={row['peak']} mem={row['mem_bytes']} "
              f"sst={row['sst_bytes']}", flush=True)
        out.append(row)
    return out


def _load_audit(path: str) -> dict:
    """Read STATE_AUDIT.json in either shape (legacy list of pipeline
    rows, or the {"pipelines": [...], "horizon_soak": [...]} dict)."""
    with open(path) as f:
        data = json.load(f)
    if isinstance(data, list):
        return {"pipelines": data, "horizon_soak": []}
    return data


def main() -> None:
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
        TimestampType,
    )

    from de_realtime_voting_spark.session import (
        enable_rocksdb_state_store, get_spark,
    )

    spark = get_spark("state-soak")
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
    from pyspark.sql.types import ArrayType, FloatType

    emb_schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
    ])

    base = tempfile.mkdtemp(prefix="state_soak_data_")
    feeds = {}
    for scale, v_votes, v_docs in ((1, V_BASE, D_BASE), (10, V_BASE * 10, D_BASE * 10)):
        vd = os.path.join(base, f"votes_{scale}x")
        dd = os.path.join(base, f"docs_{scale}x")
        ed = os.path.join(base, f"emb_{scale}x")
        write_vote_slices(vd, v_votes)
        write_doc_slices(dd, v_docs)
        write_emb_slices(ed, E_BASE * scale)
        feeds[scale] = {"votes": (vd, vote_schema, v_votes),
                        "docs": (dd, doc_schema, v_docs),
                        "emb": (ed, emb_schema, E_BASE * scale)}

    args = sys.argv[1:]
    horizon_only = "--horizon" in args
    only = set(a for a in args if a != "--horizon")
    assert not (horizon_only and only), (
        "--horizon runs ONLY the horizon soak; pipeline names are not "
        "combinable with it (run a name-chunk soak separately)"
    )
    specs = _pipelines()
    if horizon_only:
        specs = []
    elif only:
        unknown = only - {s[0] for s in specs}
        assert not unknown, f"unknown pipelines: {sorted(unknown)}"
        specs = [s for s in specs if s[0] in only]

    results = []
    try:
        for name, domain, build, mode, bound, growth_cap, contract in specs:
            row = {"pipeline": name, "domain": domain, "bound_rows": bound,
                   "growth_cap": growth_cap, "contract": contract}
            for scale in (1, 10):
                src, schema, vol = feeds[scale][domain]
                m = run_stateful(spark, src, schema, build, mode)
                row[f"rows_{scale}x"] = m["state_rows"]
                row[f"peak_{scale}x"] = m["peak_rows"]
                row[f"mem_{scale}x"] = m["memory_bytes"]
                row[f"sst_{scale}x"] = m["sst_bytes"]
                row[f"input_{scale}x"] = vol
                row["operators"] = m["operators"]
                print(f"{name} @{scale}x: rows={m['state_rows']} "
                      f"peak={m['peak_rows']} mem={m['memory_bytes']} "
                      f"sst={m['sst_bytes']} batches={m['batches']}", flush=True)
            # the PEAK footprint is what sizing cares about (the final
            # batch may sit post-eviction); growth compares peaks
            row["growth"] = (
                (row["peak_10x"] / row["peak_1x"]) if row["peak_1x"] else 0.0
            )
            row["within_bound"] = row["peak_10x"] <= bound
            row["within_growth"] = row["growth"] <= growth_cap
            results.append(row)
    finally:
        shutil.rmtree(base, ignore_errors=True)

    # the horizon soak (TIME axis) runs on a full run or on --horizon
    horizon_rows = None
    if horizon_only or not only:
        horizon_rows = run_horizon_soak(spark, vote_schema)

    # merge chunk rows into any existing audit (keyed by pipeline,
    # preserving the canonical _pipelines() order in the artifact)
    path = os.path.join(_REPO, "STATE_AUDIT.json")
    prior = (
        _load_audit(path)
        if (only or horizon_only) and os.path.exists(path)
        else {"pipelines": [], "horizon_soak": []}
    )
    merged = {r["pipeline"]: r for r in prior["pipelines"]}
    merged.update({r["pipeline"]: r for r in results})
    ordered = [merged[s[0]] for s in _pipelines() if s[0] in merged]
    horizon = horizon_rows if horizon_rows is not None else prior["horizon_soak"]
    with open(path, "w") as f:
        json.dump({"pipelines": ordered, "horizon_soak": horizon}, f, indent=1)
    _write_md(ordered, horizon)
    bad = [r["pipeline"] for r in ordered
           if not (r["within_bound"] and r["within_growth"])]
    horizon_bad = []
    if len(horizon) == 2 and horizon[0]["peak"]:
        flat = horizon[1]["peak"] / horizon[0]["peak"]
        if flat > 1.25:
            horizon_bad.append(
                f"horizon_soak (8h/4h peak ratio {flat:.2f} > 1.25)"
            )
    all_bad = bad + horizon_bad
    print(f"\n{len(ordered) - len(bad)}/{len(ordered)} within documented bounds"
          + (f"; VIOLATIONS: {all_bad}" if all_bad else ""))
    sys.exit(1 if all_bad else 0)


def _fmt_bytes(n: int) -> str:
    if n >= 1 << 20:
        return f"{n / (1 << 20):.1f} MiB"
    if n >= 1 << 10:
        return f"{n / (1 << 10):.1f} KiB"
    return f"{n} B"


# level-2 headings _write_md generates; every other ``## `` section of
# an existing STATE_AUDIT.md is hand-written and survives a re-run
_GENERATED_SECTIONS = ("## Horizon soak", "## Contracts measured")


def _h2_sections(text: str) -> list[str]:
    """``text``'s ``## `` sections, each from its heading to the next
    one, trailing blank lines stripped."""
    blocks: list[list[str]] = []
    for line in text.splitlines():
        if line.startswith("## "):
            blocks.append([line])
        elif blocks:
            blocks[-1].append(line)
    return ["\n".join(b).rstrip("\n") for b in blocks]


def _carry_hand_sections(generated: str, previous: str) -> str:
    """``generated`` followed by every ``## `` section of ``previous``
    the template does not generate (the hand-written r11 capacity
    formula, say), in their order."""
    kept = [
        s for s in _h2_sections(previous) if not s.startswith(_GENERATED_SECTIONS)
    ]
    return generated + "".join(f"\n{s}\n" for s in kept)


def _write_md(
    results: list[dict],
    horizon: list[dict] | None = None,
    path: str = os.path.join(_REPO, "STATE_AUDIT.md"),
) -> None:
    lines = [
        "# STATE_AUDIT — streaming state-store soak (RocksDB)",
        "",
        "Generated by `tools/state_soak.py`: each stateful pipeline family",
        f"runs over a deterministic feed at 1x ({V_BASE:,} votes / {D_BASE:,} docs",
        f"across {SPAN_MIN} min, {N_USERS:,} voters, {len(EVENT_TYPES)} event types)",
        "and 10x THE RATE (same span, same key domains), under",
        "`RocksDBStateStoreProvider` with changelog checkpointing, one",
        "micro-batch per 10-minute slice so the watermark advances like a",
        "live feed.  `peak state rows` is the maximum `numRowsTotal` over",
        "the run (the footprint sizing cares about); `final rows` is the",
        "last batch's — the post-eviction number.  `bound` is the",
        "documented formula evaluated for this feed; `growth` is",
        "peak(10x)/peak(1x) — a bounded pipeline must stay ~flat when",
        "only the RATE grows.",
        "",
        "`state bytes 10x` is the final batch's memoryUsedBytes / RocksDB",
        "SST file size — the physical footprint behind the row counts.",
        "",
        "| pipeline | input 1x→10x | peak state rows 1x→10x | final rows 10x | state bytes 10x (mem / sst) | growth | bound | ok |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for r in results:
        ok = "yes" if (r["within_bound"] and r["within_growth"]) else "**NO**"
        lines.append(
            f"| `{r['pipeline']}` | {r['input_1x']:,}→{r['input_10x']:,} "
            f"| {r['peak_1x']:,}→{r['peak_10x']:,} | {r['rows_10x']:,} "
            f"| {_fmt_bytes(r.get('mem_10x', 0))} / {_fmt_bytes(r.get('sst_10x', 0))} "
            f"| {r['growth']:.2f} (cap {r['growth_cap']}) "
            f"| ≤{r['bound_rows']:,} | {ok} |"
        )
    if horizon:
        lines += [
            "",
            "## Horizon soak — the stream-stream join's TIME axis",
            "",
            "Fixed 1x rate, feed length ~4x and ~8x the join horizon",
            "(within 30 min + 1 min delay + one ~15.3-min slice of",
            "watermark lag ≈ 46 min).  Eviction over time means state",
            "rows AND bytes stay ~flat when only the feed LENGTH grows —",
            "the boundary claim behind the O(rate × horizon) contract,",
            "asserted by tests/test_state_audit.py.",
            "",
            "| feed | span | input rows | final state rows | peak | state bytes (mem / sst) |",
            "|---|---|---|---|---|---|",
        ]
        for h in horizon:
            lines.append(
                f"| `{h['pipeline']}` | {h['span_min']} min | {h['input']:,} "
                f"| {h['rows']:,} | {h['peak']:,} "
                f"| {_fmt_bytes(h['mem_bytes'])} / {_fmt_bytes(h['sst_bytes'])} |"
            )
        if len(horizon) == 2 and horizon[0]["peak"]:
            ratio = horizon[1]["peak"] / horizon[0]["peak"]
            lines.append(
                f"\nPeak-state ratio 8h/4h = {ratio:.2f} — time-flat "
                "(doubling feed length at fixed rate leaves the buffers "
                "holding ~one horizon)."
            )
    lines += ["", "## Contracts measured", ""]
    for r in results:
        lines.append(f"- **`{r['pipeline']}`** — {r['contract']}.")
    lines += [
        "",
        "The stream-stream join is the one family whose state is linear in",
        "RATE by contract; its no-unbounded-growth-in-TIME property (state",
        "≈ one join-horizon of events regardless of how long the stream has",
        "run) is executed and asserted by",
        "`tests/test_state_audit.py::test_join_state_evicts_over_time`.",
    ]
    text = "\n".join(lines) + "\n"
    if os.path.exists(path):
        with open(path) as f:
            text = _carry_hand_sections(text, f.read())
    with open(path, "w") as f:
        f.write(text)


if __name__ == "__main__":
    main()
