"""live_tally: the reference pipeline on a live vote feed.

Two streaming queries read one JSON file feed with ``parse_vote_stream``
-> ``watermark_votes`` (1 minute) -> ``stream_votes_per_candidate`` and
``stream_turnout_by_location`` (static customer/nation dims), in update
mode, into memory sinks that keep every emitted row.

1. Drain: a backlog of DRAIN_FILES files, read at DRAIN_CAP files per
   trigger (availableNow).  Its first committed batch ends ``setup_s``;
   its non-first batches give the drain rate.
2. Live: generator.py, a separate single-threaded process, writes
   RATE votes/s in TICK_S ticks on a fixed schedule (an open loop) for
   LIVE_WARM_S + ``seconds``; the queries run back to back.  Freshness
   per batch is its emission time (trigger start + triggerExecution)
   minus the newest event's creation time (the progress event's
   eventTime.max); batches whose newest event falls in the first
   LIVE_WARM_S are warm-up and not timed.

Checks, outside the timed phases: the last update per key equals the
DuckDB oracle twin of votes_per_candidate / turnout_by_location over
every generated event (counts exact, weights within the operator's
2-decimal rounding), no row was dropped by the watermark, and the
backlog did not grow (when the generator stops, each query's pending
files span at most two of its median batch durations plus a tick).
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import time
from datetime import datetime, timezone

from harness import pct, process_age_s, start_spark, state_store, stop_spark
from layers import layer_metrics

RATE = 400.0           # votes/s, about 0.3 of the drain rate on 4 cores
TICK_S = 0.5           # one file per tick
LIVE_ROWS_PER_FILE = int(RATE * TICK_S)
DRAIN_ROWS_PER_FILE = 500
DRAIN_FILES = 20       # backlog files, written before the session starts
DRAIN_CAP = 10         # maxFilesPerTrigger: 2 drain batches, never binding live
LIVE_WARM_S = 2.0      # feed before the timed window: each query's first
                       # live batch (idle -> busy) is a transient
DRAIN_TIMEOUT_S = 60.0
HERE = os.path.dirname(os.path.abspath(__file__))


def _epoch(iso: str) -> float:
    return datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp()


def _generator(data, out_dir, stats, seed, rows_per_file, *extra):
    os.makedirs(out_dir, exist_ok=True)
    return subprocess.Popen([
        sys.executable, os.path.join(HERE, "generator.py"),
        os.path.join(data, "events.parquet"), out_dir, stats, "--seed", str(seed),
        "--rate", str(rows_per_file / TICK_S), "--tick", str(TICK_S), *extra,
    ])


def _wait(proc, timeout):
    try:
        rc = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
        raise
    if rc != 0:
        raise RuntimeError(f"generator exited {rc}")


def _start(spark, feed, ckpt, prefix, dims, cap=None, available_now=False):
    from de_realtime_voting_spark.streaming.pipelines import (
        parse_vote_stream, stream_turnout_by_location, stream_votes_per_candidate,
        watermark_votes,
    )

    reader = spark.readStream.format("text")
    if cap:
        reader = reader.option("maxFilesPerTrigger", cap)
    votes = watermark_votes(parse_vote_stream(reader.load(feed), value_col="value"), "1 minute")
    outs = {
        "votes": stream_votes_per_candidate(votes),
        "turnout": stream_turnout_by_location(votes, *dims),
    }
    qs = {}
    for key, df in outs.items():
        w = (df.writeStream.format("memory").queryName(f"{prefix}_{key}")
             .outputMode("update").option("checkpointLocation", os.path.join(ckpt, key)))
        if available_now:
            w = w.trigger(availableNow=True)
        qs[key] = w.start()
    return qs


class _Progress:
    """Progress events per query id: a listener in traced runs (with
    the time its callbacks take), ``recentProgress`` otherwise."""

    def __init__(self, spark, listen: bool):
        self.events: dict[str, list[dict]] = {}
        self.callback_s = 0.0
        self.listener = None
        if listen:
            from pyspark.sql.streaming import StreamingQueryListener

            outer = self

            class L(StreamingQueryListener):
                def onQueryStarted(self, event):
                    pass

                def onQueryProgress(self, event):
                    t0 = time.perf_counter()
                    p = json.loads(event.progress.json)
                    outer.events.setdefault(p["id"], []).append(p)
                    outer.callback_s += time.perf_counter() - t0

                def onQueryIdle(self, event):
                    pass

                def onQueryTerminated(self, event):
                    pass

            self.listener = L()
            spark.streams.addListener(self.listener)

    def of(self, q) -> list[dict]:
        if self.listener is None:
            return [json.loads(p.json) for p in q.recentProgress]
        # listener events arrive asynchronously: wait for the last one
        last = q.lastProgress
        deadline = time.perf_counter() + 10.0
        while last is not None and time.perf_counter() < deadline and not any(
            p["batchId"] == last["batchId"] for p in self.events.get(q.id, [])
        ):
            time.sleep(0.02)
        return sorted(self.events.get(q.id, []), key=lambda p: p["batchId"])


def _fed(progress):
    return [p for p in progress if p.get("numInputRows", 0) > 0]


def _rows(progress) -> int:
    return sum(p.get("numInputRows", 0) for p in progress)


def _await_rows(prog, qs, rows, timeout):
    """Wait until every query has committed ``rows`` input rows."""
    t0 = time.perf_counter()
    while any(_rows(prog.of(q)) < rows for q in qs.values()):
        for q in qs.values():
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
        if time.perf_counter() - t0 > timeout:
            raise TimeoutError("stream did not catch up")
        time.sleep(0.05)


def _expected(data, feed):
    """Oracle answers over every event written to ``feed``."""
    import duckdb
    import pandas as pd

    from de_realtime_voting_spark.oracles import SQL

    files = sorted(glob.glob(os.path.join(feed, "*.json")))
    events = pd.concat(
        [pd.read_json(f, lines=True, dtype={"props": str}) for f in files], ignore_index=True
    )
    con = duckdb.connect()
    con.register("events", events)
    for t in ("customer", "nation"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data, t)}.parquet'")
    vpc = {r[0]: (r[1], r[2]) for r in con.sql(SQL["votes_per_candidate"]).fetchall()}
    tbl = {r[0]: r[1] for r in con.sql(SQL["turnout_by_location"]).fetchall()}
    con.close()
    return vpc, tbl


def _check(spark, data, feed, prefix) -> list[str]:
    """Mismatches between the last emitted row per key and the oracle."""
    vpc, tbl = _expected(data, feed)
    got_v, got_t = {}, {}
    for r in spark.table(f"{prefix}_votes").collect():
        got_v[r["candidate_id"]] = (r["total_votes"], r["total_weight"])
    for r in spark.table(f"{prefix}_turnout").collect():
        got_t[r["location"]] = r["total_turnout_votes"]
    bad = []
    if set(got_v) != set(vpc) or any(
        got_v[k][0] != vpc[k][0] or abs(got_v[k][1] - vpc[k][1]) > 0.0100001 for k in vpc
    ):
        bad.append(f"{prefix}_votes_per_candidate")
    if got_t != tbl:
        bad.append(f"{prefix}_turnout_by_location")
    return bad


def _drain_rate(progress: dict) -> float:
    """Rows per second of batch time over each query's non-first
    (warm) drain batches."""
    steady = [p for ps in progress.values() for p in _fed(ps)[1:]]
    return sum(p["numInputRows"] for p in steady) / (
        sum(p["durationMs"]["triggerExecution"] for p in steady) / 1e3)


def _committed_at(p: dict) -> float:
    return _epoch(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1e3


def run(seed, seconds, trace, data, work, env):
    feed = os.path.join(work, "feed")
    backlog = _generator(data, feed, os.path.join(work, "backlog.json"), seed,
                         DRAIN_ROWS_PER_FILE, "--backlog-files", str(DRAIN_FILES))
    try:
        spark, start_s = start_spark()
    finally:
        _wait(backlog, 120)
    env["state_store"] = state_store(spark)
    try:
        from de_realtime_voting_spark.sources import load_table

        dims = (load_table(spark, data, "customer"), load_table(spark, data, "nation"))
        prog = _Progress(spark, listen=trace)
        qs = _start(spark, feed, os.path.join(work, "ckpt"), "tally", dims, cap=DRAIN_CAP)
        drain_rows = DRAIN_FILES * DRAIN_ROWS_PER_FILE
        _await_rows(prog, qs, drain_rows, DRAIN_TIMEOUT_S)
        drain = {k: prog.of(q) for k, q in qs.items()}
        first_commit = min(_committed_at(ps[0]) for ps in drain.values())
        setup_s = process_age_s() - (time.time() - first_commit)
        drain_rate = _drain_rate(drain)
        n_drain = {k: len(ps) for k, ps in drain.items()}

        # live phase: the open-loop generator appends to the same feed
        stats_path = os.path.join(work, "live.json")
        live_start = time.time() + 0.7
        gen = _generator(data, feed, stats_path, seed + 1, LIVE_ROWS_PER_FILE,
                         "--seconds", str(seconds + LIVE_WARM_S),
                         "--first-file", str(DRAIN_FILES), "--start-at", str(live_start))
        try:
            _wait(gen, seconds + 60)
        finally:
            if gen.poll() is None:
                gen.kill()
                gen.wait(timeout=30)
        with open(stats_path) as f:
            gstats = json.load(f)
        per_file = LIVE_ROWS_PER_FILE
        total = drain_rows + gstats["files"] * per_file
        pending = {k: (total - _rows(prog.of(q))) / per_file for k, q in qs.items()}
        _await_rows(prog, qs, total, DRAIN_TIMEOUT_S)
        for q in qs.values():
            q.stop()
        live = {k: _fed(prog.of(q)[n_drain[k]:]) for k, q in qs.items()}
        timed_from = live_start + LIVE_WARM_S - TICK_S / 2  # ts has ms precision
        batches = [p for ps in live.values() for p in ps
                   if _epoch(p["eventTime"]["max"]) >= timed_from]
        fresh = [_committed_at(p) - _epoch(p["eventTime"]["max"]) for p in batches]
        # a queue that keeps up holds at most two batches' worth of feed
        grew = any(
            pending[k] * TICK_S > 2 * pct([p["durationMs"]["triggerExecution"] / 1e3
                                          for p in ps], 50) + TICK_S
            for k, ps in live.items()
        )
        pending = max(pending.values())
        every = [p for q in qs.values() for p in prog.of(q)]
        dropped = sum(op.get("numRowsDroppedByWatermark", 0)
                      for p in every for op in p.get("stateOperators", []))
        bad = _check(spark, data, feed, "tally")
        if dropped:
            bad.append("rows_dropped_by_watermark")
        late_ms = [x * 1e3 for x in gstats["late_s"]]
        detail = {
            "rate_votes_per_s": RATE,
            "tick_s": TICK_S,
            "live_rows_per_file": per_file,
            "drain": {"files": DRAIN_FILES, "rows_per_file": DRAIN_ROWS_PER_FILE,
                      "max_files_per_trigger": DRAIN_CAP,
                      "batches": sum(len(_fed(ps)) for ps in drain.values())},
            "live_warm_s": LIVE_WARM_S,
            "live_batches": len(batches),
            "freshness_ms": [round(x * 1e3, 1) for x in fresh],
            "freshness_p50_ms": pct(fresh, 50) * 1e3,
            "freshness_p90_ms": pct(fresh, 90) * 1e3,
            "drain_rows_per_s": drain_rate,
            "setup_s": setup_s,
            "generator_late_p99_ms": pct(late_ms, 99),
            "backlog_files_end": pending,
            "backlog_grew": grew,
            "rows_dropped_by_watermark": dropped,
            "check_failures": bad,
        }
        metrics = {
            "latency_p50_ms": (detail["freshness_p50_ms"], "ms"),
            "latency_p90_ms": (detail["freshness_p90_ms"], "ms"),
            "throughput_per_s": (drain_rate, "1/s"),
            "setup_s": (setup_s, "s"),
        }
        if trace:
            metrics = _layers(batches, live, prog, start_s, late_ms, pending)
    finally:
        stop_spark(spark)
    if trace:
        serial = _serial_drain(data, work, feed)
        metrics["streaming.serial_drain_rows_per_s"] = (serial, "1/s")
        detail["serial_drain_rows_per_s"] = serial
    return {
        "correct": not bad and not grew,
        "attempted": len(batches),
        "failed": len(bad) + int(grew),
        "metrics": metrics,
        "detail": detail,
    }


def _layers(batches, live, prog, start_s, late_ms, pending):
    def med(f):
        return pct([f(p) for p in batches], 50)

    d = lambda p, *ks: sum(p["durationMs"].get(k, 0) for k in ks)  # noqa: E731
    last = [ps[-1] for ps in live.values()]
    ops = [op for p in last for op in p.get("stateOperators", [])]
    batch_ms = sum(d(p, "triggerExecution") for p in batches)
    values = {
        "streaming.batch_ms_p50": med(lambda p: d(p, "triggerExecution")),
        "streaming.source_ms": med(lambda p: d(p, "latestOffset", "getBatch")),
        "streaming.plan_ms": med(lambda p: d(p, "queryPlanning")),
        "streaming.exec_ms": med(lambda p: d(p, "addBatch")),
        "streaming.commit_ms": med(lambda p: d(p, "walCommit", "commitOffsets")),
        "streaming.state_rows": sum(op["numRowsTotal"] for op in ops),
        "streaming.state_bytes": sum(op["memoryUsedBytes"] for op in ops),
        "streaming.state_commit_ms": med(
            lambda p: sum(op["commitTimeMs"] for op in p.get("stateOperators", []))),
        "streaming.state_instances": sum(op.get("numStateStoreInstances", 0) for op in ops),
        "streaming.rows_dropped_by_watermark": sum(
            op.get("numRowsDroppedByWatermark", 0) for p in batches
            for op in p.get("stateOperators", [])),
        "session.start_s": start_s,
        "generator.late_p99_ms": pct(late_ms, 99),
        "generator.backlog_files_end": pending,
        "trace.unit_wall_s": batch_ms / len(batches) / 1e3,
        "trace.overhead_pct": prog.callback_s * 1e3 / batch_ms * 100.0,
    }
    return layer_metrics(values)


def _serial_drain(data, work, feed):
    """The drain on a single-thread session (local[1]) over the backlog
    files: the serial baseline for the drain rate."""
    cpus = os.environ["SPARK_GRAFT_CPUS"]
    os.environ["SPARK_GRAFT_CPUS"] = "1"
    try:
        spark, _ = start_spark()
    finally:
        os.environ["SPARK_GRAFT_CPUS"] = cpus
    try:
        from de_realtime_voting_spark.sources import load_table

        backlog = os.path.join(work, "feed-serial")
        os.makedirs(backlog)
        for i in range(DRAIN_FILES):
            name = f"votes-{i:06d}.json"
            os.link(os.path.join(feed, name), os.path.join(backlog, name))
        dims = (load_table(spark, data, "customer"), load_table(spark, data, "nation"))
        qs = _start(spark, backlog, os.path.join(work, "ckpt-serial"), "serial", dims,
                    cap=DRAIN_CAP, available_now=True)
        for q in qs.values():
            q.awaitTermination(DRAIN_TIMEOUT_S * 3)
            if q.isActive:
                q.stop()
                raise TimeoutError("serial drain did not finish")
        return _drain_rate({k: [json.loads(p.json) for p in q.recentProgress]
                            for k, q in qs.items()})
    finally:
        stop_spark(spark)
