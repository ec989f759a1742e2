"""Structured Streaming tests: file-source micro-batches through the
same transforms as batch (parity), JSON parse, stateful tally, and
the idempotent foreachBatch upsert sink."""

from __future__ import annotations

import json
import os
from collections import defaultdict
import shutil
import tempfile
import time
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from de_realtime_voting_spark.operators import voting
from de_realtime_voting_spark.sources import load_table
from de_realtime_voting_spark.streaming import (
    VOTE_SCHEMA,
    parse_vote_stream,
    foreach_batch_upsert,
    running_tally,
    stream_votes_per_candidate,
    stream_votes_per_candidate_hourly,
    to_kafka_frame,
)


@pytest.fixture(scope="module")
def vote_json_dir(spark, sf_dir):
    """events table as JSON files -- a Kafka-free streaming source
    with the same payload shape the reference consumes."""
    d = tempfile.mkdtemp(prefix="votes_json_")
    events = load_table(spark, sf_dir, "events")
    # micros precision: to_json's default format truncates to millis,
    # which shifts session_window starts vs the parquet ground truth
    events.select(
        F.to_json(
            F.struct(*events.columns),
            {"timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"},
        ).alias("value_json")
    ).repartition(2).write.mode("overwrite").text(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _run_stream_to_memory(spark, stream_df, name, output_mode):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def test_parse_vote_stream_batch_equivalence(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    as_json = events.select(F.to_json(F.struct(*events.columns)).alias("value_json"))
    parsed = parse_vote_stream(as_json)
    assert [f.name for f in parsed.schema.fields] == [f.name for f in VOTE_SCHEMA.fields]
    assert parsed.count() == events.count()
    # spot-check values survive the JSON round trip
    a = sorted(r["event_id"] for r in parsed.select("event_id").collect())
    b = sorted(r["event_id"] for r in events.select("event_id").collect())
    assert a == b


def test_stream_votes_per_candidate_matches_batch(spark, sf_dir, vote_json_dir):
    stream = parse_vote_stream(
        spark.readStream.schema("value_json string").text(vote_json_dir),
        "value_json",
    )
    out = _run_stream_to_memory(
        spark, stream_votes_per_candidate(stream), "vpc_stream", "complete"
    )
    batch = voting.votes_per_candidate(load_table(spark, sf_dir, "events"))
    got = {r["candidate_id"]: (r["total_votes"], r["total_weight"]) for r in out.collect()}
    want = {r["candidate_id"]: (r["total_votes"], r["total_weight"]) for r in batch.collect()}
    assert got == want


def test_stream_hourly_window_with_watermark(spark, sf_dir, vote_json_dir):
    stream = parse_vote_stream(
        spark.readStream.schema("value_json string").text(vote_json_dir),
        "value_json",
    )
    out = _run_stream_to_memory(
        spark,
        stream_votes_per_candidate_hourly(stream, "1 minute"),
        "vpch_stream",
        "append",
    ).collect()
    # watermark finalizes all but the max-event-time window; compare
    # totals for the windows that were emitted
    batch = {
        (r["window_start"], r["candidate_id"]): r["total_votes"]
        for r in voting.votes_per_candidate_hourly(
            load_table(spark, sf_dir, "events")
        ).collect()
    }
    assert len(out) > 0
    for r in out:
        assert batch[(r["window_start"], r["candidate_id"])] == r["total_votes"]


def test_running_tally_state(spark, sf_dir, vote_json_dir):
    stream = parse_vote_stream(
        spark.readStream.schema("value_json string").text(vote_json_dir),
        "value_json",
    )
    out = _run_stream_to_memory(
        spark, running_tally(stream), "tally_stream", "update"
    ).collect()
    # final state per candidate must equal the batch tally
    batch = {
        r["candidate_id"]: r["total_votes"]
        for r in voting.votes_per_candidate(load_table(spark, sf_dir, "events")).collect()
    }
    # keep the last emitted row per candidate (update mode may emit per batch)
    final = {}
    for r in out:
        final[r["candidate_id"]] = r["total_votes"]
    assert final == batch


def test_stream_static_join_turnout(spark, sf_dir, vote_json_dir):
    from de_realtime_voting_spark.streaming import pipelines

    stream = parse_vote_stream(
        spark.readStream.schema("value_json string").text(vote_json_dir),
        "value_json",
    )
    out = _run_stream_to_memory(
        spark,
        pipelines.stream_turnout_by_location(
            stream,
            load_table(spark, sf_dir, "customer"),
            load_table(spark, sf_dir, "nation"),
        ),
        "turnout_stream",
        "complete",
    )
    batch = voting.turnout_by_location(
        load_table(spark, sf_dir, "events"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
    )
    got = {r["location"]: r["total_turnout_votes"] for r in out.collect()}
    want = {r["location"]: r["total_turnout_votes"] for r in batch.collect()}
    assert got == want


def test_stream_sessionized_matches_batch(spark, sf_dir, vote_json_dir):
    from de_realtime_voting_spark.streaming import stream_votes_sessionized

    stream = parse_vote_stream(
        spark.readStream.schema("value_json string").text(vote_json_dir),
        "value_json",
    )
    out = _run_stream_to_memory(
        spark, stream_votes_sessionized(stream), "sess_stream", "complete"
    )
    batch = voting.votes_sessionized(load_table(spark, sf_dir, "events"))
    key = lambda r: (r["voter_id"], r["session_start"])
    got = {key(r): (r["n_votes"], r["session_weight"]) for r in out.collect()}
    want = {key(r): (r["n_votes"], r["session_weight"]) for r in batch.collect()}
    assert got == want


def test_stream_one_vote_per_voter(spark, sf_dir, vote_json_dir):
    from de_realtime_voting_spark.streaming import stream_one_vote_per_voter

    stream = parse_vote_stream(
        spark.readStream.schema("value_json string").text(vote_json_dir),
        "value_json",
    )
    out = _run_stream_to_memory(
        spark, stream_one_vote_per_voter(stream), "ovpv_stream", "append"
    )
    events = load_table(spark, sf_dir, "events")
    n_voters = events.select("user_id").distinct().count()
    rows = out.collect()
    # exactly one surviving vote per voter, each a real event
    assert len(rows) == n_voters
    assert len({r["user_id"] for r in rows}) == n_voters
    event_ids = {r["event_id"] for r in events.select("event_id").collect()}
    assert all(r["event_id"] in event_ids for r in rows)


def test_checkpoint_recovery_resumes_state(spark, sf_dir, vote_json_dir):
    """Kill the query mid-stream, add data, restart from the SAME
    checkpoint: offsets + aggregation state recover and the final
    tally equals the batch answer with no double counting -- the
    exactly-once contract the reference's Kafka consumer lacks."""
    import glob
    import os

    src = tempfile.mkdtemp(prefix="cp_src_")
    ckpt = tempfile.mkdtemp(prefix="cp_ckpt_")
    files = sorted(glob.glob(f"{vote_json_dir}/part-*"))
    assert len(files) >= 2
    shutil.copy(files[0], src)

    def start():
        stream = parse_vote_stream(
            spark.readStream.schema("value_json string").text(src),
            "value_json",
        )
        return (
            stream_votes_per_candidate(stream)
            .writeStream.format("memory")
            .queryName("cp_tally")
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    q.awaitTermination(120)  # drains file 1, commits offsets, stops

    shutil.copy(files[1], src)  # new data arrives while "down"
    q2 = start()
    q2.awaitTermination(120)

    got = {
        r["candidate_id"]: (r["total_votes"], r["total_weight"])
        for r in spark.sql("SELECT * FROM cp_tally").collect()
    }
    want = {
        r["candidate_id"]: (r["total_votes"], r["total_weight"])
        for r in voting.votes_per_candidate(
            load_table(spark, sf_dir, "events")
        ).collect()
    }
    assert got == want
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)


def _state_store_widths(query):
    """numStateStoreInstances of every state operator, over the
    query's input-carrying batches."""
    return [
        op["numStateStoreInstances"]
        for p in query.recentProgress
        if p["numInputRows"] > 0
        for op in p["stateOperators"]
    ]


def test_stateful_tally_one_state_store_per_core(spark, sf_dir, vote_json_dir):
    """The stream shuffle width is the core count: each stateful
    operator of the two live tallies opens one state store per core
    per micro-batch, not one per BATCH shuffle partition (32)."""
    from de_realtime_voting_spark.streaming import pipelines

    votes = pipelines.watermark_votes(
        parse_vote_stream(
            spark.readStream.schema("value_json string").text(vote_json_dir),
            "value_json",
        )
    )
    tallies = {
        "votes": stream_votes_per_candidate(votes),
        "turnout": pipelines.stream_turnout_by_location(
            votes,
            load_table(spark, sf_dir, "customer"),
            load_table(spark, sf_dir, "nation"),
        ),
    }
    for name, df in tallies.items():
        q = (
            df.writeStream.format("memory")
            .queryName(f"width_{name}")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        widths = _state_store_widths(q)
        assert widths, name
        assert set(widths) == {spark.sparkContext.defaultParallelism}, name


def test_batch_shuffle_width_pinned(spark, sf_dir):
    """The batch half of the split: batch exchanges still plan at 32
    (AQE coalesces them at runtime), and the explicit repartitions in
    operators/dedup.py use the same width."""
    import re

    from de_realtime_voting_spark.operators import dedup

    counts = load_table(spark, sf_dir, "events").groupBy("event_type").count()
    plan = counts._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"hashpartitioning\(event_type#\d+, 32\)", plan), plan
    assert dedup._shuffle_width(spark) == 32


def test_restart_keeps_checkpointed_state_width(spark, vote_json_dir, duck):
    """Spark freezes the stream width into the checkpoint's offset log
    at first start: a tally started at width 32 restarts at 32 under
    the core-count default, reads the new files, and its tally equals
    the DuckDB oracle."""
    import glob

    from de_realtime_voting_spark.oracles import SQL

    src = tempfile.mkdtemp(prefix="width_src_")
    ckpt = tempfile.mkdtemp(prefix="width_ckpt_")
    files = sorted(glob.glob(f"{vote_json_dir}/part-*"))
    assert len(files) >= 2
    shutil.copy(files[0], src)

    def start():
        stream = parse_vote_stream(
            spark.readStream.schema("value_json string").text(src),
            "value_json",
        )
        q = (
            stream_votes_per_candidate(stream)
            .writeStream.format("memory")
            .queryName("width_restart")
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return q

    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    try:
        spark.conf.set(key, "32")
        assert set(_state_store_widths(start())) == {32}
    finally:
        spark.conf.set(key, saved)
    assert int(saved) == spark.sparkContext.defaultParallelism

    shutil.copy(files[1], src)  # new data arrives while "down"
    q2 = start()
    assert set(_state_store_widths(q2)) == {32}
    with open(files[1]) as f:
        assert sum(p["numInputRows"] for p in q2.recentProgress) == sum(1 for _ in f)

    got = {
        r["candidate_id"]: (r["total_votes"], r["total_weight"])
        for r in spark.sql("SELECT * FROM width_restart").collect()
    }
    want = {
        r[0]: (r[1], r[2])
        for r in duck.sql(SQL["votes_per_candidate"]).fetchall()
    }
    assert got == want
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)


def test_stream_dedup_checkpoint_no_reemit(spark, sf_dir):
    """Dedup-state recovery: kill the dedup stream, deliver a file
    containing BOTH already-seen and new docs, restart from the same
    checkpoint -- seen hashes must not re-emit (state recovered), new
    hashes must emit exactly once."""
    import os

    from de_realtime_voting_spark.streaming import stream_dedup_exact

    docs = load_table(spark, sf_dir, "documents").limit(60).persist()
    first = docs.where(F.col("doc_id") < 30)
    rest = docs  # includes the first 30 again (duplicates) plus new
    root = tempfile.mkdtemp(prefix="dedup_cp_")
    src, ckpt, out = f"{root}/src", f"{root}/ckpt", f"{root}/out"

    def start():
        # parquet sink: append-mode checkpoint recovery is supported
        # (the memory sink cannot recover in append mode)
        stream = spark.readStream.schema(docs.schema).parquet(src)
        return (
            stream_dedup_exact(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    try:
        first.coalesce(1).write.mode("overwrite").parquet(src)
        q = start()
        q.awaitTermination(120)
        n1 = spark.read.parquet(out).count()

        # "new" delivery replays old docs alongside new ones
        rest.coalesce(1).write.mode("append").parquet(src)
        q2 = start()
        q2.awaitTermination(120)

        got = [r["text_hash"] for r in spark.read.parquet(out).collect()]
        assert len(got) == len(set(got)), "a seen hash re-emitted after restart"
        want = {
            r["text_hash"]
            for r in docs.select(F.md5("text").alias("text_hash")).distinct().collect()
        }
        assert set(got) == want and n1 < len(got)
    finally:
        docs.unpersist()
        shutil.rmtree(root, ignore_errors=True)


def test_stream_stream_join_matches_batch(spark, sf_dir, vote_json_dir):
    from de_realtime_voting_spark.streaming import (
        repeat_vote_pairs,
        stream_repeat_vote_pairs,
    )

    stream = parse_vote_stream(
        spark.readStream.schema("value_json string").text(vote_json_dir),
        "value_json",
    )
    out = _run_stream_to_memory(
        spark, stream_repeat_vote_pairs(stream), "pairs_stream", "append"
    )
    batch = repeat_vote_pairs(load_table(spark, sf_dir, "events"))
    key = lambda r: (r["user_id"], r["first_event"], r["second_event"])
    got = {key(r) for r in out.collect()}
    want = {key(r) for r in batch.collect()}
    assert got == want
    assert len(want) > 0  # the self-join actually fires at this SF


class _FakeGroupState:
    """Minimal stand-in for pyspark GroupState to unit-test the
    stateful transition function without a streaming query."""

    def __init__(self, value=None, timed_out=False):
        self._value = value
        self.hasTimedOut = timed_out
        self.removed = False
        self.timeout_ms = None

    @property
    def exists(self):
        return self._value is not None

    @property
    def get(self):
        return self._value

    def update(self, v):
        self._value = v

    def remove(self):
        self._value, self.removed = None, True

    def setTimeoutDuration(self, ms):
        self.timeout_ms = ms


def test_session_timeout_state_transitions(spark):
    import pandas as pd

    from de_realtime_voting_spark.streaming.state import _make_update_session

    _update_session = _make_update_session(30 * 60 * 1000)

    pdf = pd.DataFrame(
        {"ts": pd.to_datetime(["2024-01-01 10:00:00", "2024-01-01 10:10:00"])}
    )
    # active voter: state accumulates, timeout armed, nothing emitted
    st = _FakeGroupState()
    out = list(_update_session((7,), iter([pdf]), st))
    assert out == []
    n, start_us, last_us = st.get
    assert n == 2 and st.timeout_ms == 30 * 60 * 1000
    assert last_us - start_us == 10 * 60 * 1_000_000

    # second batch folds into the same state
    st2 = _FakeGroupState(value=st.get)
    pdf2 = pd.DataFrame({"ts": pd.to_datetime(["2024-01-01 10:20:00"])})
    assert list(_update_session((7,), iter([pdf2]), st2)) == []
    assert st2.get[0] == 3

    # timeout fires: summary emitted once, state removed
    st3 = _FakeGroupState(value=st2.get, timed_out=True)
    rows = list(_update_session((7,), iter([]), st3))
    assert len(rows) == 1 and st3.removed
    row = rows[0].iloc[0]
    assert row["n_votes"] == 3 and row["closed_by_timeout"] == "yes"
    assert row["session_end_us"] - row["session_start_us"] == 20 * 60 * 1_000_000


def test_session_timeout_stream_emits_nothing_while_active(spark, sf_dir, vote_json_dir):
    from de_realtime_voting_spark.streaming import voter_sessions_with_timeout

    stream = parse_vote_stream(
        spark.readStream.schema("value_json string").text(vote_json_dir),
        "value_json",
    )
    # a timeout-armed query never self-terminates (it idles waiting
    # for processing-time expiry), so poll for the first processed
    # batch and stop explicitly instead of availableNow
    q = (
        voter_sessions_with_timeout(stream)
        .writeStream.format("memory")
        .queryName("sess_timeout_stream")
        .outputMode("update")
        .start()
    )
    try:
        deadline = time.time() + 90
        while time.time() < deadline and not any(
            p["numInputRows"] > 0 for p in q.recentProgress
        ):
            time.sleep(0.5)
        assert any(p["numInputRows"] > 0 for p in q.recentProgress)
        # every voter is still "active" in processing time: no
        # session closed, nothing emitted
        assert spark.sql("SELECT * FROM sess_timeout_stream").count() == 0
    finally:
        q.stop()


def test_to_kafka_frame_shape(spark, sf_dir):
    agg = voting.votes_per_candidate(load_table(spark, sf_dir, "events"))
    framed = to_kafka_frame(agg, key_col="candidate_id")
    assert framed.columns == ["key", "value"]
    row = framed.first()
    payload = json.loads(row["value"])
    assert {"candidate_id", "total_votes", "total_weight"} <= set(payload)


def test_foreach_batch_upsert_idempotent(spark, sf_dir):
    events = load_table(spark, sf_dir, "events").limit(200)
    target = tempfile.mkdtemp(prefix="upsert_") + "/votes"
    write = foreach_batch_upsert(target, key_cols=["user_id"], order_col="ts")
    write(events, 0)
    n1 = spark.read.parquet(target).count()
    write(events, 1)  # replay the same batch -- must not double-count
    n2 = spark.read.parquet(target).count()
    assert n1 == n2
    # one row per voter (the reference's votes PK semantics)
    assert n1 == events.select("user_id").distinct().count()
    shutil.rmtree(Path(target).parent, ignore_errors=True)


def test_foreach_batch_upsert_atomic_layout(spark, sf_dir):
    """Crash-safety contract of the upsert sink: the target is an
    atomically-swapped symlink to a complete versioned snapshot; a
    pre-existing plain-directory snapshot is migrated; orphaned
    version dirs from interrupted batches are reaped."""
    import os

    events = load_table(spark, sf_dir, "events").limit(50)
    root = tempfile.mkdtemp(prefix="upsert_atomic_")
    target = root + "/votes"
    try:
        # legacy layout: a plain parquet dir written by someone else
        events.write.mode("overwrite").parquet(target)
        assert not os.path.islink(target)
        n_legacy = spark.read.parquet(target).count()

        write = foreach_batch_upsert(target, key_cols=["user_id"], order_col="ts")
        # orphan from a hypothetical interrupted batch
        orphan = target + ".__v99__"
        os.makedirs(orphan, exist_ok=True)
        write(events, 0)

        assert os.path.islink(target)  # migrated to symlink layout
        assert not os.path.exists(orphan)  # reaped
        assert not os.path.exists(target + ".__legacy__")
        n = spark.read.parquet(target).count()
        assert 0 < n <= n_legacy
        assert n == events.select("user_id").distinct().count()
        # replay: same snapshot, new version dir, old one reaped
        v0 = os.readlink(target)
        write(events, 1)
        assert os.readlink(target) != v0 and not os.path.exists(v0)
        assert spark.read.parquet(target).count() == n
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_socket_source_live_tally(spark, sf_dir):
    """Live TCP transport end-to-end: a local server streams JSON
    vote lines, the socket source consumes them through the SAME
    parse + tally transforms as the Kafka path, and the memory sink
    shows per-candidate counts.  This is the connector-free live
    round-trip (socket has no replay, so we assert presence and
    monotone counts, not exact totals)."""
    import socket
    import threading

    from de_realtime_voting_spark.streaming import (
        parse_vote_stream,
        socket_source,
        stream_votes_per_candidate,
    )

    events = load_table(spark, sf_dir, "events").limit(100)
    lines = [
        r["v"]
        for r in events.select(
            F.to_json(
                F.struct(*events.columns),
                {"timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"},
            ).alias("v")
        ).collect()
    ]
    payload = ("\n".join(lines) + "\n").encode()

    server = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    server.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    server.bind(("127.0.0.1", 0))
    server.listen(1)
    port = server.getsockname()[1]
    stop = threading.Event()

    def serve():
        conn, _ = server.accept()
        try:
            while not stop.is_set():
                conn.sendall(payload)
                time.sleep(0.3)
        except OSError:
            pass
        finally:
            conn.close()

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    raw = socket_source(spark, "127.0.0.1", port).load()
    tally = stream_votes_per_candidate(
        parse_vote_stream(raw, value_col="value")
    )
    q = (
        tally.writeStream.format("memory")
        .queryName("socket_tally")
        .outputMode("complete")
        .start()
    )
    try:
        want = {
            r["candidate_id"]
            for r in voting.votes_per_candidate(events).collect()
        }
        deadline = time.time() + 60
        got: set = set()
        while time.time() < deadline and got != want:
            got = {
                r["candidate_id"]
                for r in spark.sql("SELECT * FROM socket_tally").collect()
            }
            time.sleep(0.5)
        assert got == want, (got, want)
        rows = {
            r["candidate_id"]: r["total_votes"]
            for r in spark.sql("SELECT * FROM socket_tally").collect()
        }
        assert all(v > 0 for v in rows.values())
    finally:
        stop.set()
        q.stop()
        server.close()


def test_stream_dedup_exact_matches_batch(spark, sf_dir):
    """In-stream exact dedup parity: the streamed keep-set must be
    one doc per distinct md5(text) class, matching batch dedup_exact
    cluster count (which doc survives depends on micro-batch arrival
    order, so compare the class sets, not the doc ids)."""
    from de_realtime_voting_spark.operators.dedup import dedup_exact
    from de_realtime_voting_spark.streaming import stream_dedup_exact

    docs = load_table(spark, sf_dir, "documents")
    d = tempfile.mkdtemp(prefix="docs_dedup_stream_")
    try:
        docs.repartition(2).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(docs.schema).parquet(d)
        got = _run_stream_to_memory(
            spark, stream_dedup_exact(stream), "dedup_stream", "append"
        )
        kept_hashes = sorted(r["text_hash"] for r in got.collect())
        want_hashes = sorted(
            r["text_hash"] for r in dedup_exact(docs).collect()
        )
        assert len(kept_hashes) == len(set(kept_hashes))  # no dup passed
        assert kept_hashes == want_hashes  # every class represented once
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_dedup_against_corpus(spark, sf_dir):
    """Ingest-time dedup vs a static corpus: streamed docs already in
    the keep-list (by content hash) must not emit; new classes emit
    exactly once even when the stream repeats them."""
    from de_realtime_voting_spark.operators.dedup import dedup_exact
    from de_realtime_voting_spark.streaming import stream_dedup_against_corpus

    docs = load_table(spark, sf_dir, "documents").limit(60).persist()
    existing_docs = docs.where(F.col("doc_id") < 30)
    existing = dedup_exact(existing_docs).select("text_hash").persist()
    existing.count()
    d = tempfile.mkdtemp(prefix="docs_vs_corpus_")
    try:
        docs.repartition(2).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(docs.schema).parquet(d)
        got = _run_stream_to_memory(
            spark,
            stream_dedup_against_corpus(stream, existing),
            "dedup_vs_corpus",
            "append",
        )
        got_hashes = sorted(r["text_hash"] for r in got.collect())
        all_hashes = {
            r["text_hash"] for r in dedup_exact(docs).collect()
        }
        old_hashes = {r["text_hash"] for r in existing.collect()}
        want = sorted(all_hashes - old_hashes)
        assert got_hashes == want and len(want) > 0
    finally:
        docs.unpersist()
        existing.unpersist()
        shutil.rmtree(d, ignore_errors=True)


def test_stream_embedding_buckets_matches_batch(spark, sf_dir):
    """Batch/stream parity for the LSH bucket skew monitor."""
    from de_realtime_voting_spark.operators.similarity import embedding_lsh_buckets
    from de_realtime_voting_spark.streaming import stream_embedding_buckets

    emb = load_table(spark, sf_dir, "embeddings")
    d = tempfile.mkdtemp(prefix="emb_stream_")
    try:
        emb.repartition(2).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(emb.schema).parquet(d)
        got = _run_stream_to_memory(
            spark, stream_embedding_buckets(stream), "emb_buckets_stream", "complete"
        )
        a = sorted(map(tuple, got.collect()))
        b = sorted(map(tuple, embedding_lsh_buckets(emb).collect()))
        assert a == b and len(a) > 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_doc_quality_matches_batch(spark, sf_dir):
    """Batch/stream parity for the corpus-quality monitor: the same
    text_quality_score transform over a parquet file stream must
    reproduce the batch result exactly."""
    from de_realtime_voting_spark.operators.text import text_quality_score
    from de_realtime_voting_spark.streaming import stream_doc_quality

    docs = load_table(spark, sf_dir, "documents")
    d = tempfile.mkdtemp(prefix="docs_stream_")
    try:
        docs.repartition(2).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(docs.schema).parquet(d)
        got = _run_stream_to_memory(
            spark, stream_doc_quality(stream), "doc_quality_stream", "complete"
        )
        want = text_quality_score(docs)
        a = sorted(map(tuple, got.collect()))
        b = sorted(map(tuple, want.collect()))
        assert a == b and len(a) > 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_doc_logprob_gate_stateless_filter(spark, sf_dir):
    """The ingest-time perplexity gate: append-mode (stateless) file
    stream, python-reference scores, and the pass/drop split must
    match exactly."""
    import math

    from de_realtime_voting_spark.streaming import stream_doc_logprob_gate

    docs = load_table(spark, sf_dir, "documents")
    rows = docs.select("doc_id", "text").collect()
    # model from the corpus itself: unigram logprobs, python reference
    counts: dict[str, int] = {}
    for r in rows:
        for t in r["text"].split(" "):
            if t:
                counts[t] = counts.get(t, 0) + 1
    total = sum(counts.values())
    model = {t: math.log(c / total) for t, c in counts.items()}
    ref = {}
    for r in rows:
        toks = [t for t in r["text"].split(" ") if t]
        ref[r["doc_id"]] = (
            sum(model[t] for t in toks) / len(toks) if toks else -math.inf
        )
    cut = sorted(ref.values())[len(ref) // 2]  # median: real split both ways

    d = tempfile.mkdtemp(prefix="docs_gate_")
    try:
        docs.repartition(2).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(docs.schema).parquet(d)
        got = _run_stream_to_memory(
            spark,
            stream_doc_logprob_gate(stream, model, cut),
            "doc_logprob_gate",
            "append",
        )
        kept = {r["doc_id"]: r["avg_logprob"] for r in got.collect()}
        want = {k for k, v in ref.items() if v >= cut}
        assert set(kept) == want and 0 < len(want) < len(ref)
        for k, v in kept.items():
            assert abs(v - ref[k]) < 1e-9, k
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_doc_logprob_gate_null_text_dropped(spark):
    """A null text row must score -inf and drop cleanly instead of
    raising inside the mapInPandas batch (a single task exception
    kills the whole streaming query)."""
    from de_realtime_voting_spark.streaming import stream_doc_logprob_gate

    df = spark.createDataFrame(
        [(1, None, "en", "s", 0), (2, "a a b", "en", "s", 5)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = stream_doc_logprob_gate(df, {"a": -0.5, "b": -2.0}, -10.0).collect()
    assert [r["doc_id"] for r in got] == [2]


def test_stream_doc_chunks_matches_batch(spark, sf_dir):
    """Batch/stream parity for ingest-time chunking: the stateless
    append-mode file stream must produce exactly the batch chunk
    set."""
    from de_realtime_voting_spark.operators.text import doc_chunk_windows
    from de_realtime_voting_spark.streaming import stream_doc_chunks

    docs = load_table(spark, sf_dir, "documents")
    d = tempfile.mkdtemp(prefix="docs_chunk_stream_")
    try:
        docs.repartition(2).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(docs.schema).parquet(d)
        got = _run_stream_to_memory(
            spark, stream_doc_chunks(stream), "doc_chunks_stream", "append"
        )
        a = sorted(map(tuple, got.collect()))
        b = sorted(map(tuple, doc_chunk_windows(docs).collect()))
        assert a == b and len(a) > 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_pq_encode_matches_batch(spark, sf_dir):
    """Batch/stream parity for online PQ encoding: codes from the
    stateless stream must be bit-identical to the batch encoder."""
    from de_realtime_voting_spark.operators.similarity import (
        _collect_pq_codebook,
        _pq_codes,
    )
    from de_realtime_voting_spark.streaming import stream_pq_encode

    emb = load_table(spark, sf_dir, "embeddings")
    cb = _collect_pq_codebook(emb)
    d = tempfile.mkdtemp(prefix="emb_pq_stream_")
    try:
        emb.repartition(2).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(emb.schema).parquet(d)
        got = _run_stream_to_memory(
            spark, stream_pq_encode(stream, cb), "pq_encode_stream", "append"
        )
        a = {r["vec_id"]: tuple(r["codes"]) for r in got.collect()}
        b = {r["vec_id"]: tuple(r["codes"]) for r in _pq_codes(emb, cb).collect()}
        assert a == b and len(a) > 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_votes_anomaly_matches_batch(spark, sf_dir):
    """Batch/stream parity for the anomaly gate: live hourly tallies
    flagged against offline stats must reproduce the batch detector
    exactly when the stream replays the same corpus."""
    from de_realtime_voting_spark.operators.voting import candidate_hourly_stats
    from de_realtime_voting_spark.queries import QUERY_REGISTRY
    from de_realtime_voting_spark.streaming import stream_votes_anomaly

    votes = load_table(spark, sf_dir, "events")
    stats = candidate_hourly_stats(votes)
    d = tempfile.mkdtemp(prefix="votes_anomaly_stream_")
    try:
        votes.repartition(2).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(votes.schema).parquet(d)
        got = _run_stream_to_memory(
            spark, stream_votes_anomaly(stream, stats), "votes_anomaly_stream", "append"
        )
        a = sorted(map(tuple, got.collect()))
        b = sorted(
            map(tuple, QUERY_REGISTRY["votes_anomaly_zscore"](spark, sf_dir).collect())
        )
        assert a == b and len(a) > 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_funnel_tracker_state_transitions():
    """The funnel state machine advances only in order, ignores
    out-of-order clicks, and carries stage state across batches."""
    import pandas as pd

    from de_realtime_voting_spark.streaming.state import _update_funnel

    def batch(rows):
        return pd.DataFrame(
            {
                "ts": pd.to_datetime([r[0] for r in rows]),
                "event_type": [r[1] for r in rows],
            }
        )

    # click before any view: no advancement -- and NO state row either
    # (r4 fix: stage-0 users must leave no NoTimeout state behind)
    st = _FakeGroupState()
    out = list(_update_funnel((1,), iter([batch([("2024-01-01 10:00", "click")])]), st))
    assert out == [] and not st.exists

    # view then (same batch, later) click then purchase: all 3 fire
    st2 = _FakeGroupState()
    rows = [
        ("2024-01-01 10:00", "view"),
        ("2024-01-01 10:05", "click"),
        ("2024-01-01 10:10", "purchase"),
    ]
    out2 = list(_update_funnel((2,), iter([batch(rows)]), st2))
    assert [r for pdf in out2 for r in pdf["stage"]] == [
        "viewed", "clicked_after_view", "purchased_after_click"
    ]
    assert st2.get[0] == 3

    # equal-timestamp tie: view+click at the same instant both count
    st3 = _FakeGroupState()
    rows3 = [("2024-01-01 10:00", "click"), ("2024-01-01 10:00", "view")]
    out3 = list(_update_funnel((3,), iter([batch(rows3)]), st3))
    assert [r for pdf in out3 for r in pdf["stage"]] == [
        "viewed", "clicked_after_view"
    ]

    # state carries across batches: click in a LATER batch advances
    st4 = _FakeGroupState()
    list(_update_funnel((4,), iter([batch([("2024-01-01 10:00", "view")])]), st4))
    st5 = _FakeGroupState(value=st4.get)
    out5 = list(_update_funnel((4,), iter([batch([("2024-01-01 11:00", "click")])]), st5))
    assert [r for pdf in out5 for r in pdf["stage"]] == ["clicked_after_view"]


def test_funnel_tracker_stream_matches_batch(spark, sf_dir):
    """End-to-end: the max stage each voter reaches in the stream must
    equal the batch funnel_conversion stage flags on the same data."""
    from de_realtime_voting_spark.operators.voting import funnel_conversion
    from de_realtime_voting_spark.streaming import funnel_tracker

    votes = load_table(spark, sf_dir, "events")
    voters = load_table(spark, sf_dir, "customer")
    d = tempfile.mkdtemp(prefix="funnel_stream_")
    try:
        votes.repartition(2).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(votes.schema).parquet(d)
        got = _run_stream_to_memory(
            spark, funnel_tracker(stream), "funnel_stream", "update"
        )
        rank = {"viewed": 1, "clicked_after_view": 2, "purchased_after_click": 3}
        reached: dict[int, int] = {}
        for r in got.collect():
            reached[r["voter_id"]] = max(
                reached.get(r["voter_id"], 0), rank[r["stage"]]
            )
        want = funnel_conversion(votes, voters)
        agg = {
            "n_viewed": sum(1 for s in reached.values() if s >= 1),
            "n_clicked": sum(1 for s in reached.values() if s >= 2),
            "n_purchased": sum(1 for s in reached.values() if s >= 3),
        }
        batch_tot = want.agg(
            F.sum("n_viewed").alias("v"),
            F.sum("n_clicked_after_view").alias("c"),
            F.sum("n_purchased_after_click").alias("p"),
        ).first()
        assert agg["n_viewed"] == batch_tot["v"]
        assert agg["n_clicked"] == batch_tot["c"]
        assert agg["n_purchased"] == batch_tot["p"]
        assert agg["n_viewed"] > 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_segment_dedup_matches_batch(spark, sf_dir):
    """Ingest-time segment dedup: the streamed keep-set must contain
    every distinct segment hash exactly once (same segmentation as
    batch operators.dedup.doc_segments), so a downstream exact-
    substring dedup sees each segment class a single time."""
    from de_realtime_voting_spark.operators.dedup import doc_segments
    from de_realtime_voting_spark.streaming import stream_segment_dedup

    docs = load_table(spark, sf_dir, "documents").limit(80)
    d = tempfile.mkdtemp(prefix="seg_dedup_stream_")
    try:
        docs.repartition(2).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(docs.schema).parquet(d)
        got = _run_stream_to_memory(
            spark, stream_segment_dedup(stream), "seg_dedup_stream", "append"
        )
        kept = [r["seg_hash"] for r in got.collect()]
        want = {
            r["seg_hash"] for r in doc_segments(docs).select("seg_hash").collect()
        }
        assert len(kept) == len(set(kept))  # no segment class re-emitted
        assert set(kept) == want and len(want) > 0  # every class exactly once
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stateful_pipelines_under_rocksdb(spark, sf_dir, vote_json_dir):
    """The HDFS-backed in-memory state store is the streaming half's
    scale-killer at 10^9 voters; session.enable_rocksdb_state_store
    swaps in RocksDB (disk-backed, bounded heap).  The two stateful
    pipelines with per-key state must produce byte-identical results
    under both providers -- provider choice is storage policy, not
    semantics."""
    from de_realtime_voting_spark.session import (
        ROCKSDB_STATE_STORE,
        enable_rocksdb_state_store,
    )
    from de_realtime_voting_spark.streaming import funnel_tracker, running_tally

    def run_both(suffix):
        stream = parse_vote_stream(
            spark.readStream.schema("value_json string").text(vote_json_dir),
            "value_json",
        )
        tally = _run_stream_to_memory(
            spark, running_tally(stream), f"tally_{suffix}", "update"
        ).collect()
        final_tally = {}
        for r in tally:
            final_tally[r["candidate_id"]] = r["total_votes"]
        funnel = _run_stream_to_memory(
            spark, funnel_tracker(stream), f"funnel_{suffix}", "update"
        ).collect()
        stages = {}
        for r in funnel:
            stages[(r["voter_id"], r["stage"])] = r["stage_ts_us"]
        return final_tally, stages

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    assert prev is None or "RocksDB" not in prev  # default run really is HDFS-backed
    default_tally, default_stages = run_both("default")
    try:
        enable_rocksdb_state_store(spark)
        assert spark.conf.get(key) == ROCKSDB_STATE_STORE
        rocks_tally, rocks_stages = run_both("rocksdb")
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert rocks_tally == default_tally and len(default_tally) > 0
    assert rocks_stages == default_stages and len(default_stages) > 0


def test_stream_semantic_dedup_matches_batch(spark, sf_dir):
    """Ingest-time SemDeDup gate: streamed embeddings admitted by the
    stream must be exactly those with no semantic near-twin in the
    static corpus (same cell assignment + cosine threshold as the
    batch path, computed here as the batch equivalent of the
    stream-static anti-join)."""
    from de_realtime_voting_spark.constants import COSINE_THRESHOLD
    from de_realtime_voting_spark.functions import dot_product, l2_norm
    from de_realtime_voting_spark.functions.columns import round_half_up as rnd
    from de_realtime_voting_spark.operators.similarity import (
        _assign_cells,
        _collect_centroids,
    )
    from de_realtime_voting_spark.streaming import stream_semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.where(F.col("vec_id") % 2 == 0).persist()
    corpus.count()
    d = tempfile.mkdtemp(prefix="sem_dedup_stream_")
    try:
        emb.repartition(2).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(emb.schema).parquet(d)
        got = _run_stream_to_memory(
            spark,
            stream_semantic_dedup(stream, corpus),
            "sem_dedup_stream",
            "append",
        )
        got_ids = sorted(r["vec_id"] for r in got.collect())

        # batch equivalent of the anti-join
        cents = _collect_centroids(corpus)
        cc = _assign_cells(corpus, cents).select(
            F.col("cell").alias("cell_c"),
            F.col("embedding").alias("emb_c"),
            l2_norm(F.col("embedding")).alias("norm_c"),
        )
        arr = _assign_cells(emb, cents).select(
            "vec_id", "embedding", "cell", l2_norm(F.col("embedding")).alias("norm_a")
        )
        cos = dot_product(F.col("embedding"), F.col("emb_c")) / (
            F.col("norm_a") * F.col("norm_c")
        )
        want = sorted(
            r["vec_id"]
            for r in arr.join(
                cc,
                (F.col("cell") == F.col("cell_c"))
                & (rnd(cos, 6) >= COSINE_THRESHOLD),
                "left_anti",
            ).collect()
        )
        # every corpus member is its own near-twin (cosine 1.0), so
        # the admitted set is exactly the novel half minus near-dups
        assert got_ids == want
        assert len(got_ids) > 0
        assert all(i % 2 == 1 for i in got_ids)  # no corpus member re-admitted
    finally:
        corpus.unpersist()
        shutil.rmtree(d, ignore_errors=True)


def test_stream_span_excision_matches_python_reference(spark, sf_dir):
    """Ingest-time excision against a static reference gram set: the
    streamed cut lists must match a python reference that finds every
    matching window and merges overlapping/adjacent intervals."""
    from de_realtime_voting_spark.constants import SPAN_NGRAM_K
    from de_realtime_voting_spark.streaming import (
        reference_gram_set,
        stream_span_excision,
    )

    docs = load_table(spark, sf_dir, "documents")
    # reference = the even-doc half of the corpus; stream the odd half
    ref = docs.where(F.col("doc_id") % 2 == 0)
    incoming = docs.where(F.col("doc_id") % 2 == 1)
    ref_grams = reference_gram_set(ref)
    assert ref_grams

    k = SPAN_NGRAM_K
    eset = set(ref_grams)

    def spans_of(text):
        toks = [t for t in (text or "").split(" ") if t]
        ps = [
            i + 1
            for i in range(len(toks) - k + 1)
            if " ".join(toks[i : i + k]) in eset
        ]
        out = []
        for p in ps:
            if out and p <= out[-1][1] + k:
                out[-1] = (out[-1][0], p)
            else:
                out.append((p, p))
        return [(s, m + k - 1, m + k - 1 - s + 1) for s, m in out]

    want = {
        r["doc_id"]: spans_of(r["text"])
        for r in incoming.select("doc_id", "text").collect()
    }
    assert any(want.values())  # dup classes straddle the halves

    d = tempfile.mkdtemp(prefix="docs_span_exc_")
    try:
        incoming.repartition(2).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(docs.schema).parquet(d)
        got_df = _run_stream_to_memory(
            spark, stream_span_excision(stream, ref_grams), "span_exc", "append"
        )
        got = {
            r["doc_id"]: [tuple(s) for s in r["spans"]] for r in got_df.collect()
        }
        assert set(got) == set(want)
        for doc_id, spans in want.items():
            assert got[doc_id] == spans, doc_id
        # scalar columns agree with the span arrays
        for r in got_df.collect():
            assert r["n_spans"] == len(r["spans"])
            assert r["tokens_removed"] == sum(s["n_tokens"] for s in r["spans"])
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_span_excision_short_null_and_clean_docs(spark):
    """Null/short/clean docs flow through with empty cut lists; a doc
    repeating a reference gram twice with a gap gets two spans."""
    from de_realtime_voting_spark.streaming import stream_span_excision

    ref_text = " ".join(f"r{i}" for i in range(8))
    gap_doc = ref_text + " zzz " + ref_text
    df = spark.createDataFrame(
        [
            (1, None, "en", "s", 0),
            (2, "tiny doc", "en", "s", 8),
            (3, " ".join(f"u{i}" for i in range(12)), "en", "s", 40),
            (4, gap_doc, "en", "s", len(gap_doc)),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {r["doc_id"]: r for r in stream_span_excision(df, [ref_text]).collect()}
    for i in (1, 2, 3):
        assert got[i]["n_spans"] == 0 and got[i]["tokens_removed"] == 0
        assert list(got[i]["spans"]) == []
    # gap doc: windows at pos 1 and pos 10; 10 > 1 + 8 -> two spans
    assert [tuple(s) for s in got[4]["spans"]] == [(1, 8, 8), (10, 17, 8)]
    assert got[4]["n_spans"] == 2 and got[4]["tokens_removed"] == 16


def test_stream_decontam_gate_matches_python_reference(spark, sf_dir):
    """Ingest-time decontamination: the stateless gate must admit
    exactly the docs whose word-8-gram set is disjoint from the eval
    source's grams (python reference), and drop the rest -- including
    every long-enough eval-source doc (self-contaminated by
    definition)."""
    from de_realtime_voting_spark.constants import DECONTAM_NGRAM_K, EVAL_SOURCE
    from de_realtime_voting_spark.streaming import (
        eval_gram_set,
        stream_decontam_gate,
    )

    docs = load_table(spark, sf_dir, "documents")
    eval_grams = eval_gram_set(docs)
    assert eval_grams  # the eval source must contribute grams at this SF

    def grams_of(text):
        toks = [t for t in text.split(" ") if t]
        k = DECONTAM_NGRAM_K
        return {
            " ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)
        }

    rows = docs.select("doc_id", "text", "source").collect()
    eset = set(eval_grams)
    want = {r["doc_id"] for r in rows if not (grams_of(r["text"]) & eset)}
    assert 0 < len(want) < len(rows)
    # every long-enough eval doc must be dropped
    for r in rows:
        if r["source"] == EVAL_SOURCE and len(grams_of(r["text"])) > 0:
            assert r["doc_id"] not in want

    d = tempfile.mkdtemp(prefix="docs_decontam_")
    try:
        docs.repartition(2).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(docs.schema).parquet(d)
        got = _run_stream_to_memory(
            spark,
            stream_decontam_gate(stream, eval_grams),
            "decontam_gate",
            "append",
        )
        assert {r["doc_id"] for r in got.select("doc_id").collect()} == want
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_decontam_gate_short_and_null_docs_pass(spark):
    """Docs too short to hold one n-gram (or with null text) carry no
    eval n-gram: trivially clean, must pass, never raise."""
    from de_realtime_voting_spark.streaming import stream_decontam_gate

    df = spark.createDataFrame(
        [(1, None, "en", "s", 0), (2, "tiny doc", "en", "s", 8)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = stream_decontam_gate(df, ["some eval gram " * 2]).collect()
    assert {r["doc_id"] for r in got} == {1, 2}


def test_stream_embed_inference_matches_batch(spark, sf_dir):
    """Batch/stream parity for the inference harness: the streaming
    mapInPandas embedding pass must produce exactly the batch
    vectors (deterministic stand-in model, same Arrow path)."""
    from de_realtime_voting_spark.operators.inference import embed_docs
    from de_realtime_voting_spark.streaming import stream_embed_inference

    docs = load_table(spark, sf_dir, "documents")
    d = tempfile.mkdtemp(prefix="docs_embed_")
    try:
        docs.repartition(2).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(docs.schema).parquet(d)
        got = _run_stream_to_memory(
            spark, stream_embed_inference(stream), "embed_inference", "append"
        )
        a = sorted((r["doc_id"], tuple(r["embedding"])) for r in got.collect())
        b = sorted(
            (r["doc_id"], tuple(r["embedding"]))
            for r in embed_docs(docs).collect()
        )
        assert a == b and len(a) > 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_curate_matches_batch_content_classes(spark, sf_dir):
    """Ingest-time curation vs the batch materializer: the surviving
    CONTENT CLASSES (md5 of text) must be identical -- same C4 gates,
    same decontamination, same dedup classes.  Representatives may
    differ (batch keeps min doc_id, stream keeps first arrival), so
    the pin is on hash sets, plus split-tag determinism on the docs
    both kept."""
    from de_realtime_voting_spark.constants import EVAL_SOURCE
    from de_realtime_voting_spark.operators.pipeline import (
        curation_tags,
        decontam_overlap,
    )
    from de_realtime_voting_spark.streaming import eval_gram_set, stream_curate

    docs = load_table(spark, sf_dir, "documents")
    eval_grams = eval_gram_set(docs)

    import pyspark.sql.functions as F

    kept = curation_tags(docs).where(F.col("kept")).select("doc_id")
    _t, hits = decontam_overlap(docs)
    batch_ids = (
        kept.join(hits.select("doc_id"), "doc_id", "left_anti")
        .join(
            docs.where(F.col("source") == EVAL_SOURCE).select("doc_id"),
            "doc_id",
            "left_anti",
        )
    )
    batch_hashes = {
        r["h"]
        for r in docs.join(batch_ids, "doc_id")
        .select(F.md5("text").alias("h"))
        .collect()
    }

    d = tempfile.mkdtemp(prefix="docs_curate_stream_")
    try:
        docs.repartition(2).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(docs.schema).parquet(d)
        got = _run_stream_to_memory(
            spark, stream_curate(stream, eval_grams), "stream_curate", "append"
        )
        rows = got.collect()
        stream_hashes = {r["text_hash"] for r in rows}
        assert stream_hashes == batch_hashes and len(stream_hashes) > 0
        # split tag must be the deterministic hash split, not arrival-
        # dependent: recompute from doc_id and compare
        from de_realtime_voting_spark.operators.pipeline import split_expr

        want_split = {
            r["doc_id"]: r["s"]
            for r in docs.select(
                "doc_id", split_expr(F.col("doc_id")).alias("s")
            ).collect()
        }
        for r in rows:
            assert r["split"] == want_split[r["doc_id"]]
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_leading_candidate_matches_batch(spark, sf_dir):
    """The live leaderboard (update-mode tallies -> latest-wins upsert
    snapshot -> argmax view) must equal the batch
    leading_candidate_per_hour over the same events -- including after
    a second run against the same snapshot (idempotent replay)."""
    from de_realtime_voting_spark.operators.voting import (
        leading_candidate_per_hour,
    )
    from de_realtime_voting_spark.streaming import (
        hourly_leaders,
        stream_leading_candidate_hourly,
    )

    votes = load_table(spark, sf_dir, "events")
    src = tempfile.mkdtemp(prefix="votes_leader_src_")
    snap = os.path.join(tempfile.mkdtemp(prefix="votes_leader_snap_"), "snapshot")
    try:
        votes.repartition(3).write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(votes.schema).parquet(src)
        for _ in range(2):  # second run = full replay into same snapshot
            q = (
                stream_leading_candidate_hourly(stream, snap)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
        got = sorted(map(tuple, hourly_leaders(spark, snap).collect()))
        want = sorted(map(tuple, leading_candidate_per_hour(votes).collect()))
        assert got == want and len(got) > 0
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(os.path.dirname(snap), ignore_errors=True)


def test_stream_sliding_window_matches_batch(spark, sf_dir, vote_json_dir):
    """Finalized sliding windows from the stream must equal the batch
    sliding-window tally (every vote in exactly two windows)."""
    from de_realtime_voting_spark.streaming.pipelines import (
        stream_votes_sliding_window,
    )

    stream = parse_vote_stream(
        spark.readStream.schema("value_json string").text(vote_json_dir),
        "value_json",
    )
    out = _run_stream_to_memory(
        spark,
        stream_votes_sliding_window(stream, "1 minute"),
        "vsw_stream",
        "append",
    ).collect()
    batch = {
        (r["window_start"], r["candidate_id"]): r["total_votes"]
        for r in voting.votes_sliding_window(
            load_table(spark, sf_dir, "events")
        ).collect()
    }
    assert len(out) > 0
    for r in out:
        assert batch[(r["window_start"], r["candidate_id"])] == r["total_votes"]


def test_stream_bloom_quarantine_never_admits_contamination(spark, sf_dir):
    """The constant-memory triage gate: every doc sharing an eval
    n-gram (python reference) must be quarantined -- Bloom gives zero
    false negatives -- while the bulk of clean docs is admitted
    map-side (false-positive quarantines allowed, bounded loosely)."""
    from de_realtime_voting_spark.constants import DECONTAM_NGRAM_K, EVAL_SOURCE
    from de_realtime_voting_spark.streaming import (
        eval_gram_set,
        stream_bloom_quarantine,
    )

    docs = load_table(spark, sf_dir, "documents")
    eset = set(eval_gram_set(docs))
    assert eset

    def grams_of(text):
        toks = [t for t in text.split(" ") if t]
        k = DECONTAM_NGRAM_K
        return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}

    rows = docs.select("doc_id", "text", "source").collect()
    dirty = {r["doc_id"] for r in rows if grams_of(r["text"]) & eset}
    clean = {r["doc_id"] for r in rows} - dirty
    assert dirty and clean

    d = tempfile.mkdtemp(prefix="docs_bloomq_")
    try:
        docs.repartition(2).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(docs.schema).parquet(d)
        got = _run_stream_to_memory(
            spark,
            stream_bloom_quarantine(stream, docs),
            "bloom_quarantine",
            "append",
        )
        by_decision = {}
        for r in got.select("doc_id", "decision").collect():
            by_decision.setdefault(r["decision"], set()).add(r["doc_id"])
        quarantined = by_decision.get("quarantine", set())
        admitted = by_decision.get("admit", set())
        # partition of the input, zero false negatives
        assert quarantined | admitted == dirty | clean
        assert quarantined & admitted == set()
        assert dirty <= quarantined
        # the gate must actually admit: false-positive quarantines of
        # clean docs stay a small minority at m = 2^20
        fp = quarantined - dirty
        assert len(fp) <= max(2, len(clean) // 10)
        # every long-enough eval doc self-quarantines
        for r in rows:
            if r["source"] == EVAL_SOURCE and grams_of(r["text"]):
                assert r["doc_id"] in quarantined
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_release_bloom_broadcasts_reclaims_handles(spark, sf_dir):
    """Every stream_bloom_quarantine build broadcasts one Bloom image
    that must outlive its query (task retries re-fetch it), so the
    builder tracks the handle instead of leaking it; a long-lived
    service reclaims all of them between query stops via
    release_bloom_broadcasts (r9 ADVICE: per-build broadcasts must
    not accumulate)."""
    from de_realtime_voting_spark.streaming import (
        release_bloom_broadcasts,
        stream_bloom_quarantine,
    )
    from de_realtime_voting_spark.streaming import pipelines as _sp

    docs = load_table(spark, sf_dir, "documents")
    release_bloom_broadcasts()  # drain handles left by earlier tests
    g1 = stream_bloom_quarantine(docs, docs)  # build broadcasts the image
    g2 = stream_bloom_quarantine(docs, docs)
    assert len(_sp._BLOOM_BROADCASTS) == 2
    # per-query release (r10 ADVICE): stopping ONE query's gate must
    # not destroy the image backing the other still-running one
    assert release_bloom_broadcasts([g1.bloom_broadcast]) == 1
    assert _sp._BLOOM_BROADCASTS == [g2.bloom_broadcast]
    # an already-released handle is a no-op, not a double-destroy
    assert release_bloom_broadcasts([g1.bloom_broadcast]) == 0
    assert release_bloom_broadcasts() == 1
    assert _sp._BLOOM_BROADCASTS == []


def test_stream_token_cms_equals_batch_sketch(spark, sf_dir):
    """The live sketch after draining the stream must equal the batch
    sketch row-for-row (same shared transform, same hashes) -- and
    stay within the DEPTH x WIDTH state bound."""
    from de_realtime_voting_spark.constants import CMS_DEPTH, CMS_WIDTH
    from de_realtime_voting_spark.operators.text import cms_sketch_rows
    from de_realtime_voting_spark.streaming import stream_token_cms

    docs = load_table(spark, sf_dir, "documents")
    want = sorted(map(tuple, cms_sketch_rows(docs).collect()))
    assert 0 < len(want) <= CMS_DEPTH * CMS_WIDTH

    d = tempfile.mkdtemp(prefix="docs_cms_")
    try:
        docs.repartition(3).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(docs.schema).parquet(d)
        got = _run_stream_to_memory(
            spark, stream_token_cms(stream), "token_cms", "complete"
        )
        assert sorted(map(tuple, got.collect())) == want
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_one_vote_per_voter_ttl_dedups_within_horizon(
    spark, sf_dir, vote_json_dir
):
    """Within one watermark horizon the TTL variant must behave like
    the unbounded keep-set: one surviving vote per voter (the test
    drains a bounded file stream, so no state expires mid-run); the
    TTL trade only manifests past the horizon, which the docstring
    states as the contract."""
    from de_realtime_voting_spark.streaming import stream_one_vote_per_voter_ttl

    stream = parse_vote_stream(
        spark.readStream.schema("value_json string").text(vote_json_dir),
        "value_json",
    )
    out = _run_stream_to_memory(
        spark,
        stream_one_vote_per_voter_ttl(stream, "365 days"),
        "ovpv_ttl_stream",
        "append",
    )
    events = load_table(spark, sf_dir, "events")
    n_voters = events.select("user_id").distinct().count()
    rows = out.collect()
    assert len(rows) == n_voters
    assert len({r["user_id"] for r in rows}) == n_voters


# ----------------------------------------------------------- kafka


def _kafka_available(spark) -> str | None:
    """Return a skip reason, or None when a real broker AND the Kafka
    connector are both present.  Gate order: env var -> TCP reach ->
    connector class on the classpath."""
    import socket as _socket

    servers = os.environ.get("KAFKA_BOOTSTRAP")
    if not servers:
        return "KAFKA_BOOTSTRAP not set (no broker in this environment)"
    host, _, port = servers.partition(":")
    try:
        with _socket.create_connection((host, int(port or 9092)), timeout=3):
            pass
    except OSError as e:
        return f"broker {servers} unreachable: {e}"
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
    except Exception:
        return ("spark-sql-kafka connector not on the classpath "
                "(launch with --packages org.apache.spark:"
                "spark-sql-kafka-0-10_2.13:<spark-version>)")
    return None


def test_kafka_end_to_end_tally(spark, tmp_path):
    """The ONE reference behavior otherwise verified by analogy
    (spark-streaming.py:56-61): against a real broker, votes written
    through the batch Kafka sink come back through kafka_source ->
    parse_vote_stream -> watermark -> the SAME tally transform, and
    the streamed tally equals the batch tally of the same rows.
    Skips cleanly (by reason) when the environment has no broker or
    no connector -- DEPLOY.md documents how to provide both."""
    import uuid

    from de_realtime_voting_spark.streaming import (
        kafka_source,
        parse_vote_stream,
        stream_votes_per_candidate,
        to_kafka_frame,
        watermark_votes,
    )

    reason = _kafka_available(spark)
    if reason:
        pytest.skip(reason)

    servers = os.environ["KAFKA_BOOTSTRAP"]
    topic = f"votes_e2e_{uuid.uuid4().hex[:8]}"
    rows = [
        (i, f"2024-01-01 10:{i % 60:02d}:00", 100 + i % 7,
         ["A", "B", "C"][i % 3], 1.0 + (i % 5) / 10.0, "{}")
        for i in range(60)
    ]
    votes_batch = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    # produce via the BATCH kafka writer using the shared sink
    # framing (value = to_json(struct(*))) -- no external client
    # library needed
    (to_kafka_frame(votes_batch)
        .write.format("kafka")
        .option("kafka.bootstrap.servers", servers)
        .option("topic", topic)
        .save())

    raw = kafka_source(spark, servers, topic).load()
    tally = stream_votes_per_candidate(
        watermark_votes(parse_vote_stream(raw, value_col="value"))
    )
    q = (
        tally.writeStream.format("memory")
        .queryName("kafka_tally")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r["event_type"]: (r["n_votes"], r["total_weight"])
            for r in spark.sql("SELECT * FROM kafka_tally").collect()
        }
    finally:
        q.stop()
    from de_realtime_voting_spark.operators.voting import votes_per_candidate

    want = {
        r["event_type"]: (r["n_votes"], r["total_weight"])
        for r in votes_per_candidate(votes_batch).collect()
    }
    assert got == want


def test_stream_token_drift_matches_batch_and_python(spark, sf_dir):
    """Ingest-time drift vs a static reference: the streamed per-
    source TV drift must equal (a) the shared-transform batch path on
    the same docs and (b) an independent python recount of the md5
    bucket histogram.  Update mode: the memory sink's final row per
    source is the full-stream histogram (availableNow drains all)."""
    from de_realtime_voting_spark.constants import DRIFT_BUCKETS
    from de_realtime_voting_spark.operators.text import (
        bucket_tv_drift,
        token_bucket_counts,
    )
    from de_realtime_voting_spark.streaming import (
        reference_bucket_distribution,
        stream_token_drift,
    )

    docs = load_table(spark, sf_dir, "documents")
    ref_docs = docs.where(F.col("doc_id") % 2 == 0)
    incoming = docs.where(F.col("doc_id") % 2 == 1)
    ref = reference_bucket_distribution(ref_docs)
    assert len(ref) == DRIFT_BUCKETS and abs(sum(ref) - 1.0) < 1e-9

    # python recount: same md5 bucket hash, same fold order
    import hashlib

    hist: dict[str, list[int]] = {}
    for r in incoming.select("source", "text").collect():
        for tok in (r["text"] or "").split(" "):
            if not tok:
                continue
            b = int(hashlib.md5(tok.encode()).hexdigest()[:4], 16) % DRIFT_BUCKETS
            hist.setdefault(r["source"], [0] * DRIFT_BUCKETS)[b] += 1
    want = {}
    for source, counts in hist.items():
        n = sum(counts)
        tv = 0.0
        for i in range(DRIFT_BUCKETS):
            tv += abs(counts[i] / n - ref[i])
        want[source] = (n, 0.5 * tv)

    batch = {
        r["source"]: (r["n_tokens"], r["tv_drift"])
        for r in bucket_tv_drift(token_bucket_counts(incoming), ref).collect()
    }

    d = tempfile.mkdtemp(prefix="docs_drift_")
    try:
        incoming.repartition(3).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(docs.schema).parquet(d)
        got_df = _run_stream_to_memory(
            spark, stream_token_drift(stream, ref), "tok_drift", "update"
        )
        # update mode re-emits rows per micro-batch; availableNow with
        # one batch means one row per source, but guard by taking the
        # max-n_tokens (latest) row per source
        rows = {}
        for r in got_df.collect():
            cur = rows.get(r["source"])
            if cur is None or r["n_tokens"] > cur[0]:
                rows[r["source"]] = (r["n_tokens"], r["tv_drift"])
        assert set(rows) == set(want)
        for source, (n, tv) in want.items():
            assert rows[source][0] == n
            assert abs(rows[source][1] - tv) < 2e-6, source
            assert rows[source] == batch[source]
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_whiten_matches_batch(spark, sf_dir):
    """Whiten-on-ingest vs the batch materializer: identical norms
    for every vector when the stats artifact comes from the same
    corpus, and the whitened arrays match a python replay."""
    import math

    from de_realtime_voting_spark.constants import WHITEN_EPS
    from de_realtime_voting_spark.operators.similarity import (
        embedding_whitened_norms,
    )
    from de_realtime_voting_spark.streaming import (
        reference_whitening_stats,
        stream_whiten,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    mu, va = reference_whitening_stats(emb)
    batch = {r.vec_id: r.norm_after for r in embedding_whitened_norms(emb).collect()}
    vecs = {r.vec_id: list(r.embedding) for r in emb.collect()}

    d = tempfile.mkdtemp(prefix="emb_whiten_")
    try:
        emb.repartition(2).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(emb.schema).parquet(d)
        got_df = _run_stream_to_memory(
            spark, stream_whiten(stream, mu, va), "whiten_stream", "append"
        )
        got = {r.vec_id: r for r in got_df.collect()}
        assert set(got) == set(batch)
        for vec_id, r in got.items():
            assert r.norm_after == batch[vec_id], vec_id
            w = [
                (x - mu[i]) / math.sqrt(va[i] + WHITEN_EPS)
                for i, x in enumerate(vecs[vec_id])
            ]
            assert len(r.whitened) == len(w)
            assert all(abs(a - b) < 1e-9 for a, b in zip(r.whitened, w))
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_temperature_sample_matches_batch_keep_set(spark, sf_dir):
    """The ingest-time sampler must admit exactly the doc ids the
    batch materializer counts as kept, and drop unknown sources."""
    from de_realtime_voting_spark.operators.pipeline import (
        corpus_temperature_sample,
    )
    from de_realtime_voting_spark.streaming import (
        reference_temperature_thresholds,
        stream_temperature_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    thr = reference_temperature_thresholds(docs)
    want_counts = {
        r["source"]: r["n_kept"] for r in corpus_temperature_sample(docs).collect()
    }
    spark.catalog.clearCache()

    d = tempfile.mkdtemp(prefix="docs_temp_sample_")
    try:
        docs.repartition(2).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(docs.schema).parquet(d)
        got_df = _run_stream_to_memory(
            spark, stream_temperature_sample(stream, thr), "temp_sample", "append"
        )
        got_counts = {
            r["source"]: r["n"]
            for r in got_df.groupBy("source").agg(F.count("*").alias("n")).collect()
        }
        # sources with zero kept docs simply don't appear
        assert got_counts == {s: n for s, n in want_counts.items() if n > 0}
        # unknown source -> dropped
        alien = spark.createDataFrame(
            [(999_999, "some text here", "en", "src_unknown", 14)], docs.schema
        )
        assert stream_temperature_sample(alien, thr).count() == 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_drift_alarm_tracker_edge_semantics(spark):
    """The alarm must fire exactly on threshold CROSSINGS: clean feed
    -> silence, drift past the threshold -> one 'raise', enough clean
    data to fall under threshold*clear_factor -> one 'clear' -- never
    a re-emit while the level holds (the hysteresis contract)."""
    import hashlib

    from de_realtime_voting_spark.constants import DRIFT_BUCKETS
    from de_realtime_voting_spark.streaming import drift_alarm_tracker

    bucket = lambda t: int(hashlib.md5(t.encode()).hexdigest()[:4], 16) % DRIFT_BUCKETS
    a, b = "alpha", "bravo"
    assert bucket(a) != bucket(b)
    ref = [0.0] * DRIFT_BUCKETS
    ref[bucket(a)] = 1.0  # reference speaks pure 'alpha'

    d = tempfile.mkdtemp(prefix="drift_alarm_")
    try:
        schema = "doc_id long, source string, text string"
        # slice 0: 10 clean docs (tv 0) | slice 1: 10 drift docs
        # (b-share 0.5 >= 0.3 -> raise) | slice 2: 30 clean docs
        # (b-share 0.2 < 0.24 -> clear)
        slices = [
            [(i, "s1", " ".join([a] * 10)) for i in range(10)],
            [(100 + i, "s1", " ".join([b] * 10)) for i in range(10)],
            [(200 + i, "s1", " ".join([a] * 10)) for i in range(30)],
        ]
        for idx, rows in enumerate(slices):
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(f"{d}/slice_{idx}")
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{d}/slice_*")
        )
        out = _run_stream_to_memory(
            spark,
            drift_alarm_tracker(stream, ref, threshold=0.3),
            "drift_alarm",
            "update",
        ).collect()
        events = [(r["event"], r["n_tokens"]) for r in sorted(out, key=lambda r: r["n_tokens"])]
        assert events == [("raise", 200), ("clear", 500)], events
        tvs = {r["event"]: r["tv"] for r in out}
        assert tvs["raise"] == 0.5 and tvs["clear"] == 0.2
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_pack_nextfit_matches_batch_baseline(spark, sf_dir):
    """The online packer's final layout must equal the batch
    seq_pack_bestfit report's next-fit column: closed windows + the
    still-open one == n_windows_nextfit, when arrival order is doc_id
    order (two doc_id-ranged single-partition slices)."""
    from de_realtime_voting_spark.constants import PACK_WINDOW_TOKENS
    from de_realtime_voting_spark.operators.pipeline import seq_pack_bestfit
    from de_realtime_voting_spark.streaming import stream_pack_nextfit

    docs = load_table(spark, sf_dir, "documents")
    batch = {(r.lang, r.shard): r for r in seq_pack_bestfit(docs).collect()}
    mid = docs.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]
    spark.catalog.clearCache()

    d = tempfile.mkdtemp(prefix="stream_pack_")
    try:
        docs.where(F.col("doc_id") <= mid).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{d}/slice_0")
        docs.where(F.col("doc_id") > mid).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{d}/slice_1")
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{d}/slice_*")
        )
        out = _run_stream_to_memory(
            spark, stream_pack_nextfit(stream), "pack_stream", "update"
        ).collect()
        # update mode: keep the last emitted row per key (max docs_packed)
        final = {}
        for r in out:
            key = (r["lang"], r["shard"])
            if key not in final or r["docs_packed"] > final[key]["docs_packed"]:
                final[key] = r
        assert set(final) <= set(batch)
        for key, r in final.items():
            want = batch[key]
            got_windows = r["windows_closed"] + (1 if r["open_fill"] > 0 else 0)
            assert got_windows == want.n_windows_nextfit, key
            assert r["open_fill"] <= PACK_WINDOW_TOKENS  # never overfull
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_drift_alarm_checkpoint_no_duplicate_raise(spark):
    """Alarm-state recovery: raise fires before the kill; after a
    restart from the same checkpoint the arriving clean data must
    produce ONLY a 'clear' -- a second 'raise' would mean the alarm
    flag (and histogram) did not survive the restart."""
    import hashlib

    from de_realtime_voting_spark.constants import DRIFT_BUCKETS
    from de_realtime_voting_spark.streaming import drift_alarm_tracker

    bucket = lambda t: int(hashlib.md5(t.encode()).hexdigest()[:4], 16) % DRIFT_BUCKETS
    a, b = "alpha", "bravo"
    assert bucket(a) != bucket(b)
    ref = [0.0] * DRIFT_BUCKETS
    ref[bucket(a)] = 1.0

    root = tempfile.mkdtemp(prefix="alarm_cp_")
    src, ckpt = f"{root}/src", f"{root}/ckpt"
    schema = "doc_id long, source string, text string"

    def write_slice(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/{name}")

    emitted: list[tuple] = []

    def start():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/slice_*")
        )
        # foreachBatch sink: the memory sink cannot recover an
        # update-mode query from a checkpoint; foreachBatch can
        return (
            drift_alarm_tracker(stream, ref, threshold=0.3)
            .writeStream.foreachBatch(
                lambda df, _id: emitted.extend(
                    (r["n_tokens"], r["event"]) for r in df.collect()
                )
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    try:
        # run 1: clean then drifted -> exactly one 'raise'
        write_slice("slice_0", [(i, "s1", " ".join([a] * 10)) for i in range(10)])
        write_slice("slice_1", [(100 + i, "s1", " ".join([b] * 10)) for i in range(10)])
        q = start()
        q.awaitTermination(120)
        assert [e for _, e in emitted] == ["raise"]

        # down; a flood of clean data lands; restart from the SAME
        # checkpoint -> the recovered histogram + flag yield 'clear'
        write_slice("slice_2", [(200 + i, "s1", " ".join([a] * 10)) for i in range(30)])
        q2 = start()
        q2.awaitTermination(120)
        run2 = sorted(emitted)
        assert [e for _, e in run2] == ["raise", "clear"]
        assert run2[-1] == (500, "clear")  # cumulative counts recovered
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_stream_fuzzy_decontam_hits_match_batch(spark, sf_dir):
    """The ingest-time fuzzy hit feed must emit exactly the batch
    fuzzy_decontam pair set (same bands, verify, threshold) when the
    stream carries the corpus side and the static side is the eval
    suite.  The stream is deliberately UNFILTERED -- eval docs
    re-arrive on the feed -- pinning the r7 in-operator eval-source
    exclusion (an eval self-hit pair at jaccard 1.0 would fail the
    set equality below)."""
    from de_realtime_voting_spark.constants import EVAL_SOURCE
    from de_realtime_voting_spark.operators.dedup import fuzzy_decontam
    from de_realtime_voting_spark.streaming import stream_fuzzy_decontam_hits

    docs = load_table(spark, sf_dir, "documents")
    want = {
        (r.doc_id, r.eval_doc_id): r.jaccard
        for r in fuzzy_decontam(docs).collect()
    }
    assert want
    spark.catalog.clearCache()

    eval_docs = docs.where(F.col("source") == EVAL_SOURCE)
    d = tempfile.mkdtemp(prefix="fuzzy_stream_")
    try:
        docs.repartition(2).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(docs.schema).parquet(d)
        got_df = _run_stream_to_memory(
            spark,
            stream_fuzzy_decontam_hits(stream, eval_docs),
            "fuzzy_hits",
            "append",
        )
        got = {
            (r.doc_id, r.eval_doc_id): r.jaccard for r in got_df.collect()
        }
        assert got == want
    finally:
        shutil.rmtree(d, ignore_errors=True)
        spark.catalog.clearCache()


def test_stream_contam_span_report_matches_batch(spark, sf_dir):
    """The ingest-time contamination-geometry feed must emit exactly
    the batch contam_span_report rows (same grams, same strict
    islands) over the same corpus.  The stream is UNFILTERED -- eval
    docs re-arrive -- pinning the in-operator eval-source exclusion
    (an eval doc is 100% self-contaminated and would otherwise emit)."""
    from de_realtime_voting_spark.operators.pipeline import contam_span_report
    from de_realtime_voting_spark.streaming import (
        eval_gram_set,
        stream_contam_span_report,
    )

    docs = load_table(spark, sf_dir, "documents")
    want = {
        (r.doc_id, r.source, r.n_spans, r.longest_span_grams, r.n_contam_grams)
        for r in contam_span_report(docs).collect()
    }
    assert want
    spark.catalog.clearCache()
    eval_grams = eval_gram_set(docs)
    d = tempfile.mkdtemp(prefix="contam_span_stream_")
    try:
        docs.repartition(2).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(docs.schema).parquet(d)
        got_df = _run_stream_to_memory(
            spark,
            stream_contam_span_report(stream, eval_grams),
            "contam_spans",
            "append",
        )
        got = {
            (r.doc_id, r.source, r.n_spans, r.longest_span_grams, r.n_contam_grams)
            for r in got_df.collect()
        }
        assert got == want
    finally:
        shutil.rmtree(d, ignore_errors=True)
        spark.catalog.clearCache()


def test_stream_contam_span_report_degenerate_sides(spark):
    """Empty eval gram set and too-short docs both emit nothing (not
    errors); a doc with two separated hits reports two islands."""
    from de_realtime_voting_spark.streaming import stream_contam_span_report

    schema = "doc_id long, text string, lang string, source string"
    base = "w1 w2 w3 w4 w5 w6 w7 w8"  # one exact 8-gram
    docs = spark.createDataFrame(
        [(1, base + " x1 x2 x3 x4 x5 x6 x7 x8 " + base, "en", "s1")], schema
    )
    assert stream_contam_span_report(docs, []).collect() == []
    short = spark.createDataFrame([(2, "a b c", "en", "s1")], schema)
    assert stream_contam_span_report(short, [base]).collect() == []
    rows = stream_contam_span_report(docs, [base]).collect()
    assert [
        (r.doc_id, r.n_spans, r.longest_span_grams, r.n_contam_grams)
        for r in rows
    ] == [(1, 2, 1, 2)]


def test_stream_fuzzy_decontam_hits_empty_sides(spark):
    """Degenerate sides must yield empty feeds, not errors: an empty
    eval suite (empty in-closure band index) and an incoming doc too
    short to shingle both produce zero hits."""
    from de_realtime_voting_spark.streaming import stream_fuzzy_decontam_hits

    schema = "doc_id long, text string, lang string, source string, n_chars long"
    empty_eval = spark.createDataFrame([], schema)
    docs = spark.createDataFrame([(1, "a b c d e f", "en", "s1", 11)], schema)
    assert stream_fuzzy_decontam_hits(docs, empty_eval).collect() == []
    short = spark.createDataFrame([(2, "a b", "en", "s1", 3)], schema)
    eval_docs = spark.createDataFrame([(9, "a b c d e f", "en", "src0", 11)], schema)
    assert stream_fuzzy_decontam_hits(short, eval_docs).collect() == []
    spark.catalog.clearCache()


def test_stream_quality_score_matches_batch(spark, sf_dir):
    """The ingest-time learned quality scorer must agree with batch
    quality_classifier_score doc-for-doc over the same corpus and the
    same trained model.  Agreement is pinned at the rounding grain
    (<= 2e-6), not bit-exact: the batch op sums w_b * x_b per BUCKET,
    the shuffle-free stream fold sums w[bucket(tok)] per TOKEN --
    algebraically identical, float-reassociated (documented in the
    operator).  The stream is UNFILTERED (eval docs re-arrive),
    pinning the in-operator target-source exclusion."""
    from de_realtime_voting_spark.operators.text import quality_classifier_score
    from de_realtime_voting_spark.streaming import (
        quality_model,
        stream_quality_score,
    )

    docs = load_table(spark, sf_dir, "documents")
    want = {
        r.doc_id: (r.lang, r.source, r.quality_prob)
        for r in quality_classifier_score(docs).collect()
    }
    assert want
    spark.catalog.clearCache()
    w, bias = quality_model(docs)
    spark.catalog.clearCache()
    d = tempfile.mkdtemp(prefix="quality_stream_")
    try:
        docs.repartition(2).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(docs.schema).parquet(d)
        got_df = _run_stream_to_memory(
            spark,
            stream_quality_score(stream, w, bias),
            "quality_scores",
            "append",
        )
        got = {r.doc_id: (r.lang, r.source, r.quality_prob) for r in got_df.collect()}
        assert set(got) == set(want)
        for doc_id, (lang, source, prob) in want.items():
            g = got[doc_id]
            assert g[0] == lang and g[1] == source
            assert abs(g[2] - prob) <= 2e-6, (doc_id, g[2], prob)
    finally:
        shutil.rmtree(d, ignore_errors=True)
        spark.catalog.clearCache()


def test_stream_quality_score_degenerate_sides(spark):
    """Tokenless docs and target-source docs are excluded in the
    operator; a zero model scores everything at exactly 0.5."""
    from de_realtime_voting_spark.constants import EVAL_SOURCE, QC_BUCKETS
    from de_realtime_voting_spark.streaming import stream_quality_score

    schema = "doc_id long, text string, lang string, source string"
    docs = spark.createDataFrame(
        [
            (1, "hello world", "en", "s1"),
            (2, "", "en", "s1"),
            (3, " ", "en", "s1"),
            (4, "target text", "en", EVAL_SOURCE),
        ],
        schema,
    )
    rows = stream_quality_score(docs, [0.0] * QC_BUCKETS, 0.0).collect()
    assert [(r.doc_id, r.quality_prob) for r in rows] == [(1, 0.5)]


def test_stream_prototype_score_matches_batch(spark, sf_dir):
    """The ingest-time D4 tier scorer must reproduce the batch
    embedding_prototype_score tiers over the same committed corpus
    and calibration, row for row, EXCEPT exactly at rounded-cosine
    ties with a published cut (the batch percentile breaks those by
    vec_id; a calibration scorer cannot -- documented contract).
    cell and proto_cos must match everywhere."""
    from de_realtime_voting_spark.operators.similarity import (
        embedding_prototype_score,
    )
    from de_realtime_voting_spark.streaming import (
        prototype_calibration,
        stream_prototype_score,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    want = {
        r.vec_id: (r.cell, r.proto_cos, r.tier)
        for r in embedding_prototype_score(emb).collect()
    }
    assert want
    spark.catalog.clearCache()
    calib = prototype_calibration(emb)
    spark.catalog.clearCache()
    d = tempfile.mkdtemp(prefix="proto_stream_")
    try:
        emb.repartition(2).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(emb.schema).parquet(d)
        got_df = _run_stream_to_memory(
            spark,
            stream_prototype_score(stream, calib),
            "proto_scores",
            "append",
        )
        got = {r.vec_id: (r.cell, r.proto_cos, r.tier) for r in got_df.collect()}
        assert set(got) == set(want)
        # a stream/batch tier disagreement is possible ONLY when
        # several rows of one cell share the exact rounded cosine of
        # a published cut (the batch percentile separates them by
        # vec_id; the calibration rule cannot) -- for a cos unique
        # within its cell, equality with a cut still agrees (the
        # cut-defining row itself satisfies its own rule)
        n_cell_cos = defaultdict(int)
        for cell, cos, _tier in want.values():
            n_cell_cos[(cell, cos)] += 1
        n_tie = 0
        for vid, (cell, cos, tier) in want.items():
            g = got[vid]
            assert g[0] == cell and abs(g[1] - cos) <= 1e-9, (vid, g, cell, cos)
            lo, hi = calib[cell]
            if cos in (lo, hi) and n_cell_cos[(cell, cos)] > 1:
                n_tie += 1  # genuine tie with a cut: rule, not batch
                assert g[2] == (
                    "prototype" if cos >= hi
                    else ("outlier" if cos < lo else "typical")
                )
            else:
                assert g[2] == tier, (vid, g[2], tier, lo, hi)
        assert n_tie <= len(want) * 0.05
    finally:
        shutil.rmtree(d, ignore_errors=True)
        spark.catalog.clearCache()


def test_stream_prototype_score_unknown_cell_is_outlier(spark):
    """A vector landing in a cell the calibration never saw (or one
    published at +inf cuts) reads outlier -- the conservative
    contract for unobserved cells."""
    from de_realtime_voting_spark.ivf_model import IVF_TRAINED_CENTROIDS
    from de_realtime_voting_spark.streaming import stream_prototype_score

    c0 = list(IVF_TRAINED_CENTROIDS[0][1])
    emb = spark.createDataFrame(
        [(1, [float(x) for x in c0], 0)],
        "vec_id bigint, embedding array<float>, label int",
    )
    rows = stream_prototype_score(emb, {}).collect()
    assert len(rows) == 1 and rows[0].tier == "outlier"
    inf = float("inf")
    rows = stream_prototype_score(
        emb, {int(IVF_TRAINED_CENTROIDS[0][0]): (inf, inf)}
    ).collect()
    assert len(rows) == 1 and rows[0].tier == "outlier"


def test_stream_centroid_drift_matches_batch(spark, sf_dir):
    """Draining the embedding stream must land on the batch staleness
    report (same frozen centroids, same published 9-decimal mean
    grain); state is bounded by K cells, so complete mode is safe."""
    from de_realtime_voting_spark.constants import IVF_K
    from de_realtime_voting_spark.operators.similarity import (
        embedding_centroid_drift,
    )
    from de_realtime_voting_spark.streaming import stream_centroid_drift

    emb = load_table(spark, sf_dir, "embeddings")
    want = {
        r.cell: (r.n_members, r.mean_centroid_cos)
        for r in embedding_centroid_drift(emb).collect()
    }
    assert 0 < len(want) <= IVF_K

    d = tempfile.mkdtemp(prefix="emb_drift_")
    try:
        emb.repartition(3).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(emb.schema).parquet(d)
        got = {
            r.cell: (r.n_members, r.mean_centroid_cos)
            for r in _run_stream_to_memory(
                spark, stream_centroid_drift(stream), "cent_drift", "complete"
            ).collect()
        }
        assert got == want
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_centroid_drift_incremental_microbatches(spark, sf_dir):
    """The running mean must incorporate EVERY micro-batch (one file
    per batch via maxFilesPerTrigger): the final update-mode emission
    per cell equals the batch answer over the whole feed -- the
    running-state contract, not a single-batch accident."""
    from de_realtime_voting_spark.operators.similarity import (
        embedding_centroid_drift,
    )
    from de_realtime_voting_spark.streaming import stream_centroid_drift

    emb = load_table(spark, sf_dir, "embeddings")
    want = {
        r.cell: (r.n_members, r.mean_centroid_cos)
        for r in embedding_centroid_drift(emb).collect()
    }
    d = tempfile.mkdtemp(prefix="emb_drift_mb_")
    try:
        emb.repartition(4).write.mode("overwrite").parquet(d)
        stream = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        sink = []

        def collect_batch(batch_df, batch_id):
            sink.extend((batch_id, r) for r in batch_df.collect())

        q = (
            stream_centroid_drift(stream)
            .writeStream.foreachBatch(collect_batch)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        n_batches = len({b for b, _ in sink})
        assert n_batches > 1  # the incremental path actually exercised
        last = {}
        for b, r in sorted(sink, key=lambda t: t[0]):
            last[r.cell] = (r.n_members, r.mean_centroid_cos)
        assert last == want
    finally:
        shutil.rmtree(d, ignore_errors=True)
