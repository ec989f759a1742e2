"""Sources & sinks: schema-enforced readers, partitioned parquet sink
with partition pruning, the lazy JDBC reader builder, and the
load_table schema memo."""

from __future__ import annotations

import itertools
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from de_realtime_voting_spark.sources import (
    TABLE_NAMES,
    jdbc_reader,
    load_table,
    read_csv,
    read_json,
    write_partitioned,
)


@pytest.fixture(scope="module")
def tmp_out():
    d = tempfile.mkdtemp(prefix="io_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_write_partitioned_roundtrip_and_pruning(spark, sf_dir, tmp_out):
    events = load_table(spark, sf_dir, "events")
    path = f"{tmp_out}/events_by_type"
    write_partitioned(events, path, ["event_type"])

    back = spark.read.parquet(path)
    assert back.count() == events.count()

    # a filter on the partition column must prune at the scan --
    # whole directories skipped, zero data files of other candidates read
    pruned = back.where(F.col("event_type") == "click")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_type" in plan.split("PartitionFilters")[1][:200]
    want = events.where(F.col("event_type") == "click").count()
    assert pruned.count() == want


def test_read_json_schema_and_corrupt_record(spark, tmp_out):
    path = f"{tmp_out}/votes_json"
    good = '{"event_id": 1, "user_id": 10, "value": 2.5}'
    bad = '{"event_id": oops'
    spark.createDataFrame([(good,), (bad,)], "value string").coalesce(1).write.mode(
        "overwrite"
    ).text(path)

    df = read_json(
        spark,
        path,
        "event_id bigint, user_id bigint, value double, _corrupt_record string",
    )
    rows = {r["event_id"]: r for r in df.collect()}
    assert rows[1]["user_id"] == 10 and rows[1]["_corrupt_record"] is None
    assert rows[None]["_corrupt_record"] is not None  # bad row quarantined


def test_read_csv_schema(spark, tmp_out):
    path = f"{tmp_out}/votes_csv"
    spark.createDataFrame(
        [("event_id,user_id",), ("1,10",), ("2,20",)], "value string"
    ).coalesce(1).write.mode("overwrite").text(path)
    df = read_csv(spark, path, "event_id bigint, user_id bigint")
    got = sorted((r["event_id"], r["user_id"]) for r in df.collect())
    assert got == [(1, 10), (2, 20)]


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """The prepaid-shuffle claim: two tables bucketed on the join key
    with matching bucket counts must sort-merge join with ZERO
    Exchange in the plan."""
    from de_realtime_voting_spark.sources import write_bucketed

    events = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    write_bucketed(events, "ev_bucketed", ["user_id"], 8, sort_by=["user_id"])
    write_bucketed(cust, "cust_bucketed", ["c_custkey"], 8, sort_by=["c_custkey"])

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.table("ev_bucketed")
        b = spark.table("cust_bucketed")
        joined = a.join(b, a["user_id"] == b["c_custkey"])
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan[:2000]
        assert joined.count() == events.count()  # every vote has a voter
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS ev_bucketed")
        spark.sql("DROP TABLE IF EXISTS cust_bucketed")


def test_jdbc_writer_is_lazy_and_validates(spark, sf_dir):
    from de_realtime_voting_spark.sources import jdbc_writer

    df = load_table(spark, sf_dir, "nation")
    # builds without a driver or database -- only .save() would connect
    writer = jdbc_writer(
        df,
        "jdbc:postgresql://localhost:5432/voting",
        "nation",
        mode="append",
        batch_size=5000,
        num_partitions=4,
        truncate="true",
    )
    assert writer is not None
    with pytest.raises(ValueError, match="invalid mode"):
        jdbc_writer(df, "jdbc:x", "t", mode="merge")


def test_salted_join_rejects_outer_how(spark, sf_dir):
    from de_realtime_voting_spark.functions.skew import salted_join

    events = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    with pytest.raises(ValueError, match="not salt-safe"):
        salted_join(events, cust, "user_id", "c_custkey", "event_id", how="full_outer")
    with pytest.raises(ValueError, match="not salt-safe"):
        salted_join(events, cust, "user_id", "c_custkey", "event_id", how="right")


def test_jdbc_reader_is_lazy_and_validates(spark):
    # builds without a driver or database -- only .load() would connect
    reader = jdbc_reader(
        spark,
        "jdbc:postgresql://localhost:5432/voting",
        "votes",
        partition_column="voter_id",
        lower_bound=0,
        upper_bound=1_000_000,
        num_partitions=16,
    )
    assert reader is not None
    with pytest.raises(ValueError, match="lower_bound"):
        jdbc_reader(spark, "jdbc:x", "t", partition_column="id")


def test_orc_roundtrip_with_pushdown(spark, sf_dir, tmp_out):
    """ORC write -> read round trip preserves rows, and a filter on a
    scan column reaches the ORC reader as a pushed filter (the same
    scan-level contract the parquet loader has)."""
    from de_realtime_voting_spark.sources import read_orc, write_orc

    orders = load_table(spark, sf_dir, "orders")
    path = f"{tmp_out}/orders_orc"
    write_orc(orders, path)
    back = read_orc(spark, path)
    assert back.count() == orders.count()
    assert back.schema == orders.schema

    filtered = back.where(F.col("o_orderstatus") == "F").select("o_orderkey")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "o_orderstatus" in plan
    assert filtered.count() == orders.where("o_orderstatus = 'F'").count()


def test_orc_partitioned_prunes(spark, sf_dir, tmp_out):
    from de_realtime_voting_spark.sources import read_orc, write_orc

    events = load_table(spark, sf_dir, "events")
    path = f"{tmp_out}/events_orc_by_type"
    write_orc(events, path, partition_by=["event_type"])
    back = read_orc(spark, path)
    pruned = back.where(F.col("event_type") == "click")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert pruned.count() == events.where("event_type = 'click'").count()


def test_read_binary_dir_glob_and_size_guard(spark, tmp_out):
    """binaryFile ingestion: one row per file with content bytes;
    pathGlobFilter prunes the listing, max_bytes guards rogue blobs."""
    import os

    from de_realtime_voting_spark.sources import read_binary_dir

    d = f"{tmp_out}/blobs"
    os.makedirs(d, exist_ok=True)
    payloads = {"a.bin": b"\x01\x02\x03", "b.bin": b"\xff" * 1000, "c.txt": b"nope"}
    for name, data in payloads.items():
        with open(f"{d}/{name}", "wb") as f:
            f.write(data)

    df = read_binary_dir(spark, d, glob="*.bin")
    rows = {r["path"].rsplit("/", 1)[-1]: r for r in df.collect()}
    assert set(rows) == {"a.bin", "b.bin"}
    assert bytes(rows["a.bin"]["content"]) == b"\x01\x02\x03"
    assert rows["b.bin"]["length"] == 1000

    small = read_binary_dir(spark, d, glob="*.bin", max_bytes=10)
    assert [r["path"].rsplit("/", 1)[-1] for r in small.collect()] == ["a.bin"]


# -- load_table schema memo --------------------------------------------

_group_ids = itertools.count()


def _with_jobs(spark, fn):
    """Run ``fn()`` under a fresh job group; return its result and the
    number of Spark jobs it ran (statusTracker job ids of the group)."""
    sc = spark.sparkContext
    gid = f"memo-test-{next(_group_ids)}"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", gid)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job-start events are async
    return out, len(sc.statusTracker().getJobIdsForGroup(gid))


@pytest.mark.parametrize("name", TABLE_NAMES)
def test_second_load_runs_no_job(spark, sf_dir, name):
    load_table(spark, sf_dir, name)
    df, jobs = _with_jobs(spark, lambda: load_table(spark, sf_dir, name))
    assert jobs == 0
    assert df.columns  # still a resolved scan


def test_memoized_schema_equals_fresh_inference(spark, sf_dir, tmp_out):
    fresh_dir = f"{tmp_out}/fresh_copy"
    os.makedirs(fresh_dir, exist_ok=True)
    for name in TABLE_NAMES:
        shutil.copy(f"{sf_dir}/{name}.parquet", fresh_dir)
        load_table(spark, sf_dir, name)  # memoized from here on
        warm = load_table(spark, sf_dir, name)
        cold = load_table(spark, fresh_dir, name)  # a new path: inferred
        assert warm.schema == cold.schema, name
    events = load_table(spark, sf_dir, "events")
    assert dict(events.dtypes)["ts"] == "timestamp"
    fresh = load_table(spark, fresh_dir, "events")
    assert sorted(events.collect()) == sorted(fresh.collect())


def test_rewritten_file_is_reinferred(spark, tmp_out):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = f"{tmp_out}/rewrite"
    os.makedirs(d, exist_ok=True)
    path = f"{d}/region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["AFRICA", "AMERICA"]}), path)
    load_table(spark, d, "region")
    _, jobs = _with_jobs(spark, lambda: load_table(spark, d, "region"))
    assert jobs == 0
    # rewrite in place at once: no sleep, no utime, same mtime tick likely
    pq.write_table(
        pa.table({"r_regionkey": [0, 1], "r_name": ["AFRICA", "AMERICA"], "r_code": [7, 8]}),
        path,
    )
    df, jobs = _with_jobs(spark, lambda: load_table(spark, d, "region"))
    assert jobs >= 1
    assert df.columns == ["r_regionkey", "r_name", "r_code"]
    assert sorted(tuple(r) for r in df.collect()) == [(0, "AFRICA", 7), (1, "AMERICA", 8)]
    _, jobs = _with_jobs(spark, lambda: load_table(spark, d, "region"))
    assert jobs == 0


def test_directory_table_loads_and_is_not_memoized(spark, sf_dir, tmp_out):
    d = f"{tmp_out}/dir_form"
    nation = load_table(spark, sf_dir, "nation")
    nation.repartition(3).write.mode("overwrite").parquet(f"{d}/nation.parquet")
    load_table(spark, d, "nation")
    df, jobs = _with_jobs(spark, lambda: load_table(spark, d, "nation"))
    assert jobs >= 1  # directories always infer
    assert df.schema == nation.schema
    assert sorted(df.collect()) == sorted(nation.collect())
