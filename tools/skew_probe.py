"""Skew remediation probe at sf1: show AQE skew-join splitting a
deliberately hot key in the EXECUTED plan, and A/B the three arms a
production job can choose between:

  plain      sort-merge join, AQE skew handling DISABLED -- the
             unmitigated baseline (one reducer owns the hot key)
  aqe        sort-merge join, AQE skew-join ON with thresholds scaled
             to the sf1 partition sizes (defaults are tuned for
             256 MB cluster partitions; the RATIO test factor>=2 is
             what matters, so thresholds scale with the data while
             the skew geometry stays honest)
  salted     functions/skew.salted_join -- the manual remediation for
             a known-hot key (replicates the dim SALT_N times)

Fact: sf1 events (~6M rows) with 90% of rows remapped to ONE hot join
key -- the "celebrity candidate" shape vote_key_skew detects.  Dim:
the distinct user universe with an attribute column.  All three arms
must agree on row count (parity), and the aqe arm's final adaptive
plan must carry skew=true marks.

Usage: python tools/skew_probe.py [sf_dir]    (default .scaledata/sf1)
Emits one JSON line per arm; paste the summary into PLANS.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")

from pyspark.sql import functions as F

from de_realtime_voting_spark.functions.skew import salted_join
from de_realtime_voting_spark.session import get_spark
from de_realtime_voting_spark.sources.tables import load_table

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HOT_KEY = 1


def build_frames(spark, sf_dir):
    """Fact: sf1 events with 90% of rows remapped onto ONE customer
    key.  Dim: the customer table (events.user_id draws from the
    custkey domain) -- a PLAIN scan, deliberately: OptimizeSkewedJoin
    pattern-matches SMJ(Sort(ShuffleStage), Sort(ShuffleStage)), and
    any operator between the Sort and the shuffle stage (e.g. the
    final HashAggregate of a distinct()) suppresses the skew split
    entirely.  Measured here first-hand: an events.user_id.distinct()
    dim produced 0 skew marks at 14 MB hot-partition size; the plain
    customer scan splits it.  At 100 TB this is a real plan rule:
    materialize/denormalize the dim BEFORE the skewed join rather
    than aggregating it inline under the join."""
    events = load_table(spark, sf_dir, "events")
    # Stage the fact as a MULTI-FILE parquet table first.  The probe
    # dataset is one pyarrow-written file with one row group, so the
    # whole scan is ONE real map task -- and AQE's skew split works
    # at map-output granularity (PartialReducerPartitionSpec groups
    # MAPPER ranges), so a hot reduce partition fed by a single
    # mapper is UNSPLITTABLE no matter the thresholds.  Measured
    # here: 4.6 MB hot partition vs 27 KB median, 64 KB threshold,
    # zero splits until the fact was staged as 32 files.  At 100 TB
    # the lesson inverts: ingest writers must emit many files/row
    # groups per table or downstream skew handling is castrated.
    staged = os.path.join(_REPO, ".scaledata", "skew_fact")
    (
        events.select(
            F.when(F.col("event_id") % 10 < 9, F.lit(HOT_KEY))
            .otherwise(F.col("user_id"))
            .alias("k"),
            "event_id",
            "value",
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(staged)
    )
    fact = spark.read.parquet(staged)
    customer = load_table(spark, sf_dir, "customer")
    dim = customer.select(
        F.col("c_custkey").alias("k2"), F.length("c_name").alias("attr")
    )
    return fact, dim


def run_arm(spark, name, fact, dim, conf, salted):
    saved = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        t0 = time.time()
        if salted:
            joined = salted_join(fact, dim, "k", "k2", "event_id").select(
                "event_id", "attr"
            )
        else:
            joined = fact.join(dim, fact["k"] == dim["k2"]).select(
                "event_id", "attr"
            )
        n = joined.count()
        dt = time.time() - t0
        # count() executes its own QueryExecution; re-execute the frame
        # itself (cheap relative to the probe) so the inspected plan is
        # the one that actually ran with these confs
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        n_skew_marks = plan.count("skew=true")
        row = {
            "arm": name,
            "rows": n,
            "sec": round(dt, 2),
            "skew_marks_in_final_plan": n_skew_marks,
            "is_final_plan": "isFinalPlan=true" in plan,
        }
        print(json.dumps(row), flush=True)
        return row, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def main():
    sf_dir = (
        sys.argv[1]
        if len(sys.argv) > 1
        else os.path.join(_REPO, ".scaledata", "sf1")
    )
    spark = get_spark()
    fact, dim = build_frames(spark, sf_dir)
    # scan warmup so the first timed arm doesn't absorb cold parquet IO
    fact.count(), dim.count()
    no_bcast = {"spark.sql.autoBroadcastJoinThreshold": "-1"}
    rows = {}
    rows["plain"], _ = run_arm(
        spark, "plain", fact, dim,
        {**no_bcast, "spark.sql.adaptive.skewJoin.enabled": "false"},
        salted=False,
    )
    rows["aqe"], aqe_plan = run_arm(
        spark, "aqe", fact, dim,
        {
            **no_bcast,
            "spark.sql.adaptive.skewJoin.enabled": "true",
            # thresholds scaled to the sf1 shuffle sizes (hot
            # partition ~5-12 MB compressed vs 27 KB median; the
            # cluster defaults 256MB/64MB assume cluster-sized
            # partitions -- the FACTOR>=2 ratio test is the part
            # that carries to 100 TB unchanged)
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1MB",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "512KB",
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
            # with coalescing off, exchanges plan at shuffle.partitions
            # (the session's stream width); keep the other arms' width
            "spark.sql.shuffle.partitions": spark.conf.get(
                "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
            ),
        },
        salted=False,
    )
    rows["salted"], _ = run_arm(spark, "salted", fact, dim, no_bcast, salted=True)
    assert rows["plain"]["rows"] == rows["aqe"]["rows"] == rows["salted"]["rows"]
    assert rows["aqe"]["skew_marks_in_final_plan"] > 0, "AQE did not split"
    # the evidence lines PLANS.md quotes: the skewed shuffle reads
    evidence = [
        ln.strip()
        for ln in aqe_plan.splitlines()
        if "skew=true" in ln or "AQEShuffleRead" in ln
    ][:6]
    print(json.dumps({"aqe_plan_evidence": evidence}), flush=True)


if __name__ == "__main__":
    main()
