"""Plan-shape guardrails: broadcasts, pushdown, pruning, no
cartesians -- the properties that keep operators viable at 100 TB."""

from __future__ import annotations

import os

import pytest

from de_realtime_voting_spark.operators import analytics, dedup, voting
from de_realtime_voting_spark.plans import (
    assert_broadcast_join,
    assert_no_cartesian,
    assert_pushed_filter,
    assert_read_schema_only,
)
from de_realtime_voting_spark.queries import QUERY_REGISTRY
from de_realtime_voting_spark.sources import load_table


def test_turnout_by_location_broadcasts_dims(spark, sf_dir):
    df = voting.turnout_by_location(
        load_table(spark, sf_dir, "events"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
    )
    assert_broadcast_join(df, at_least=2)
    assert_no_cartesian(df)


def test_q3_broadcasts_filtered_customer(spark, sf_dir):
    df = analytics.q3_shipping_priority(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )
    assert_broadcast_join(df, at_least=1)
    assert_pushed_filter(df, "l_shipdate")
    assert_pushed_filter(df, "c_mktsegment")


def test_q1_pushes_shipdate_and_prunes_columns(spark, sf_dir):
    df = analytics.q1_pricing_summary(load_table(spark, sf_dir, "lineitem"))
    assert_pushed_filter(df, "l_shipdate")
    assert_read_schema_only(
        df,
        "lineitem",
        {
            "l_returnflag",
            "l_linestatus",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
            "l_tax",
            "l_shipdate",
        },
    )


def test_top_brand_prunes_part_columns(spark, sf_dir):
    df = analytics.top_brand_revenue(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )
    assert_broadcast_join(df, at_least=1)
    assert_read_schema_only(df, "part.parquet", {"p_partkey", "p_brand"})


def test_minhash_pairs_no_cartesian(spark, sf_dir):
    df = dedup.dedup_minhash_pairs(load_table(spark, sf_dir, "documents"))
    assert_no_cartesian(df)


@pytest.mark.parametrize("name", sorted(QUERY_REGISTRY))
def test_no_cartesian_anywhere(name, spark, sf_dir):
    """Every registry query: nothing may degenerate into a cartesian
    product (non-equi broadcast joins are fine; unbounded pair
    explosions are not)."""
    assert_no_cartesian(QUERY_REGISTRY[name](spark, sf_dir))


def test_events_scan_prunes_columns(spark, sf_dir):
    """Column pruning must survive the events ns->us timestamp
    wrapper: a 2-column agg reads 2 columns, not the whole fact."""
    df = voting.votes_per_candidate(load_table(spark, sf_dir, "events"))
    assert_read_schema_only(df, "events.parquet", {"event_type", "value"})


def test_registered_non_voters_anti_join_shape(spark, sf_dir):
    from de_realtime_voting_spark.plans import physical_plan

    df = voting.registered_non_voters(
        load_table(spark, sf_dir, "events"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
    )
    plan = physical_plan(df)
    assert "LeftAnti" in plan
    assert_broadcast_join(df, at_least=2)
    assert_no_cartesian(df)


def test_ann_ivf_broadcasts_probes(spark, sf_dir):
    from de_realtime_voting_spark.operators import similarity

    df = similarity.ann_ivf_topk(load_table(spark, sf_dir, "embeddings"))
    assert_broadcast_join(df, at_least=1)
    assert_no_cartesian(df)


def test_ngram_jaccard_no_cartesian_and_prunes(spark, sf_dir):
    df = dedup.dedup_ngram_jaccard(load_table(spark, sf_dir, "documents"))
    assert_no_cartesian(df)
    assert_read_schema_only(df, "documents.parquet", {"doc_id", "lang", "text"})


def test_bucketed_documents_dedup_has_no_exchange(spark, sf_dir):
    """The corpus-table bucketing claim: documents ingested bucketed
    by a materialized md5(text) hash prepay the dedup family's one
    shuffle -- the exact-dedup class agg (dedup_exact's shape) AND
    the per-class count window (dedup_soft_weights' shape) both run
    with ZERO Exchange over the bucketed table."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from de_realtime_voting_spark.plans import physical_plan
    from de_realtime_voting_spark.sources import write_bucketed

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "text_hash", F.md5("text")
    )
    write_bucketed(
        docs, "docs_bucketed", ["text_hash"], 8, sort_by=["text_hash"]
    )
    try:
        b = spark.table("docs_bucketed")
        clusters = b.groupBy("text_hash").agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("canonical_id"),
        )
        plan = physical_plan(clusters)
        assert "Exchange hashpartitioning" not in plan, plan
        soft = b.withColumn(
            "class_size",
            F.count(F.lit(1)).over(Window.partitionBy("text_hash")),
        ).select("doc_id", (F.lit(1.0) / F.col("class_size")).alias("w"))
        plan2 = physical_plan(soft)
        assert "Exchange hashpartitioning" not in plan2, plan2
        # and the results are the dedup family's (sanity, not shape)
        total = clusters.agg(F.sum("n_copies")).first()[0]
        assert total == docs.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS docs_bucketed")


def _signature_evals(spark, df) -> int:
    """Arrow MinHash signature evaluations in ``df``'s executed plan:
    ``minhash_signature_pandas`` ArrowEvalPython nodes of the final
    AQE plans, counting each cached (InMemoryRelation) plan once --
    the cache is built once however many scans read it."""
    seen = set()

    def walk(node) -> int:
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        if name.endswith("QueryStageExec"):
            return walk(node.plan())
        if name == "InMemoryTableScanExec":
            rel = node.relation().cacheBuilder()
            key = spark._jvm.System.identityHashCode(rel)
            if key in seen:
                return 0
            seen.add(key)
            return walk(rel.cachedPlan())
        n = int(
            name == "ArrowEvalPythonExec"
            and "minhash_signature_pandas" in node.udfs().toString()
        )
        kids = node.children()
        return n + sum(walk(kids.apply(i)) for i in range(kids.size()))

    df.collect()  # executes df's own plan, so AQE plans are final
    return walk(df._jdf.queryExecution().executedPlan())


@pytest.mark.parametrize(
    "name",
    [
        "fuzzy_decontam",
        "dedup_incremental",
        "minhash_jaccard_estimate",
        "dedup_minhash_topk",
    ],
)
def test_minhash_consumers_sign_each_doc_once(spark, sf_dir, name):
    """The signature is persisted beside the digests
    (dedup._shingle_digests), so a consumer whose band frame feeds
    both sides of a join, or that reads ``sig`` itself, evaluates the
    Arrow signature once, not once per reader (2, 2, 3 and 2 before
    it was persisted)."""
    spark.catalog.clearCache()
    try:
        sf = os.path.join(os.path.dirname(sf_dir), "sf0.01")
        df = QUERY_REGISTRY[name](spark, sf)
        assert _signature_evals(spark, df) == 1
    finally:
        spark.catalog.clearCache()
