"""Physical-plan shape assertions (the 100 TB questions, SURVEY §4):
filters reach the parquet scan, projections prune the read schema, small
dims broadcast, aggregations have a map-side partial step, top-k plans as
TakeOrderedAndProject, and nothing falls back to cartesian products.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from webcrawl_lowres_lang_spark.plans import crawl_ops, pipeline_ops, relational  # noqa: F401
from webcrawl_lowres_lang_spark.plans.registry import REGISTRY

SF = "/root/testdata/sf0.01"


def _plan(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    p = _plan(spark, "s1_scan_filter_project")
    assert "PushedFilters: [" in p
    assert "EqualTo(o_orderstatus,F)" in p
    # the plan string elides long filter lists ("GreaterThan(o_total...")
    assert "GreaterThan(o_total" in p


def test_projection_prunes_read_schema(spark):
    p = _plan(spark, "s1_scan_filter_project")
    # orders has 6 columns; the query needs only 4 (3 projected + filter cols)
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m, p
    cols = [c.split(":")[0] for c in m.group(1).split(",")]
    assert set(cols) == {"o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"}


def test_small_dim_broadcasts(spark):
    p = _plan(spark, "j1_join_group_agg")
    assert "BroadcastHashJoin" in p, "customer build side must broadcast"


def test_robots_broadcast_size_gated(spark):
    """The admission path's robots/crawl-delay dim hint must be SIZE-GATED
    (round-4 verdict: a forced F.broadcast on a 10^8-host politeness cache
    collects it through the driver). Pin both sides: the sandbox-sized dim
    still broadcasts; an oversized dim takes a shuffled join."""
    from webcrawl_lowres_lang_spark.operators.politeness import (
        BROADCAST_DIM_MAX_BYTES,
        admit_per_domain,
        with_priority,
    )
    from webcrawl_lowres_lang_spark.sources.fixtures import gen_robots

    frontier = with_priority(
        spark.range(200).select(
            F.concat(F.lit("cdn.host"), F.col("id") % 10, F.lit(".com")).alias("host"),
            F.concat(F.lit("host"), F.col("id") % 10, F.lit(".com")).alias("domain"),
            (F.col("id") % 7).cast("double").alias("relevance"),
            F.lit(0).cast("int").alias("depth"),
            F.xxhash64(F.col("id").cast("string")).alias("url_hash"),
        )
    )
    # materialized cache (what CrawlEngine does) -> Catalyst sees exact
    # bytes; a bare createDataFrame relation reports the unknown-size
    # default and the gate correctly refuses to force it
    small = gen_robots(spark, 42, 20).cache()
    small.count()
    try:
        adm, _ = admit_per_domain(frontier, small)
        assert "BroadcastHashJoin" in adm._jdf.queryExecution().executedPlan().toString()
    finally:
        small.unpersist()

    big = spark.range(30_000_000).select(
        F.concat(F.lit("cdn.host"), F.col("id"), F.lit(".example.com")).alias("host"),
        (F.col("id") % 2 == 0).alias("respect_disallow"),
        F.lit(0.0).alias("crawl_delay"),
    )
    est = int(big._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    assert est > BROADCAST_DIM_MAX_BYTES, "test dim must exceed the gate"
    adm_b, _ = admit_per_domain(frontier, big)
    pb = adm_b._jdf.queryExecution().executedPlan().toString()
    # left-outer build side can only be the robots dim: no broadcast at all
    # means the oversized dim was not forced through the driver
    assert "BroadcastHashJoin" not in pb, pb
    assert "SortMergeJoin" in pb or "ShuffledHashJoin" in pb, pb


def test_anti_join_not_cartesian(spark):
    p = _plan(spark, "j5_seen_set_anti_join")
    assert "LeftAnti" in p
    assert "CartesianProduct" not in p


def test_partial_aggregation_present(spark):
    p = _plan(spark, "a1_group_count")
    # partial+final hash aggregate pair = map-side combine before shuffle
    assert p.count("HashAggregate") >= 2


def test_topk_uses_take_ordered(spark):
    p = _plan(spark, "a7_filtered_count_topk")
    assert "TakeOrderedAndProject" in p, "ORDER BY + LIMIT must not global-sort"


def test_no_cartesian_anywhere(spark):
    # every registered plan must avoid cartesian products
    for name in REGISTRY:
        if name == "crawl_round_smoke":
            continue  # runs a full crawl; plan built at runtime
        p = _plan(spark, name)
        assert "CartesianProduct" not in p, name


def test_whole_stage_codegen_on_hot_path(spark):
    df = REGISTRY["q1_pricing_summary"].fn(spark, SF)
    df.collect()  # AQE finalizes the plan only on execution
    p = df._jdf.queryExecution().executedPlan().toString()
    # codegen'd stages print as "*(n)" prefixes in the final adaptive plan
    assert "isFinalPlan=true" in p and "*(" in p


def test_bucketed_join_needs_no_shuffle(spark, tmp_path):
    """The 10^10-scale seen-set formulation: when both join sides are
    BUCKETED tables on the join key (Iceberg `bucket(n, url_hash)` via the
    tablestore seam; `bucketBy` + `saveAsTable` here), the per-round
    anti-join runs shuffle-free — no Exchange on either side — because
    partitioning is already co-located on disk. The parquet-dir SeenSet
    gets scan pruning from its directory layout; this pins the plan shape
    the bucketed swap buys on a cluster."""
    # warehouse.dir is a static conf — place the tables in a tmp-located
    # database instead
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bdemo LOCATION '{tmp_path / 'wh'}'")
    spark.sql("USE bdemo")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        seen = spark.range(0, 20_000).select(
            (F.xxhash64("id")).alias("url_hash")
        )
        cand = spark.range(5_000, 30_000).select(
            (F.xxhash64("id")).alias("url_hash"), F.lit("u").alias("url")
        )
        for name, df in (("t_seen_b", seen), ("t_cand_b", cand)):
            df.write.mode("overwrite").bucketBy(8, "url_hash").sortBy(
                "url_hash"
            ).format("parquet").saveAsTable(name)
        fresh = spark.table("t_cand_b").join(
            spark.table("t_seen_b"), "url_hash", "left_anti"
        )
        plan = fresh._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        # and the result is the plain anti-join
        assert fresh.count() == 10_000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_seen_b")
        spark.sql("DROP TABLE IF EXISTS t_cand_b")
        spark.sql("USE default")
        spark.sql("DROP DATABASE IF EXISTS bdemo")
