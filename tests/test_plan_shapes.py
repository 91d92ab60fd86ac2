"""Physical-plan shape assertions (the 100 TB questions, SURVEY §4):
filters reach the parquet scan, projections prune the read schema, small
dims broadcast, aggregations have a map-side partial step, top-k plans as
TakeOrderedAndProject, and nothing falls back to cartesian products.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from webcrawl_lowres_lang_spark.plans import crawl_ops, relational  # noqa: F401
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


# -- the crawl's discovery and seen-set plans -----------------------------------

_PYTHON_NODES = {"ArrowEvalPython", "BatchEvalPython", "MapInArrow", "MapInPandas"}


def _nodes(plan):
    """Every node of a JVM logical plan, depth first (a cached frame's
    InMemoryRelation is a leaf, so fixture generators are not walked)."""
    yield plan
    children = plan.children()
    for i in range(children.size()):
        yield from _nodes(children.apply(i))


def _joins(plan, join_type: str) -> list:
    return [n for n in _nodes(plan) if n.nodeName() == "Join" and n.joinType().toString() == join_type]


def _python_nodes(plan) -> list[str]:
    return [n.nodeName() for n in _nodes(plan) if n.nodeName() in _PYTHON_NODES]


def _optimized(df):
    return df._jdf.queryExecution().optimizedPlan()


def test_discovery_keys_run_above_the_link_join(spark, tmp_path):
    """The round's discovery frame (``_resolve_discoveries`` then
    ``filter_unseen``) runs Python exactly once per discovered row: the
    keys pass. Nothing under the join with the link graph runs Python, so
    the canonicalizer never sees the whole graph."""
    from webcrawl_lowres_lang_spark.streaming.crawler import (
        DISCOVERY_SCHEMA,
        CrawlConfig,
        CrawlEngine,
    )

    cfg = CrawlConfig(n_urls=200, n_pages=10, n_hosts=8, rounds=1, validate_pixels=False)
    eng = CrawlEngine(spark, cfg, str(tmp_path / "ck"))
    eng.seen.enable_empty_bloom()
    eng.seen.add(spark.range(50).select(F.xxhash64("id").alias("url_hash")))
    disc = spark.createDataFrame([(i, 0, 0.0) for i in range(40)], DISCOVERY_SCHEMA)
    plan = _optimized(eng.seen.filter_unseen(eng._resolve_discoveries(disc)))
    link_joins = _joins(plan, "Inner")
    assert link_joins, plan.toString()
    for join in link_joins:
        assert _python_nodes(join) == [], plan.toString()
    assert len(link_joins) == 1, plan.toString()  # one lineage, no union branches
    assert _python_nodes(plan) == ["MapInArrow"], plan.toString()


def test_filter_unseen_is_one_exact_anti_join(spark, tmp_path):
    """``filter_unseen`` with a live filter is one left-anti join (no
    union of a fast and a verified branch) and runs no Python on either
    side: nothing probes the filter, on the candidates or on the
    ``url_seen`` scan."""
    from webcrawl_lowres_lang_spark.operators.bloom import BloomConfig
    from webcrawl_lowres_lang_spark.operators.seen import SeenSet

    seen = SeenSet(spark, str(tmp_path / "seen"), n_buckets=8,
                   filter_config=BloomConfig(capacity=10_000, fpp=0.01, num_shards=8))
    seen.enable_empty_bloom()
    seen.add(spark.range(100).withColumnRenamed("id", "url_hash"))
    cands = spark.range(50, 150).withColumnRenamed("id", "url_hash")
    fresh = seen.filter_unseen(cands)
    plan = _optimized(fresh)
    (anti,) = _joins(plan, "LeftAnti")
    assert not [n for n in _nodes(plan) if n.nodeName() == "Union"], plan.toString()
    assert _python_nodes(plan) == [], plan.toString()
    assert sorted(r["url_hash"] for r in fresh.collect()) == list(range(100, 150))


def test_filter_unseen_without_table_plans_no_join(spark, tmp_path):
    """Before the first append there is no ``url_seen`` table: every
    candidate is unseen, and ``filter_unseen`` plans neither a join nor a
    probe."""
    from webcrawl_lowres_lang_spark.operators.seen import SeenSet

    seen = SeenSet(spark, str(tmp_path / "seen"), n_buckets=8)
    seen.enable_empty_bloom()
    cands = spark.range(20).withColumnRenamed("id", "url_hash")
    plan = _optimized(seen.filter_unseen(cands))
    assert not [n for n in _nodes(plan) if n.nodeName() == "Join"], plan.toString()
    assert _python_nodes(plan) == [], plan.toString()
