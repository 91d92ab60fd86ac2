"""Relational analytics operators (SURVEY.md §2.1–§2.6) over the driver's
TPC-H-ish tables.

Each query re-expresses one operator family from the reference's hand-written
SQLite layer (``sql.py`` / ``display.py`` in /root/reference) as a declarative
DataFrame plan that Catalyst can optimize: filters reach the parquet scan as
PushedFilters, projections prune ReadSchema, small build sides broadcast,
and the reference's N-query driver loops collapse into single shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from .registry import load, register

# ---------------------------------------------------------------------------
# §2.1/§2.2 — scans, filters, projections
# ---------------------------------------------------------------------------


@register(
    "s1_scan_filter_project",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_orderstatus = 'F' AND o_totalprice > 1000.0
    """,
    survey_ref="S1,S3,F1,F12",
)
def s1_scan_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Reference: SELECT-with-WHERE table scans (sql.py:86-121) + explicit
    # projection (sql.py:183-186). Filter + select are pushed to the parquet
    # scan by Catalyst (PushedFilters / ReadSchema) — nothing manual needed.
    return (
        load(spark, sf_dir, "orders")
        .filter((F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 1000.0))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@register(
    "f2_substring_exclusion",
    oracle="""
    SELECT doc_id, source
    FROM documents
    WHERE NOT (source LIKE '%src1%' OR source LIKE '%src7%')
    """,
    survey_ref="F2,C18",
)
def f2_substring_exclusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Reference: excluded-domain filter with SUBSTRING semantics
    # ("domain in url", fileutils.py:104-106) — deliberately not
    # host-equality. Broadcast literal array + exists().
    excluded = F.array(F.lit("src1"), F.lit("src7"))
    docs = load(spark, sf_dir, "documents")
    return docs.filter(
        ~F.exists(excluded, lambda d: F.col("source").contains(d))
    ).select("doc_id", "source")


# ---------------------------------------------------------------------------
# §2.3 — joins
# ---------------------------------------------------------------------------


@register(
    "j1_join_group_agg",
    oracle="""
    SELECT c.c_mktsegment AS mktsegment,
           COUNT(*) AS order_cnt,
           ROUND(SUM(o.o_totalprice), 2) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    survey_ref="J1,A1",
)
def j1_join_group_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Reference: queries ⋈ urls GROUP BY type (sql.py:381-391). The build
    # side (customer ≅ queries) is small → explicit broadcast hash join,
    # no shuffle of the fact side beyond the aggregation itself.
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(
            F.count("*").alias("order_cnt"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@register(
    "j4_left_anti_group",
    oracle="""
    SELECT c.c_mktsegment AS mktsegment, COUNT(*) AS cust_cnt
    FROM customer c LEFT JOIN (SELECT o_custkey FROM orders
                               WHERE o_orderpriority = '1-URGENT') o
      ON o.o_custkey = c.c_custkey
    WHERE o.o_custkey IS NULL
    GROUP BY c.c_mktsegment
    """,
    survey_ref="J4",
)
def j4_left_anti_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Reference: LEFT JOIN ... WHERE u.id IS NULL (sql.py:842-853) —
    # expressed directly as a left_anti join (no null-probe pattern needed).
    # The urgent-orders filter keeps the result non-empty at every sf.
    customer = load(spark, sf_dir, "customer")
    orders = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(F.count("*").alias("cust_cnt"))
    )


@register(
    "j5_seen_set_anti_join",
    oracle="""
    SELECT p.p_partkey
    FROM part p
    WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_partkey = p.p_partkey AND l.l_quantity > 40.0)
    """,
    survey_ref="J5,E4,J9",
)
def j5_seen_set_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Reference: URL-seen dedup-on-insert (sql.py:147-159,213-231): candidates
    # minus the seen set. The crawl engine's production form adds a Bloom
    # pre-filter (operators/seen.py); semantics here are the exact anti-join.
    # "Seen" = parts with at least one big-quantity shipment; candidates
    # minus seen stays non-empty at every sf (a plain FK anti-join is empty).
    part = load(spark, sf_dir, "part")
    seen = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 40.0)
        .select("l_partkey")
    )
    return part.join(
        seen, part.p_partkey == seen.l_partkey, "left_anti"
    ).select("p_partkey")


@register(
    "j6_exemplar_per_group",
    oracle="""
    SELECT l_partkey, l_orderkey AS exemplar_orderkey, l_linenumber AS exemplar_linenumber
    FROM (
      SELECT l_partkey, l_orderkey, l_linenumber,
             ROW_NUMBER() OVER (PARTITION BY l_partkey
                                ORDER BY l_orderkey, l_linenumber) AS rn
      FROM lineitem
    ) t WHERE rn = 1
    """,
    survey_ref="J6,W7",
)
def j6_exemplar_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Reference: content-dedup "find another handled row with same file_hash"
    # (sql.py:167-172) — N point lookups become ONE window pass picking a
    # deterministic exemplar per hash group.
    li = load(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_partkey").orderBy("l_orderkey", "l_linenumber")
    return (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "l_partkey",
            F.col("l_orderkey").alias("exemplar_orderkey"),
            F.col("l_linenumber").alias("exemplar_linenumber"),
        )
    )


# ---------------------------------------------------------------------------
# §2.4 — aggregations
# ---------------------------------------------------------------------------


@register(
    "a1_group_count",
    oracle="SELECT o_orderstatus, COUNT(*) AS cnt FROM orders GROUP BY o_orderstatus",
    survey_ref="A1,A2",
)
def a1_group_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Reference: GROUP BY type COUNT(*) (sql.py:369-379). Partial (map-side)
    # aggregation is automatic in Spark's HashAggregate pair.
    return load(spark, sf_dir, "orders").groupBy("o_orderstatus").agg(F.count("*").alias("cnt"))


@register(
    "a3_a4_duplicate_detection",
    oracle="""
    WITH g AS (
      SELECT o_custkey, COUNT(*) AS cnt
      FROM orders GROUP BY o_custkey HAVING COUNT(*) > 1
    )
    SELECT o_custkey, cnt, dup_total, dup_groups
    FROM g CROSS JOIN (
      SELECT CAST(SUM(cnt) AS BIGINT) AS dup_total, COUNT(*) AS dup_groups FROM g
    ) t
    """,
    survey_ref="A3,A4",
)
def a3_a4_duplicate_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A3 GROUP BY HAVING COUNT(*)>1 dup detection (sql.py:408-417) plus A4's
    # nested SUM-over-HAVING totals (sql.py:419-450) as broadcast-joined
    # global columns — one registered query covering both (consolidated so
    # every registered query fits the driver report's 50-entry window).
    g = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") > 1)
    )
    totals = g.agg(F.sum("cnt").cast("long").alias("dup_total"), F.count("*").alias("dup_groups"))
    return g.crossJoin(F.broadcast(totals))


@register(
    "a5_distinct_count_histogram",
    oracle="""
    SELECT order_cnt, COUNT(*) AS cust_cnt
    FROM (SELECT o_custkey, COUNT(DISTINCT o_orderkey) AS order_cnt
          FROM orders GROUP BY o_custkey) t
    GROUP BY order_cnt
    """,
    survey_ref="A5",
)
def a5_distinct_count_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Reference: COUNT(DISTINCT ...) + driver-side dict loop (sql.py:337-357)
    # — the Python loop becomes the second groupBy.
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.countDistinct("o_orderkey").alias("order_cnt"))
        .groupBy("order_cnt")
        .agg(F.count("*").alias("cust_cnt"))
    )


@register(
    "a6_conditional_agg",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS cnt,
           CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS high_discount_cnt,
           CAST(SUM(CASE WHEN l_tax > 0.04 THEN 1 ELSE 0 END) AS BIGINT) AS high_tax_cnt
    FROM lineitem GROUP BY l_returnflag
    """,
    survey_ref="A6,J2",
)
def a6_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Reference: SUM(CASE WHEN ...) legs (sql.py:496-514,733-743).
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("cnt"),
        F.sum(F.when(F.col("l_discount") > 0.05, 1).otherwise(0)).alias("high_discount_cnt"),
        F.sum(F.when(F.col("l_tax") > 0.04, 1).otherwise(0)).alias("high_tax_cnt"),
    )


@register(
    "a7_filtered_count_topk",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_orderstatus = 'O'
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 5
    """,
    survey_ref="A7,W1,W3",
)
def a7_filtered_count_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Reference: filtered COUNT + ORDER BY ... LIMIT 5 twins (sql.py:517-667).
    # Spark plans this as TakeOrderedAndProject (no global sort materialized).
    # o_orderkey tie-break keeps the row set deterministic across engines.
    return (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(5)
        .select("o_orderkey", "o_totalprice")
    )


@register(
    "a9_range_histogram",
    oracle="""
    SELECT CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT) AS bucket, COUNT(*) AS cnt
    FROM orders GROUP BY 1
    """,
    survey_ref="A9",
)
def a9_range_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Reference: ~22 separate COUNT range queries in a Python loop
    # (sql.py:943-1044) — rewritten as ONE bucketed aggregation, one scan.
    return (
        load(spark, sf_dir, "orders")
        .groupBy(F.floor(F.col("o_totalprice") / F.lit(50000.0)).cast("long").alias("bucket"))
        .agg(F.count("*").alias("cnt"))
    )


@register(
    "a16_rollup_totals",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
    FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    survey_ref="A16",
)
def a16_rollup_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Reference: per-engine counts ×4 + driver-side total (display.py:162-171)
    # — the simulated grouping-set becomes one rollup.
    return (
        load(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("cnt"))
    )


# ---------------------------------------------------------------------------
# §2.5 — windows / sorts / top-k
# ---------------------------------------------------------------------------


@register(
    "w2_ranked_enumerate",
    oracle="""
    SELECT mktsegment, revenue, rank
    FROM (
      SELECT c.c_mktsegment AS mktsegment,
             ROUND(SUM(o.o_totalprice), 2) AS revenue,
             ROW_NUMBER() OVER (ORDER BY ROUND(SUM(o.o_totalprice), 2) DESC,
                                c.c_mktsegment ASC) AS rank
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_mktsegment
    ) t
    """,
    survey_ref="W2,J3",
)
def w2_ranked_enumerate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Reference: sorted results get a 1-based index (sql.py:794-795,808-809).
    agg = j1_join_group_agg(spark, sf_dir).select("mktsegment", "revenue")
    w = Window.orderBy(F.desc("revenue"), F.asc("mktsegment"))
    return agg.withColumn("rank", F.row_number().over(w))


@register(
    "w6_bigram_lead",
    oracle="""
    SELECT l_orderkey,
           l_linenumber,
           l_partkey AS part_a,
           LEAD(l_partkey) OVER (PARTITION BY l_orderkey
                                 ORDER BY l_linenumber, l_partkey) AS part_b
    FROM lineitem
    QUALIFY part_b IS NOT NULL
    """,
    survey_ref="W5,W6",
)
def w6_bigram_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Reference: adjacent-pair (bigram) construction over an ordered stream
    # (extract.py:44-62) — lead() over an in-group order.
    # (l_orderkey, l_linenumber) is not unique in the synthetic data;
    # l_partkey in the order key makes the emitted pair multiset total-order
    # deterministic across engines.
    li = load(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_partkey").alias("part_a"),
            F.lead("l_partkey").over(w).alias("part_b"),
        )
        .filter(F.col("part_b").isNotNull())
    )


# ---------------------------------------------------------------------------
# §2.6 — set operations
# ---------------------------------------------------------------------------


@register(
    "e1_e2_union_canonicalize",
    oracle="""
    SELECT key_id, family, n_variants FROM (
      SELECT key_id, family,
             COUNT(*) OVER (PARTITION BY key_id) AS n_variants,
             ROW_NUMBER() OVER (PARTITION BY key_id ORDER BY family DESC) AS rn
      FROM (
        SELECT o_orderkey AS key_id, 'high' AS family FROM orders WHERE o_totalprice >= 200000
        UNION ALL
        SELECT o_orderkey AS key_id, 'urgent' AS family FROM orders WHERE o_orderpriority = '1-URGENT'
      ) u
    ) t WHERE rn = 1
    """,
    survey_ref="E1,E2",
)
def e1_e2_union_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # E1 concat of generated query families (queries.py:91-96) feeding E2's
    # canonical-key dedup with last-type-wins (queries.py:51-55): dict-
    # overwrite order made explicit as a deterministic window choice, and
    # the union's per-key multiplicity kept as ``n_variants`` so the E1
    # union-all (dup-preserving) semantics stay observable after the dedup.
    o = load(spark, sf_dir, "orders")
    high = o.filter(F.col("o_totalprice") >= 200000).select(
        F.col("o_orderkey").alias("key_id"), F.lit("high").alias("family")
    )
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_orderkey").alias("key_id"), F.lit("urgent").alias("family")
    )
    u = high.unionByName(urgent)
    w = Window.partitionBy("key_id")
    return (
        u.withColumn("n_variants", F.count("*").over(w))
        .withColumn("rn", F.row_number().over(w.orderBy(F.desc("family"))))
        .filter(F.col("rn") == 1)
        .select("key_id", "family", "n_variants")
    )


# ---------------------------------------------------------------------------
# Flagship: TPC-H Q1-style pricing summary (the reference's closest analog is
# the multi-leg conditional aggregation panel, sql.py:496-514 + display.py).
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           ROUND(AVG(l_quantity), 4) AS avg_qty,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    survey_ref="A6,A7,F1",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.count("*").alias("count_order"),
    )
