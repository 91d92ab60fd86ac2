"""Distributed total-order sequencing (W9/T5; replaces the single-reducer
``Window.orderBy`` with no partitionBy that Spark warns about and that
becomes a one-task wall at scale).

``row_number()`` over an unpartitioned window moves EVERY row into one
partition. The equivalent distributed plan:

1. ``repartitionByRange`` on the order keys — partition i holds a key range
   strictly before partition i+1's range (RangePartitioner semantics), so
   the global order is (partition id, within-partition order);
2. per-partition ``row_number`` (window partitioned by ``spark_partition_id``
   — parallel, bounded);
3. add each partition's offset = total rows in all earlier partitions.

The per-partition counts are collected to the driver — ONE ROW PER
PARTITION, bounded by cluster size, never by data (same bounded-metadata
job ``RDD.zipWithIndex`` runs). The tagged frame is local-checkpointed
before that count on purpose: RangePartitioner samples its bounds with a
seed derived from the RDD instance, so two independent re-executions of
the same unmaterialized plan may pick different bounds; every consumer
must read the one materialized layout.

The result is bit-identical to the global ``row_number`` when the order keys
are unique (the crawl ledger's (priority, url_hash) is: url_hash is unique
within a round). Reference analog: the sequential fetch loop's enumerate
(``lrl-crawler.py:614``); north rule: partition-invariant crawl ordering.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def with_global_sequence(
    df: DataFrame,
    order_cols: list[Column],
    out_col: str = "fetch_seq",
    num_partitions: int | None = None,
) -> DataFrame:
    """1-based global sequence in ``order_cols`` order, no single reducer.

    ``order_cols`` must be sort expressions (``F.desc(...)`` / ``F.asc(...)``
    / plain columns) forming a UNIQUE total order. The intermediate frame is
    a local checkpoint whose blocks outlive the result's plan; the caller
    frees them (``CrawlEngine.run`` does at each round commit).
    """
    spark = df.sparkSession
    n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    rp = df.repartitionByRange(n, *order_cols)
    tagged = rp.withColumn("__pid", F.spark_partition_id()).withColumn(
        "__local_rn",
        F.row_number().over(Window.partitionBy("__pid").orderBy(*order_cols)),
    ).localCheckpoint()
    # bounded driver hop: <= n rows (partition counts)
    counts = sorted(
        (r["__pid"], r["__cnt"])
        for r in tagged.groupBy("__pid").agg(F.count("*").alias("__cnt")).collect()
    )
    offsets, acc = [], 0
    for pid, cnt in counts:
        offsets.append((int(pid), acc))
        acc += int(cnt)
    off_df = spark.createDataFrame(offsets or [(0, 0)], "__pid int, __off long")
    return (
        tagged.join(F.broadcast(off_df), "__pid")
        # long: a 1000-executor crawl round can exceed 2^31 rows
        .withColumn(out_col, (F.col("__local_rn") + F.col("__off")).cast("long"))
        .drop("__pid", "__local_rn", "__off")
    )
