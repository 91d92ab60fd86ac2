"""with_global_sequence: bit-identical to the global row_number, with no
data-sized single-partition exchange (the crawl's fetch_seq scale fix)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from webcrawl_lowres_lang_spark.determinism import hrand
from webcrawl_lowres_lang_spark.operators.ordering import with_global_sequence


def _frame(spark, n=5000, parts=7):
    df = spark.range(n).repartition(parts)
    return df.select(
        F.col("id"),
        (hrand(3, "id") * 100).alias("priority"),
        F.xxhash64("id").alias("url_hash"),
    )


def test_matches_global_row_number(spark):
    df = _frame(spark).cache()
    order = [F.desc("priority"), F.asc("url_hash")]
    got = {
        r["id"]: r["fetch_seq"]
        for r in with_global_sequence(df, order, "fetch_seq").collect()
    }
    want = {
        r["id"]: r["rn"]
        for r in df.withColumn("rn", F.row_number().over(Window.orderBy(*order))).collect()
    }
    df.unpersist()
    assert got == want
    assert sorted(got.values()) == list(range(1, len(got) + 1))


def test_invariant_under_partitioning(spark):
    order = [F.desc("priority"), F.asc("url_hash")]
    seqs = []
    for parts, nparts in [(3, 4), (17, 32)]:
        df = _frame(spark, 3000, parts)
        out = with_global_sequence(df, order, "fetch_seq", num_partitions=nparts)
        seqs.append(sorted((r["id"], r["fetch_seq"]) for r in out.collect()))
    assert seqs[0] == seqs[1]


def test_no_single_partition_exchange(spark, monkeypatch):
    """The sequence is computed inside the operator's own local checkpoint
    (the returned frame plans as a scan of it), so check the plan that
    checkpoint materializes: range-partitioned, never one reducer."""
    df = _frame(spark)
    materialized = []
    checkpoint = type(df).localCheckpoint

    def recording_checkpoint(self, *args, **kwargs):
        materialized.append(self._jdf.queryExecution().executedPlan().toString())
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(type(df), "localCheckpoint", recording_checkpoint)
    with_global_sequence(df, [F.desc("priority"), F.asc("url_hash")])
    assert materialized
    for plan in materialized:
        assert "Exchange SinglePartition" not in plan, plan
        assert "rangepartitioning" in plan, plan


def test_empty_frame(spark):
    df = _frame(spark, 0)
    assert with_global_sequence(df, [F.asc("url_hash")]).count() == 0
