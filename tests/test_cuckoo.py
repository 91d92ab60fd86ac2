"""Partitioned cuckoo filter (the north rule's named Bloom alternative):
- zero false negatives, ever (overflow set guarantees it at any load)
- bounded false positives (16-bit fingerprints, 2x4 slots)
- DELETION: the capability Bloom lacks — deletes are exact for inserted
  keys and never disturb other keys
- treeAggregate build == local build; merge keeps all keys
- SeenSet(filter_config=CuckooConfig(...)) produces the same unseen sets as bloom
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from webcrawl_lowres_lang_spark.operators.bloom import BloomConfig
from webcrawl_lowres_lang_spark.operators.bloom import (
    build_filter_from_df as build_cuckoo_from_df,
)
from webcrawl_lowres_lang_spark.operators.cuckoo import (
    CuckooConfig,
    PartitionedCuckoo,
)
from webcrawl_lowres_lang_spark.operators.seen import SeenSet

CFG = CuckooConfig(capacity=10_000, num_shards=8)


@settings(max_examples=10, deadline=None)
@given(st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1), max_size=200))
def test_no_false_negatives(keys):
    c = PartitionedCuckoo(CFG)
    arr = np.array(keys, dtype=np.int64)
    c.add_many(arr)
    assert c.might_contain(arr).all()


def test_no_false_negatives_under_overload():
    """Insert 3x capacity: classic cuckoo insert FAILS at saturation; the
    overflow set must keep every key answerable."""
    rng = np.random.default_rng(11)
    keys = np.unique(rng.integers(-(2**62), 2**62, size=12_000, dtype=np.int64))
    small = CuckooConfig(capacity=3_000, num_shards=4)
    c = PartitionedCuckoo(small).add_many(keys)
    assert c.might_contain(keys).all()


def test_fpp_bounded():
    rng = np.random.default_rng(42)
    inserted = rng.integers(-(2**62), 2**62, size=6_000, dtype=np.int64)
    probes = rng.integers(-(2**62), 2**62, size=50_000, dtype=np.int64)
    probes = np.setdiff1d(probes, inserted)
    c = PartitionedCuckoo(CFG).add_many(inserted)
    fp = c.might_contain(probes).mean()
    # theoretical ~ 2*SLOTS/65535 ~ 1.2e-4; allow 10x headroom
    assert fp < 1.5e-3, f"false-positive rate {fp:.6f}"


def test_delete_exact_and_isolated():
    rng = np.random.default_rng(5)
    keys = np.unique(rng.integers(-(2**62), 2**62, size=9_000, dtype=np.int64))
    c = PartitionedCuckoo(CFG).add_many(keys)
    half, keep = keys[::2], keys[1::2]
    assert c.delete_many(half) == len(half)
    # kept keys never disturbed (the no-false-negative contract survives)
    assert c.might_contain(keep).all()
    # deleted keys gone modulo fingerprint collisions (rate ~ fpp)
    assert c.might_contain(half).mean() < 1.5e-3
    # deleting a never-inserted key is a no-op
    fresh = np.setdiff1d(
        rng.integers(-(2**62), 2**62, size=1_000, dtype=np.int64), keys
    )
    before = c.might_contain(keep).all()
    c.delete_many(fresh)
    assert before and c.might_contain(keep).all()


def test_distributed_build_matches_local(spark):
    rng = np.random.default_rng(3)
    keys = rng.integers(-(2**62), 2**62, size=2_000, dtype=np.int64)
    df = spark.createDataFrame([(int(k),) for k in keys], ["url_hash"]).repartition(16)
    dist = build_cuckoo_from_df(df, "url_hash", CFG)
    local = PartitionedCuckoo(CFG).add_many(keys)
    # membership answers agree on inserted keys and on fresh probes
    assert dist.might_contain(keys).all() and local.might_contain(keys).all()
    probes = rng.integers(-(2**62), 2**62, size=5_000, dtype=np.int64)
    # both are multisets of the same key set: positives can differ only by
    # fingerprint collisions, bounded by fpp on each side
    d, l = dist.might_contain(probes), local.might_contain(probes)
    assert (d != l).mean() < 3e-3


def test_build_with_empty_partitions(spark):
    """Partitions with no keys fold to an empty filter and merge away."""
    keys = np.array([11, -7, 2**40, 5, 123_456_789], dtype=np.int64)
    df = spark.createDataFrame([(int(k),) for k in keys], ["url_hash"]).repartition(16)
    for cfg in (CFG, BloomConfig(capacity=1_000)):
        assert build_cuckoo_from_df(df, "url_hash", cfg).might_contain(keys).all()


def test_merge_keeps_all_keys():
    rng = np.random.default_rng(9)
    keys = np.unique(rng.integers(-(2**62), 2**62, size=6_000, dtype=np.int64))
    a = PartitionedCuckoo(CFG).add_many(keys[::2])
    b = PartitionedCuckoo(CFG).add_many(keys[1::2])
    a.merge(b)
    assert a.might_contain(keys).all()


def test_seen_set_cuckoo_matches_bloom(spark, tmp_path):
    """SeenSet with a CuckooConfig yields identical unseen sets —
    the filter choice is a pure pre-filter swap behind the exact table."""
    rows = [(int(k),) for k in range(0, 4_000, 3)]
    cand_rows = [(int(k),) for k in range(0, 6_000, 7)]
    out = {}
    configs = {
        "bloom": BloomConfig(capacity=50_000, fpp=0.01, num_shards=8),
        "cuckoo": CuckooConfig(capacity=50_000, num_shards=8),
    }
    for kind, config in configs.items():
        s = SeenSet(spark, str(tmp_path / f"seen_{kind}"), n_buckets=8, filter_config=config)
        s.enable_empty_bloom()
        s.add(spark.createDataFrame(rows, ["url_hash"]))
        cands = spark.createDataFrame(cand_rows, ["url_hash"])
        out[kind] = sorted(
            r["url_hash"] for r in s.filter_unseen(cands).collect()
        )
        # exact expected set
        expected = sorted(set(k for (k,) in cand_rows) - set(k for (k,) in rows))
        assert out[kind] == expected, kind
    assert out["bloom"] == out["cuckoo"]
