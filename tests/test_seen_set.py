"""Seen-set + partitioned Bloom tests (SURVEY §5.1/§5.4):
- Bloom: zero false negatives (property), bounded false positives
- treeAggregate build == local build
- filter_unseen/add round-trip, order-insensitive final set
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from webcrawl_lowres_lang_spark.operators.bloom import BloomConfig
from webcrawl_lowres_lang_spark.operators.bloom import ShardedFilter as PartitionedBloom
from webcrawl_lowres_lang_spark.operators.bloom import (
    build_filter_from_df as build_bloom_from_df,
)
from webcrawl_lowres_lang_spark.operators.seen import SeenSet

CFG = BloomConfig(capacity=10_000, fpp=0.01, num_shards=8)


@settings(max_examples=25, deadline=None)
@given(st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1), max_size=200))
def test_bloom_no_false_negatives(keys):
    b = PartitionedBloom(CFG)
    arr = np.array(keys, dtype=np.int64)
    b.add_many(arr)
    assert b.might_contain(arr).all()


def test_bloom_fpp_bounded():
    rng = np.random.default_rng(42)
    inserted = rng.integers(-(2**62), 2**62, size=10_000, dtype=np.int64)
    probes = rng.integers(-(2**62), 2**62, size=20_000, dtype=np.int64)
    probes = np.setdiff1d(probes, inserted)
    b = PartitionedBloom(CFG)
    b.add_many(inserted)
    fp = b.might_contain(probes).mean()
    assert fp < 0.03, f"false-positive rate {fp:.4f} above 3x the 1% target"


def test_bloom_merge_commutative():
    rng = np.random.default_rng(7)
    a_keys = rng.integers(-(2**62), 2**62, size=500, dtype=np.int64)
    b_keys = rng.integers(-(2**62), 2**62, size=500, dtype=np.int64)
    ab = PartitionedBloom(CFG).add_many(a_keys).merge(PartitionedBloom(CFG).add_many(b_keys))
    ba = PartitionedBloom(CFG).add_many(b_keys).merge(PartitionedBloom(CFG).add_many(a_keys))
    for sid in set(ab.shards) | set(ba.shards):
        assert (ab.shards[sid].words == ba.shards[sid].words).all()


def test_distributed_build_matches_local(spark):
    rng = np.random.default_rng(3)
    keys = rng.integers(-(2**62), 2**62, size=2_000, dtype=np.int64)
    df = spark.createDataFrame([(int(k),) for k in keys], ["url_hash"]).repartition(16)
    dist = build_bloom_from_df(df, "url_hash", CFG)
    local = PartitionedBloom(CFG).add_many(keys)
    for sid in set(dist.shards) | set(local.shards):
        assert (dist.shards[sid].words == local.shards[sid].words).all(), sid


def test_bloom_sizing_at_design_scale():
    """10^10-URL capacity layout (north rule): total filter ~11-12 GiB at
    1% fpp, sharded into bounded per-executor pieces; k stays small."""
    cfg = BloomConfig(capacity=10_000_000_000, fpp=0.01, num_shards=1024)
    total_gib = cfg.total_bits / 8 / 2**30
    shard_mib = cfg.bits_per_shard / 8 / 2**20
    assert 10.0 < total_gib < 13.0, total_gib
    assert shard_mib < 16.0, "shards must stay broadcast/merge friendly"
    assert 5 <= cfg.num_hashes <= 16


@pytest.fixture()
def seen(spark, tmp_path):
    return SeenSet(spark, str(tmp_path / "seen"), n_buckets=8, bloom_config=CFG)


def _hash_df(spark, values):
    return spark.createDataFrame([(int(v),) for v in values], ["url_hash"])


def test_filter_unseen_and_add(spark, seen):
    seen.enable_empty_bloom()
    batch1 = _hash_df(spark, range(100))
    fresh1 = seen.filter_unseen(batch1)
    assert fresh1.count() == 100
    assert seen.add(fresh1) == 100

    batch2 = _hash_df(spark, range(50, 150))
    fresh2 = seen.filter_unseen(batch2)
    got = sorted(r["url_hash"] for r in fresh2.collect())
    assert got == list(range(100, 150))
    seen.add(fresh2)
    assert seen.count() == 150


def test_filter_unseen_exact_path_matches_bloom_path(spark, seen):
    """The answer does not depend on the live filter: a set with a loaded
    filter and one over the same table with none give the same rows."""
    seen.enable_empty_bloom()
    seen.add(_hash_df(spark, range(0, 80, 2)))
    cands = _hash_df(spark, range(80))
    no_filter = SeenSet(spark, seen.path, n_buckets=seen.n_buckets, bloom_config=CFG)
    assert no_filter._bloom is None
    with_bloom = sorted(r["url_hash"] for r in seen.filter_unseen(cands).collect())
    exact = sorted(r["url_hash"] for r in no_filter.filter_unseen(cands).collect())
    assert with_bloom == exact == list(range(1, 80, 2))


def test_seen_set_order_insensitive(spark, tmp_path):
    """North-rule property: any discovery order yields the same final set."""
    batches = [list(range(0, 60)), list(range(30, 90)), list(range(80, 120))]
    finals = []
    # three representative permutations (all six would re-test the same path)
    for i, perm in enumerate([(0, 1, 2), (2, 1, 0), (1, 2, 0)]):
        s = SeenSet(spark, str(tmp_path / f"seen{i}"), n_buckets=4, bloom_config=CFG)
        s.enable_empty_bloom()
        for j in perm:
            s.add(s.filter_unseen(_hash_df(spark, batches[j])))
        finals.append(sorted(r["url_hash"] for r in s.load().select("url_hash").collect()))
    assert all(f == finals[0] for f in finals)
    assert finals[0] == list(range(120))


def test_build_bloom_after_restart(spark, seen):
    seen.enable_empty_bloom()
    seen.add(_hash_df(spark, range(500)))
    # simulate restart: new SeenSet over same path, rebuild bloom from storage
    s2 = SeenSet(spark, seen.path, n_buckets=8, bloom_config=CFG)
    bloom = s2.build_bloom()
    assert bloom.might_contain(np.arange(500, dtype=np.int64)).all()
    fresh = s2.filter_unseen(_hash_df(spark, range(450, 550)))
    assert sorted(r["url_hash"] for r in fresh.collect()) == list(range(500, 550))


def _cuckoo_seen(spark, tmp_path, name, capacity=200_000):
    from webcrawl_lowres_lang_spark.operators.cuckoo import CuckooConfig

    return SeenSet(
        spark, str(tmp_path / name), n_buckets=8, filter_kind="cuckoo",
        cuckoo_config=CuckooConfig(capacity=capacity, num_shards=8),
    )


def test_expire_distributed_matches_collect_path(spark, tmp_path):
    """The shard-parallel expiry path (large batches) must leave the live
    cuckoo filter in the same observable state as the driver-collect path
    on identical inputs — same removal count, same might_contain on kept
    keys, same re-admission of expired keys."""
    keys = list(range(1, 5001))
    expired = list(range(1, 2001))
    states = {}
    for name, threshold in (("collect", 10**9), ("dist", 0)):
        s = _cuckoo_seen(spark, tmp_path, name, capacity=20_000)
        s.enable_empty_bloom()
        s.add(_hash_df(spark, keys), assume_new=True)
        removed = s.expire(_hash_df(spark, expired), distributed_threshold=threshold)
        assert removed == len(expired)
        probes = np.array(keys, dtype=np.int64)
        states[name] = (s.count(), s._bloom.might_contain(probes).tolist())
    assert states["collect"] == states["dist"]


def test_expire_large_batch_distributed_no_driver_keys(spark, tmp_path, monkeypatch):
    """Expiring >=100k keys takes the distributed path: the driver-side
    PartitionedCuckoo.delete_many is stubbed to fail (class-level patch —
    driver calls hit it, executor-side shard deletes and the instance
    pickle are untouched), so the test can only pass if no key list
    materializes on the driver. All expired keys are re-admitted
    afterwards; kept keys keep the no-false-negative guarantee."""
    from webcrawl_lowres_lang_spark.operators.cuckoo import PartitionedCuckoo

    n, n_exp = 150_000, 120_000
    s = _cuckoo_seen(spark, tmp_path, "big")
    s.enable_empty_bloom()
    all_keys = spark.range(1, n + 1).selectExpr("id AS url_hash")
    assert s.add(all_keys, assume_new=True) == n
    expired = spark.range(1, n_exp + 1).selectExpr("id AS url_hash")

    def _fail(*_a, **_k):  # pins the code path, not just the outcome
        raise AssertionError("driver-side delete_many used for a large batch")

    monkeypatch.setattr(PartitionedCuckoo, "delete_many", _fail)
    assert s.expire(expired) == n_exp  # default threshold 100k < 120k
    monkeypatch.undo()
    assert s.count() == n - n_exp

    kept = np.arange(n_exp + 1, n + 1, dtype=np.int64)
    assert s._bloom.might_contain(kept).all(), "false negative on kept keys"
    readmit = s.filter_unseen(expired)
    assert readmit.count() == n_exp


def _snapshot_seen(spark, tmp_path, kind):
    """A seen set of ``kind`` holding 2,000 keys; the cuckoo one is sized
    for 64 keys, so its shards saturate and the overflow multisets fill."""
    from webcrawl_lowres_lang_spark.operators.cuckoo import CuckooConfig

    s = SeenSet(
        spark, str(tmp_path / f"seen_{kind}"), n_buckets=8, bloom_config=CFG,
        filter_kind=kind,
        cuckoo_config=CuckooConfig(capacity=64, num_shards=4, max_kicks=8),
    )
    s.enable_empty_bloom()
    s.add(_hash_df(spark, range(0, 4000, 2)), assume_new=True)
    return s


@pytest.mark.parametrize("kind", ["bloom", "cuckoo"])
def test_filter_snapshot_round_trip(spark, tmp_path, kind):
    """save_snapshot -> restore gives back the live filter: same answers on
    every table key and on 10k random keys, same cuckoo overflow."""
    s = _snapshot_seen(spark, tmp_path, kind)
    if kind == "cuckoo":
        assert any(shard.overflow for shard in s._bloom.shards.values())
    path = str(tmp_path / "snap.npz")
    s.save_snapshot(path)

    s2 = SeenSet(spark, s.path, n_buckets=8, bloom_config=CFG,
                 filter_kind=kind, cuckoo_config=s.filter_config)
    assert s2.restore(path) == "snapshot"
    table_keys = np.array(sorted(r["url_hash"] for r in s.load().collect()), dtype=np.int64)
    rand = np.random.default_rng(11).integers(-(2**63), 2**63 - 1, size=10_000, dtype=np.int64)
    for keys in (table_keys, rand):
        assert (s2._bloom.might_contain(keys) == s._bloom.might_contain(keys)).all()
    assert s2._bloom.might_contain(table_keys).all()
    if kind == "cuckoo":
        for sid, shard in s._bloom.shards.items():
            assert s2._bloom.shards[sid].overflow == shard.overflow
            assert (s2._bloom.shards[sid].table == shard.table).all()
    # the restored filter is the one filter_unseen probes
    fresh = s2.filter_unseen(_hash_df(spark, range(3990, 4010)))
    unseen = sorted(set(range(3990, 4010)) - set(range(0, 4000, 2)))
    assert sorted(r["url_hash"] for r in fresh.collect()) == unseen


def test_stale_or_foreign_snapshot_falls_back_to_rebuild(spark, tmp_path, monkeypatch):
    """A snapshot is restored only for the table version and filter config
    it was written under; otherwise restore rebuilds and says why."""
    s = _snapshot_seen(spark, tmp_path, "bloom")
    path = str(tmp_path / "snap.npz")
    s.save_snapshot(path)
    rebuilds = []
    build_bloom = SeenSet.build_bloom
    monkeypatch.setattr(
        SeenSet, "build_bloom", lambda self: rebuilds.append(1) or build_bloom(self)
    )

    # another geometry: the same table under a larger filter
    other = SeenSet(spark, s.path, n_buckets=8,
                    bloom_config=BloomConfig(capacity=20_000, fpp=0.01, num_shards=8))
    assert other.restore(path) == "rebuild: config differs"
    # the table moved on after the snapshot (an append never committed)
    s.add(_hash_df(spark, [1, 3, 5]), assume_new=True)
    again = SeenSet(spark, s.path, n_buckets=8, bloom_config=CFG)
    assert again.restore(path) == "rebuild: version differs"
    assert again.restore(str(tmp_path / "absent.npz")) == "rebuild: snapshot file missing"
    assert again.restore(None) == "rebuild: no snapshot"
    assert len(rebuilds) == 4
    keys = np.array([r["url_hash"] for r in s.load().collect()], dtype=np.int64)
    assert again._bloom.might_contain(keys).all()
