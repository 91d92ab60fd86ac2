"""Partitioned Bloom filter over 64-bit keys (north rule: "partitioned
Bloom/cuckoo URL-seen set, 10^10-URL capacity, per-partition filters merged
via treeAggregate"), plus the sharded container and distributed build it
shares with the cuckoo filter (operators/cuckoo.py).

Layout: ``num_shards`` independent bit arrays; a key's shard is
``key mod num_shards``. At 10^10 keys / 1% fpp the total filter is ~11 GiB
— far too big for one broadcast — so shards let executors build and merge
bounded pieces (treeAggregate with depth>1 keeps driver merge traffic
logarithmic) and let the probe side broadcast only the shards it needs.
At sandbox scale every shard is tiny; the code path is identical.

All bit math is vectorized numpy over Arrow batches — no per-row Python.
Probe positions use Kirsch–Mitzenmacher double hashing from the single
xxhash64 key: pos_i = h1 + i*h2 (mod m), which preserves the classic
false-positive bound with only one upstream hash.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np


@dataclass(frozen=True)
class BloomConfig:
    capacity: int  # expected number of distinct keys (whole filter, all shards)
    fpp: float = 0.01
    num_shards: int = 32

    @property
    def total_bits(self) -> int:
        m = -self.capacity * math.log(self.fpp) / (math.log(2) ** 2)
        return max(64, int(m))

    @property
    def bits_per_shard(self) -> int:
        # round up to multiple of 64 for uint64 word packing
        b = (self.total_bits + self.num_shards - 1) // self.num_shards
        return ((b + 63) // 64) * 64

    @property
    def num_hashes(self) -> int:
        k = (self.total_bits / max(self.capacity, 1)) * math.log(2)
        return max(1, min(16, int(round(k))))

    def new_shard(self) -> "BloomShard":
        return BloomShard(self.bits_per_shard, self.num_hashes)

    def empty(self) -> "ShardedFilter":
        return ShardedFilter(self)


_MIX = np.uint64(0x9E3779B97F4A7C15)  # golden-ratio odd constant
_MIX2 = np.uint64(0xD1B54A32D192ED03)  # second independent odd increment


def _splitmix(k: np.ndarray, inc: np.uint64) -> np.ndarray:
    z = (k + inc) & np.uint64(0xFFFFFFFFFFFFFFFF)
    z ^= z >> np.uint64(30)
    z = (z * np.uint64(0xBF58476D1CE4E5B9)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    z ^= z >> np.uint64(27)
    z = (z * np.uint64(0x94D049BB133111EB)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    z ^= z >> np.uint64(31)
    return z


def _h1_h2(keys: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Two derived 64-bit streams from one xxhash64 key (splitmix-style).

    h1 MUST be mixed, not the raw key: the shard id is ``key % num_shards``
    and bits_per_shard is a multiple of 64 that num_shards divides, so a raw
    h1's first probe (i=0) would be confined to 1/num_shards of its shard's
    bit range — the first hash carries ~1.5-2x the designed load and the
    realized fpp overshoots the target. Independent splitmix increments for
    h1 and h2 decorrelate the two streams from the shard assignment.
    """
    k = keys.astype(np.uint64)
    h1 = _splitmix(k, _MIX2)
    h2 = _splitmix(k, _MIX) | np.uint64(1)  # odd -> full-period stepping
    return h1, h2


def shard_of(keys: np.ndarray, num_shards: int) -> np.ndarray:
    return (keys.astype(np.uint64) % np.uint64(num_shards)).astype(np.int64)


class BloomShard:
    """One shard's bit array; value object merged with bitwise OR."""

    __slots__ = ("words", "bits", "k")

    def __init__(self, bits: int, k: int, words: np.ndarray | None = None):
        self.bits = bits
        self.k = k
        self.words = words if words is not None else np.zeros(bits // 64, dtype=np.uint64)

    def add_many(self, keys: np.ndarray) -> None:
        if len(keys) == 0:
            return
        h1, h2 = _h1_h2(keys)
        m = np.uint64(self.bits)
        for i in range(self.k):
            pos = (h1 + np.uint64(i) * h2) % m
            word, bit = pos >> np.uint64(6), pos & np.uint64(63)
            np.bitwise_or.at(self.words, word.astype(np.int64), np.uint64(1) << bit)

    def might_contain(self, keys: np.ndarray) -> np.ndarray:
        if len(keys) == 0:
            return np.zeros(0, dtype=bool)
        h1, h2 = _h1_h2(keys)
        m = np.uint64(self.bits)
        out = np.ones(len(keys), dtype=bool)
        for i in range(self.k):
            pos = (h1 + np.uint64(i) * h2) % m
            word, bit = (pos >> np.uint64(6)).astype(np.int64), pos & np.uint64(63)
            out &= (self.words[word] >> bit) & np.uint64(1) != 0
        return out

    def merge(self, other: "BloomShard") -> "BloomShard":
        self.words |= other.words
        return self

    @property
    def nbytes(self) -> int:
        return self.words.nbytes


class ShardedFilter:
    """``num_shards`` independent shards of one filter kind; a key's shard
    is ``key mod num_shards`` and a shard exists once a key lands in it.
    Picklable (numpy arrays) so it broadcasts cleanly. The config makes
    each empty shard (``config.new_shard()``); Bloom and cuckoo share
    everything else."""

    def __init__(self, config):
        self.config = config
        self.shards: dict = {}

    def _shard(self, sid: int):
        s = self.shards.get(sid)
        if s is None:
            s = self.config.new_shard()
            self.shards[sid] = s
        return s

    def add_many(self, keys: np.ndarray) -> "ShardedFilter":
        keys = np.asarray(keys, dtype=np.int64)
        sids = shard_of(keys, self.config.num_shards)
        for sid in np.unique(sids):
            self._shard(int(sid)).add_many(keys[sids == sid])
        return self

    def might_contain(self, keys: np.ndarray) -> np.ndarray:
        keys = np.asarray(keys, dtype=np.int64)
        if len(keys) == 0:
            return np.zeros(0, dtype=bool)
        sids = shard_of(keys, self.config.num_shards)
        out = np.zeros(len(keys), dtype=bool)
        for sid in np.unique(sids):
            mask = sids == sid
            shard = self.shards.get(int(sid))
            if shard is not None:
                out[mask] = shard.might_contain(keys[mask])
        return out

    def merge(self, other: "ShardedFilter") -> "ShardedFilter":
        for sid, shard in other.shards.items():
            if sid in self.shards:
                self.shards[sid].merge(shard)
            else:
                self.shards[sid] = shard
        return self

    def memory_bytes(self) -> int:
        return sum(s.nbytes for s in self.shards.values())


def build_filter_from_df(df, key_col: str, config, depth: int = 2) -> ShardedFilter:
    """Distributed build of ``config.empty()``'s filter kind: each partition
    folds its keys into a local filter (only the shards it touches), and
    the partial filters are merged via treeAggregate — Bloom shards OR,
    cuckoo shards re-place fingerprints; both are commutative/associative,
    so the answers are partitioning-invariant.

    Ingestion is Arrow-batched (``mapInArrow`` -> numpy ``add_many``), not
    per-row Python: at 10^8 keys the old Row-pickling iterator spent more
    time deserializing rows than setting bits (measured ~6x whole-build
    difference at that scale). Each task ships ONE pickled partial filter;
    ``depth`` > 1 keeps driver merge traffic logarithmic in task count."""
    import pickle

    import pyarrow as pa

    def fold(batches):
        acc = config.empty()
        for b in batches:
            acc.add_many(b.column(0).to_numpy(zero_copy_only=False).astype(np.int64))
        yield pa.RecordBatch.from_arrays([pa.array([pickle.dumps(acc)], pa.binary())], names=["blob"])

    blobs = df.select(key_col).mapInArrow(fold, "blob binary").rdd.map(
        lambda r: pickle.loads(r[0])
    )

    def comb_op(a: ShardedFilter, b: ShardedFilter) -> ShardedFilter:
        return a.merge(b)

    return blobs.treeAggregate(config.empty(), comb_op, comb_op, depth=depth)
