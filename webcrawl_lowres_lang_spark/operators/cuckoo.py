"""Partitioned cuckoo filter over 64-bit keys — the north rule's named
alternative to the Bloom ("partitioned Bloom/cuckoo-filter URL-seen set").

Why a crawl would pick cuckoo over Bloom: DELETION. A Bloom bit can never
be cleared, so re-crawl policies (TTL-expire a URL to fetch it again,
retract a withdrawn host) force a full rebuild; a cuckoo filter removes
one fingerprint copy in O(1). Space is comparable at practical fpp
(16-bit fingerprints, 4-slot buckets, ~95% load target).

Same container and build as operators/bloom.py (``ShardedFilter``,
``build_filter_from_df``): ``num_shards`` independent tables, a key's
shard is ``key mod num_shards``; shards build executor-side and merge
via treeAggregate (merge = re-place the other table's fingerprints —
placement only needs (bucket, fp) because the partner bucket is
``i xor H(fp)``, the partial-key cuckoo property).
Lookups are fully vectorized numpy over Arrow batches; inserts/deletes
walk a per-key eviction loop (bounded kicks) executor-side.

No-false-negative guarantee is ABSOLUTE here, like the Bloom's: an insert
that still fails after ``max_kicks`` evictions lands in a tiny overflow
set probed alongside the table (classic implementations fail the insert;
a seen-set must never forget a URL).

Reference semantics anchor: the same dedup-on-insert contract as
sql.py:147-159 — this module only changes the approximate pre-filter
data structure.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from .bloom import ShardedFilter, _splitmix, same_geometry, shard_of

_FP_INC = np.uint64(0xA24BAED4963EE407)  # fingerprint stream increment
_IDX_INC = np.uint64(0x9FB21C651E98DF25)  # bucket-index stream increment

SLOTS = 4


def _next_pow2(n: int) -> int:
    p = 1
    while p < n:
        p <<= 1
    return p


@dataclass(frozen=True)
class CuckooConfig:
    capacity: int  # expected distinct keys across ALL shards
    num_shards: int = 32
    load_target: float = 0.84  # classic 4-slot cuckoo load ceiling ~0.95
    max_kicks: int = 500

    @property
    def buckets_per_shard(self) -> int:
        per_shard = max(1, self.capacity // self.num_shards)
        return _next_pow2(max(2, int(per_shard / (SLOTS * self.load_target)) + 1))

    def new_shard(self) -> "CuckooShard":
        return CuckooShard(self.buckets_per_shard, self.max_kicks)

    def empty(self) -> "PartitionedCuckoo":
        return PartitionedCuckoo(self)


def _fingerprints(keys: np.ndarray) -> np.ndarray:
    """16-bit nonzero fingerprint (0 marks an empty slot)."""
    k = keys.astype(np.uint64)
    return ((_splitmix(k, _FP_INC) % np.uint64(65535)) + np.uint64(1)).astype(np.uint16)


def _fp_hash(fp: np.ndarray) -> np.ndarray:
    """Independent mix of the fingerprint for the partner-bucket XOR."""
    return _splitmix(fp.astype(np.uint64), _IDX_INC)


class CuckooShard:
    """One shard's (buckets x SLOTS) uint16 table + overflow MULTISET.

    The overflow is a Counter of (bucket, fp) pairs, not a set: two
    saturation-overflowed keys colliding on the same pair must keep
    multiplicity 2, or one ``delete_many`` would silently remove
    membership for both — a pre-filter false negative under deletion."""

    __slots__ = ("table", "mask", "overflow", "max_kicks")

    def __init__(self, n_buckets: int, max_kicks: int):
        from collections import Counter

        self.table = np.zeros((n_buckets, SLOTS), dtype=np.uint16)
        self.mask = np.uint64(n_buckets - 1)
        self.max_kicks = max_kicks
        self.overflow: "Counter[tuple[int, int]]" = Counter()  # (i1, fp) -> copies

    # -- index math ---------------------------------------------------------

    def _i1(self, keys: np.ndarray) -> np.ndarray:
        return (_splitmix(keys.astype(np.uint64), _IDX_INC) & self.mask).astype(np.int64)

    def _alt(self, i: np.ndarray, fp: np.ndarray) -> np.ndarray:
        return ((i.astype(np.uint64) ^ _fp_hash(fp)) & self.mask).astype(np.int64)

    # -- mutation -----------------------------------------------------------

    def _place(self, i1: int, fp: int, rng_state: int) -> None:
        """Insert (i1, fp), evicting residents if both buckets are full."""
        i2 = int(self._alt(np.array([i1]), np.array([fp], dtype=np.uint16))[0])
        for i in (i1, i2):
            row = self.table[i]
            free = np.nonzero(row == 0)[0]
            if len(free):
                row[free[0]] = fp
                return
        # eviction walk: kick a pseudo-random resident to its partner bucket
        i, cur = i2, fp
        state = np.uint64(rng_state or 1)
        for _ in range(self.max_kicks):
            state = _splitmix(np.array([state], dtype=np.uint64), _FP_INC)[0]
            slot = int(state % np.uint64(SLOTS))
            cur, self.table[i, slot] = int(self.table[i, slot]), cur
            i = int(self._alt(np.array([i]), np.array([cur], dtype=np.uint16))[0])
            row = self.table[i]
            free = np.nonzero(row == 0)[0]
            if len(free):
                row[free[0]] = cur
                return
        # table saturated: never forget a key — overflow keeps exactness
        io1 = int(self._alt(np.array([i]), np.array([cur], dtype=np.uint16))[0])
        self.overflow[(min(i, io1), int(cur))] += 1

    def _bulk_place(self, i1s: np.ndarray, fps: np.ndarray) -> np.ndarray:
        """Vectorized fast path: place keys whose PRIMARY bucket has a
        free slot, resolving intra-batch bucket collisions by taking one
        key per bucket per pass (SLOTS passes). Returns the indices still
        unplaced (full primary bucket -> per-key eviction walk)."""
        todo = np.arange(len(fps))
        placed_all: set[int] = set()
        for _ in range(SLOTS):
            if not len(todo):
                break
            buckets = i1s[todo]
            _, first = np.unique(buckets, return_index=True)
            chosen = todo[first]  # one key per distinct bucket this pass
            rows = self.table[i1s[chosen]]
            has_free = (rows == 0).any(axis=1)
            place = chosen[has_free]
            if len(place):
                slot = np.argmax(self.table[i1s[place]] == 0, axis=1)
                self.table[i1s[place], slot] = fps[place]
            placed = set(place.tolist())
            placed_all |= placed
            # keys whose bucket was full leave the fast path immediately
            full = set(chosen[~has_free].tolist())
            todo = np.array(
                [t for t in todo.tolist() if t not in placed and t not in full],
                dtype=np.int64,
            )
            if not len(todo):
                todo = np.zeros(0, dtype=np.int64)
        # placement truth is tracked DIRECTLY (placed_all), never inferred
        # from fingerprint presence: a pre-existing copy of a colliding key
        # would otherwise mark an unplaced key "placed" and collapse the
        # multiset (a later delete of the resident would false-negative it)
        leftovers = sorted(set(range(len(fps))) - placed_all)
        return np.array(leftovers, dtype=np.int64)

    def add_many(self, keys: np.ndarray) -> None:
        """MULTISET insert: every key stores its own fingerprint copy.

        Distinct keys that collide on (bucket-pair, fp) are
        indistinguishable to the filter, so the second copy is the only
        thing that keeps ``delete_many`` of one key from false-negativing
        the other (with XOR partner buckets a shared (bucket, fp) implies
        a shared PAIR, so the copies always land in the same pair). The
        earlier idempotent-skip collapsed exactly that multiplicity —
        measured ~1 false negative per 120k mass-deletes. Callers
        (SeenSet.add) anti-join against the exact table first, so each
        distinct URL hash is still inserted at most once."""
        if len(keys) == 0:
            return
        fps = _fingerprints(keys)
        i1s = self._i1(keys)
        # first copy per (i1, fp) goes through the vectorized fast path;
        # intra-batch duplicate copies take the per-key walk (which stores
        # unconditionally)
        pk = i1s * 65536 + fps.astype(np.int64)
        _, first = np.unique(pk, return_index=True)
        mask = np.zeros(len(keys), dtype=bool)
        mask[first] = True
        bulk = np.nonzero(mask)[0]
        rest = self._bulk_place(i1s[bulk], fps[bulk])
        for j in rest.tolist():
            i1, fp = int(i1s[bulk[j]]), int(fps[bulk[j]])
            self._place(i1, fp, (i1 * 31 + fp) & 0xFFFFFFFF)
        for j in np.nonzero(~mask)[0].tolist():
            i1, fp = int(i1s[j]), int(fps[j])
            self._place(i1, fp, (i1 * 31 + fp) & 0xFFFFFFFF)

    def delete_many(self, keys: np.ndarray) -> int:
        """Remove ONE fingerprint copy per key present; returns removals.

        CLASSIC CUCKOO DELETION CAVEAT — only safe for keys KNOWN to have
        been inserted: deleting a never-inserted key whose 16-bit
        fingerprint collides with a resident's in the same bucket pair
        evicts the resident's fingerprint, creating a pre-filter false
        negative. Callers must drive deletes from ground truth
        (SeenSet.expire semi-joins the exact backing table first) — never
        from the filter's own might_contain."""
        if len(keys) == 0:
            return 0
        fps = _fingerprints(keys)
        i1s = self._i1(keys)
        alts = self._alt(i1s, fps)
        removed = 0
        for i1, i2, fp in zip(i1s.tolist(), alts.tolist(), fps.tolist()):
            key = (min(i1, i2), fp)
            if self.overflow.get(key, 0) > 0:
                self.overflow[key] -= 1
                if not self.overflow[key]:
                    del self.overflow[key]
                removed += 1
                continue
            for i in (i1, i2):
                hits = np.nonzero(self.table[i] == fp)[0]
                if len(hits):
                    self.table[i, hits[0]] = 0
                    removed += 1
                    break  # else: key was never inserted — no-op
        return removed

    # -- lookup -------------------------------------------------------------

    def _contained(self, i1s: np.ndarray, fps: np.ndarray) -> np.ndarray:
        alts = self._alt(i1s, fps)
        f = fps.astype(np.uint16)
        hit = (self.table[i1s] == f[:, None]).any(axis=1) | (
            self.table[alts] == f[:, None]
        ).any(axis=1)
        if self.overflow:
            mins = np.minimum(i1s, alts)
            ov = np.fromiter(
                (
                    (int(m), int(p)) in self.overflow
                    for m, p in zip(mins.tolist(), fps.tolist())
                ),
                dtype=bool,
                count=len(fps),
            )
            hit |= ov
        return hit

    def might_contain(self, keys: np.ndarray) -> np.ndarray:
        if len(keys) == 0:
            return np.zeros(0, dtype=bool)
        return self._contained(self._i1(keys), _fingerprints(keys))

    def merge(self, other: "CuckooShard") -> "CuckooShard":
        """Re-place the other table's fingerprints (placement needs only
        (bucket, fp) — the partner is i xor H(fp))."""
        occ_i, occ_s = np.nonzero(other.table)
        for i, s in zip(occ_i.tolist(), occ_s.tolist()):
            fp = int(other.table[i, s])
            # multiset merge (no dedup): the same KEY inserted on two
            # partitions re-places twice; delete_many removes one copy per
            # call, and might_contain is unaffected — exactness is owned
            # by the backing table, as with the Bloom
            self._place(i, fp, (i * 31 + fp) & 0xFFFFFFFF)
        # Counter.update ADDS counts — a plain set-union would collapse
        # multiplicity and break delete-by-copy
        self.overflow.update(other.overflow)
        return self

    def arrays(self) -> dict[str, np.ndarray]:
        """The table and the overflow multiset as (bucket, fp, count) rows."""
        overflow = np.array(
            [(b, fp, n) for (b, fp), n in sorted(self.overflow.items())], dtype=np.int64
        ).reshape(-1, 3)
        return {"table": self.table, "overflow": overflow}

    def load_arrays(self, arrays: dict[str, np.ndarray]) -> None:
        self.table = same_geometry(self.table, arrays["table"])
        self.overflow.clear()
        for b, fp, n in arrays["overflow"].tolist():
            self.overflow[(b, fp)] = n

    @property
    def nbytes(self) -> int:
        return self.table.nbytes


class PartitionedCuckoo(ShardedFilter):
    """Cuckoo shards: the Bloom's container plus per-key deletion."""

    def delete_many(self, keys: np.ndarray) -> int:
        keys = np.asarray(keys, dtype=np.int64)
        sids = shard_of(keys, self.config.num_shards)
        removed = 0
        for sid in np.unique(sids):
            shard = self.shards.get(int(sid))
            if shard is not None:
                removed += shard.delete_many(keys[sids == sid])
        return removed
