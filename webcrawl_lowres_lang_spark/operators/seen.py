"""URL-seen set: exact hash-bucketed Parquet table + partitioned Bloom
(or cuckoo) filter kept beside it (SURVEY.md J5/E4; reference semantics:
dedup-on-insert at ``sql.py:147-159, 180-189, 213-246``).

Correctness comes ONLY from the exact table. ``filter_unseen`` is one
left-anti join of the candidates against it and does not read the live
filter: a hash anti-join already costs one key lookup per candidate, and
a filter flag in the join condition would be checked only after a lookup
matched, so it could neither change the result nor skip a lookup. For
the filter to save work it must split the candidates before the join
(materialize the probed candidates, anti-join only the positives); that
belongs with the suspects-only probe side of ROADMAP item 2. Before the
first append there is no table, and the candidates come back untouched.
The exact table is partitioned by ``bucket = pmod(url_hash, n_buckets)``,
but the join does not prune by it: the plan Spark picks is
``BroadcastHashJoin LeftAnti, BuildRight`` with the WHOLE exact table as
the broadcast build side (while it fits under the broadcast threshold set
in ``session.py``), read by a scan whose only partition filter is
``isnotnull(bucket)``, and every candidate probes the hash table. Past
the threshold the join becomes a sort-merge join that shuffles the whole
table. So the per-round verification cost grows with the table, not the
suspects.

The live filter is also committed state: ``save_snapshot`` writes it with
the ``url_seen`` version it covers (``tablestore.table_version``) at each
round's checkpoint, and ``restore`` loads it on resume only if that
version and the filter config still match, rebuilding it otherwise.

Filter sizing (measured at 10^8 keys — BASELINE.md "seen-filter
capacity"): 1% fpp costs 9.59 bits/key, so 10^8 keys = 114 MiB (easy
broadcast) and the 10^10 north-rule capacity = ~11.2 GiB / 358 MiB per
shard — still broadcastable onto large-memory executors. Past
broadcast-friendly sizes, repartition the probe side by the filter's own
``shard_of`` so each executor task probes only the shards its partition
maps to (shard-aligned pruning: per-task filter footprint drops to
total/num_shards), or drop the filter entirely — the bucketed exact
anti-join alone gives correct dedup, just without the probe shrink.
"""

from __future__ import annotations

import zipfile

import numpy as np
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..sources.tablestore import (
    append_table,
    read_table,
    rewrite_table,
    table_exists,
    table_version,
)
from .bloom import (
    BloomConfig,
    ShardedFilter,
    build_filter_from_df,
    load_filter,
    save_filter,
)
from .cuckoo import CuckooConfig, PartitionedCuckoo

SEEN_SCHEMA = StructType([
    StructField("url_hash", LongType(), False),
    StructField("bucket", LongType(), False),
])


class SeenSet:
    """Persistent exact seen-set with an in-memory Bloom or cuckoo filter.

    Storage is an append-only bucket-partitioned table behind the
    sources/tablestore.py Iceberg seam (bucket partitioning ≅ Iceberg's
    ``bucket(n_buckets, url_hash)`` transform; MERGE-free appends of
    pre-deduplicated keys). The Iceberg swap happens in that one module.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        n_buckets: int = 64,
        filter_config: BloomConfig | CuckooConfig | None = None,
    ):
        """``filter_config``'s type picks the live filter: a ``BloomConfig``
        (default: 10^6 keys at 1% fpp) or a ``CuckooConfig``. Both satisfy
        the same contract (no false negatives; vectorized might_contain;
        treeAggregate build; shard merge) — cuckoo additionally supports
        O(1) per-key DELETION (TTL re-crawl, host retraction) where a
        Bloom forces a rebuild. Correctness never depends on the choice:
        the exact backing table owns it."""
        self.spark = spark
        self.path = path
        self.n_buckets = n_buckets
        self.filter_config = filter_config or BloomConfig(capacity=1_000_000, fpp=0.01)
        self._bloom: ShardedFilter | None = None
        # optional phase callback (CrawlEngine wires its _label here) so
        # driver-side time inside add() is attributable in profiles
        self._phase_cb = None

    def _phase(self, name: str) -> None:
        if self._phase_cb is not None:
            self._phase_cb(name)

    # -- storage ------------------------------------------------------------

    def _exists(self) -> bool:
        return table_exists(self.path)

    def load(self) -> DataFrame:
        if not self._exists():
            return self.spark.createDataFrame([], SEEN_SCHEMA)
        return read_table(self.spark, self.path)

    def count(self) -> int:
        return self.load().count()

    def _with_bucket(self, df: DataFrame) -> DataFrame:
        return df.withColumn("bucket", F.pmod(F.col("url_hash"), F.lit(self.n_buckets)))

    # -- core operator: filter-unseen ----------------------------------------

    def filter_unseen(self, candidates: DataFrame) -> DataFrame:
        """Rows of ``candidates`` whose ``url_hash`` is not in the set.

        Plan shape: with no ``url_seen`` table yet, the candidates come
        back untouched (no join). Otherwise ONE left-anti join against the
        exact table on (bucket, url_hash); no Python runs in it.
        """
        if not self._exists():
            return candidates
        return self._with_bucket(candidates).join(
            self.load().select("bucket", "url_hash"), ["bucket", "url_hash"], "left_anti"
        ).drop("bucket")

    # -- mutation -------------------------------------------------------------

    def add(self, df: DataFrame, assume_new: bool = False) -> int:
        """Append *new* hashes (caller usually passes filter_unseen output).

        ``assume_new`` asserts the batch is disjoint from the store AND
        internally unique — exactly what the crawl path's
        ``filter_unseen(resolved)`` output is (``_resolve_discoveries``
        already keeps one row per url_hash) — so both the per-round store
        anti-join AND the per-round ``distinct`` shuffle are skipped.
        Without it the batch is deduped here and anti-joined. Returns rows
        added.

        The write is repartitioned BY BUCKET first: every writer task then
        emits files for (at most a couple of) bucket dirs instead of every
        task × every bucket — measured 1026 tiny files -> ~bucket-count
        files per append in the sandbox, and on a cluster it is the
        one-file-per-bucket-per-snapshot layout Iceberg compaction wants.
        The bucket shuffle replaces (not adds to) the old distinct shuffle.

        Bloom fold-in is EXECUTOR-SIDE: the batch's delta Bloom is built
        with the same treeAggregate path as a full rebuild (shards only, no
        hash ever materializes on the driver — at 100x scale a discovery
        round is tens of millions of hashes, a driver ``toPandas`` wall),
        then shard-OR-merged into the live filter. The delta build runs
        over ``max(1, n // 250k)`` coalesced partitions: each treeAggregate
        task ships a whole partial filter (~1.2 MB at 1M capacity), so at
        small delta sizes task count — not key count — is the cost
        (measured 1.77s -> 0.47s for a 5k-key delta).
        """
        new = df.select("url_hash") if assume_new else df.select("url_hash").distinct()
        new = self._with_bucket(new)
        if not assume_new:
            new = new.join(
                self.load().select("bucket", "url_hash"), ["bucket", "url_hash"], "left_anti"
            )
        # the append write doubles as the count job (Observation rides the
        # write action) — one job instead of count-then-write
        obs = Observation()
        out = (
            new.select("url_hash", "bucket")
            .repartition(self.n_buckets, "bucket")
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .cache()
        )
        self._phase("seen:append")
        append_table(out, self.path, partition_by=("bucket",))
        self._phase("seen:obs")
        try:
            n = int(obs.get["n"])
        except Exception:
            # AQE's runtime empty-relation propagation can replace the
            # whole subtree above the bucket shuffle — including the
            # CollectMetrics node — when the batch turns out empty at
            # runtime, leaving the Observation unfired. The count on the
            # (already materialized) cache is the cheap, always-correct
            # fallback.
            n = out.count()
        if self._bloom is not None and n:
            self._phase("seen:delta-build")
            build_parts = max(1, min(self.n_buckets, 1 + n // 250_000))
            delta = build_filter_from_df(
                out.coalesce(build_parts), "url_hash", self.filter_config
            )
            self._phase("seen:merge")
            self._bloom.merge(delta)
        self._phase("seen:done")
        out.unpersist()
        return n

    def expire(self, keys: DataFrame) -> int:
        """TTL re-crawl / host retraction (reference analog: the bulk
        reset ops, sql.py:312-334): remove ``url_hash`` keys from the seen
        set so they are admitted again. Returns keys actually removed.

        Deletes are driven FROM THE EXACT TABLE — the batch is first
        semi-joined against the store, and only verified-present keys are
        deleted from the live filter. This is the classic cuckoo deletion
        caveat (cuckoo.py delete_many): deleting a never-inserted key
        whose fingerprint collides with a resident's would evict the
        resident and break the no-false-negative guarantee; the filter's
        own might_contain is NOT ground truth, the table is.

        Filter handling: 'cuckoo' collects the verified keys to the driver
        (8 bytes a key) and drops their fingerprints in O(1) per key — its
        reason to exist; 'bloom' cannot clear bits, so the filter is
        REBUILT from the rewritten table (the full-scan cost cuckoo
        avoids). The exact table rewrite is the tablestore seam's
        row-level DELETE (Iceberg: rewrite affected files + snapshot) and
        stays distributed.
        """
        present = (
            self._with_bucket(keys.select("url_hash").distinct())
            .join(self.load().select("bucket", "url_hash"), ["bucket", "url_hash"], "left_semi")
            .cache()
        )
        n = present.count()
        if not n:
            present.unpersist()
            return 0
        remaining = self.load().join(present, ["bucket", "url_hash"], "left_anti")
        rewrite_table(remaining, self.path, partition_by=("bucket",))
        if self._bloom is not None:
            if isinstance(self._bloom, PartitionedCuckoo):
                hashes = [r["url_hash"] for r in present.select("url_hash").collect()]
                self._bloom.delete_many(np.array(hashes, dtype=np.int64))
            else:
                self.build_bloom()
        present.unpersist()
        return n

    # -- bloom lifecycle -------------------------------------------------------

    def build_bloom(self, depth: int = 2):
        """(Re)build the partitioned filter (Bloom or cuckoo, per
        ``filter_config``) from the exact table via treeAggregate-merged
        per-partition shards."""
        self._bloom = build_filter_from_df(
            self.load(), "url_hash", self.filter_config, depth=depth
        )
        return self._bloom

    def enable_empty_bloom(self) -> None:
        """Start a fresh crawl with an empty live filter (everything unseen)."""
        self._bloom = self.filter_config.empty()

    # -- filter snapshot ---------------------------------------------------------

    def _version(self) -> list[list]:
        # JSON form of table_version: what a snapshot header stores
        return [list(v) for v in table_version(self.path)]

    def save_snapshot(self, path: str) -> None:
        """Write the live filter to ``path`` with the ``url_seen`` version
        it covers (``bloom.save_filter``: numpy arrays and a JSON header,
        temp file + rename)."""
        save_filter(self._bloom, path, self._version())

    def restore(self, path: str | None) -> str:
        """Make the live filter the snapshot at ``path`` if it was written
        under this filter config and covers exactly the current table;
        otherwise rebuild it from the table (``build_bloom``). Returns
        ``"snapshot"`` or ``"rebuild: <reason>"``. A snapshot older or
        newer than the table is never restored: a key of the table missing
        from the filter would be a pre-filter false negative."""
        reason = "no snapshot"
        if path is not None:
            try:
                self._bloom = load_filter(path, self.filter_config, self._version())
            except FileNotFoundError:
                reason = "snapshot file missing"
            except ValueError as e:  # config, version or geometry differs
                reason = str(e)
            except (OSError, EOFError, KeyError, zipfile.BadZipFile) as e:  # not a snapshot
                reason = f"snapshot unreadable: {type(e).__name__}: {e}"
            else:
                return "snapshot"
        self.build_bloom()
        return f"rebuild: {reason}"
