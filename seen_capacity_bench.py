#!/usr/bin/env python
"""10^8-key URL-seen filter capacity evidence (BASELINE.md §seen-capacity).

Builds a 100M-key partitioned Bloom via the production path
(``build_filter_from_df``: Arrow-batched per-partition fold, treeAggregate
shard merge), then measures what the 10^10-capacity claims extrapolate
from: build wall time, filter bytes (total / per shard), broadcast wall
time, the write and load time and file size of the filter snapshot a
crawl commits every round (``save_filter`` / ``load_filter``, what
``SeenSet.save_snapshot`` and ``restore`` run), and single-core numpy
probe throughput + observed false-positive rate.

Prints ONE JSON line. Run: ``python seen_capacity_bench.py`` (env:
SEEN_BENCH_KEYS to override the key count).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

import numpy as np
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from webcrawl_lowres_lang_spark.operators.bloom import (  # noqa: E402
    BloomConfig,
    build_filter_from_df,
    load_filter,
    save_filter,
)
from webcrawl_lowres_lang_spark.session import DEFAULT_CPUS, get_spark  # noqa: E402


def main() -> None:
    n_keys = int(os.environ.get("SEEN_BENCH_KEYS", 100_000_000))
    spark = get_spark(app_name="seen_capacity", master=f"local[{DEFAULT_CPUS}]")
    spark.sparkContext.setLogLevel("ERROR")

    # keys = xxhash64 of a dense id range: JVM-side generation, the same
    # 64-bit key domain the crawl's canonical-URL hashes live in
    keys_df = spark.range(n_keys, numPartitions=DEFAULT_CPUS).select(
        F.xxhash64("id").alias("url_hash")
    )
    cfg = BloomConfig(capacity=n_keys, fpp=0.01, num_shards=32)

    print(f"building {n_keys} keys...", file=sys.stderr, flush=True)
    t0 = time.perf_counter()
    bloom = build_filter_from_df(keys_df, "url_hash", cfg, depth=3)
    build_secs = time.perf_counter() - t0
    print(f"build done {build_secs:.1f}s", file=sys.stderr, flush=True)

    total_bytes = bloom.memory_bytes()
    shard_bytes = cfg.bits_per_shard // 8

    t0 = time.perf_counter()
    bc = spark.sparkContext.broadcast(bloom)
    broadcast_secs = time.perf_counter() - t0
    bc.destroy()

    snap_dir = tempfile.mkdtemp(prefix="seen_snapshot_")
    snap = os.path.join(snap_dir, "filter.npz")
    t0 = time.perf_counter()
    save_filter(bloom, snap, version=[])
    snapshot_write_s = time.perf_counter() - t0
    snapshot_bytes = os.path.getsize(snap)
    t0 = time.perf_counter()
    loaded = load_filter(snap, cfg, version=[])
    snapshot_load_s = time.perf_counter() - t0
    shutil.rmtree(snap_dir)
    assert all(
        (loaded.shards[sid].words == shard.words).all() for sid, shard in bloom.shards.items()
    ), "snapshot round trip changed the filter"
    del loaded

    # single-core numpy probe: 5M present + 5M absent
    n_probe = min(5_000_000, n_keys)
    present = (
        spark.range(0, n_probe).select(F.xxhash64("id").alias("h")).toPandas()["h"]
        .to_numpy(dtype=np.int64)
    )
    absent = (
        spark.range(n_keys, n_keys + n_probe)
        .select(F.xxhash64("id").alias("h"))
        .toPandas()["h"]
        .to_numpy(dtype=np.int64)
    )
    t0 = time.perf_counter()
    hit_present = bloom.might_contain(present)
    hit_absent = bloom.might_contain(absent)
    probe_secs = time.perf_counter() - t0
    assert bool(hit_present.all()), "Bloom false negative — impossible"
    observed_fpp = float(hit_absent.mean())

    print(
        json.dumps(
            {
                "metric": "seen-filter-capacity",
                "keys": n_keys,
                "fpp_config": cfg.fpp,
                "num_shards": cfg.num_shards,
                "bits_per_key": round(cfg.total_bits / n_keys, 2),
                "filter_mib": round(total_bytes / 2**20, 1),
                "shard_mib": round(shard_bytes / 2**20, 2),
                "build_secs": round(build_secs, 2),
                "broadcast_secs": round(broadcast_secs, 2),
                "snapshot_write_s": round(snapshot_write_s, 3),
                "snapshot_load_s": round(snapshot_load_s, 3),
                "snapshot_bytes": snapshot_bytes,
                "numpy_probe_mkeys_per_sec": round(2 * n_probe / probe_secs / 1e6, 1),
                "observed_fpp": round(observed_fpp, 5),
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
