"""The benchmark's workloads: each is a crawl plan generated from the
benchmark seed. The engine sees only the ``CrawlConfig`` built here; the
seed becomes ``CrawlConfig.seed``.

Every workload runs the same plan shape, so every end-to-end and per-layer
metric is measured on each of them:

    crawl the configured rounds -> stop
    -> ``CrawlEngine.resume`` from the snapshot (timed: ``resume_s``)
    -> ``expire_urls`` on one domain's round-0 fetches (TTL re-crawl).

The sizes are set by the run budget: on a 4-vCPU box a crawl round costs
40 to 55 s whatever its size (a 40-fetch round costs what an 800-fetch
one does; over half of it is driver time between Spark jobs), so a run
holds one crawl of one round.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from webcrawl_lowres_lang_spark.streaming.crawler import CrawlConfig


@dataclass(frozen=True)
class Workload:
    name: str
    config: CrawlConfig


# the seen-set filter sized to the URL universes below, as a crawl of this
# size would be configured (the 10^6 default ships 16x larger filters)
BLOOM_CAPACITY = 100_000

_WORKLOADS = {
    # ~800 fetches over 1k hosts in one round, 80 distinct images decoded
    # and pixel-validated; budget 32 barely binds: the most per-URL
    # pandas-UDF work (canonicalize, decode+validate, score, filter probe) a
    # run holds, though fixed per-round cost still takes most of the round
    # (trace.per_url_share). Bloom filter: the expire step rebuilds it.
    "wide_crawl": Workload(
        name="wide_crawl",
        config=CrawlConfig(
            n_urls=8_000, n_pages=80, n_hosts=1_000, query_count=7,
            num_search_pages=4, host_budget=32, rounds=1, validate_pixels=True,
            bloom_capacity=BLOOM_CAPACITY,
        ),
    ),
    # 27 hosts: host 0 (crawl_delay 2.0, so a third of the budget) owns
    # n_hosts^(-1/3) = 1/3 of the URLs; budget 6 admits ~130 of ~520 seed
    # rows, so most of the frontier, the hot domain's above all, is deferred
    # to the snapshot that resume reads back. Cuckoo filter: the expire step
    # deletes from it.
    "hot_domain_crawl": Workload(
        name="hot_domain_crawl",
        config=CrawlConfig(
            n_urls=4_000, n_pages=40, n_hosts=27, query_count=10,
            num_search_pages=4, host_budget=6, rounds=1, validate_pixels=True,
            seen_filter="cuckoo", bloom_capacity=BLOOM_CAPACITY,
        ),
    ),
}

NAMES = tuple(_WORKLOADS)


def workload(name: str, seed: int) -> Workload:
    """The named workload with its crawl config seeded by ``seed``."""
    if name not in _WORKLOADS:
        raise ValueError(f"unknown workload {name!r}; choose from {', '.join(NAMES)}")
    w = _WORKLOADS[name]
    return replace(w, config=replace(w.config, seed=seed))


def tiny(w: Workload) -> Workload:
    """The workload's plan over a tiny URL universe, for the benchmark's
    own tests."""
    c = w.config
    cfg = replace(
        c, n_urls=400, n_pages=20, n_hosts=min(c.n_hosts, 24), query_count=2,
        num_search_pages=1,
    )
    return replace(w, name=f"{w.name}-tiny", config=cfg)
