"""Deterministic synthetic fixtures (FIXTURES.md): the closed link graph +
image/caption content store + lexicons + robots rules that replace the
reference's live web (search engines at ``search.py:38-77``, HTTP fetch at
``lrl-crawler.py:185-189``) for tests and benchmarks. No network, no
external data.

Every value is a pure function of (seed, row id): generators run as
``mapInPandas`` over ``spark.range`` so they are distributed AND
partition-count-invariant — the same rows appear at local[1], local[32],
or 1000 executors. The pure-Python crawl oracle (tests/reference_oracle.py)
regenerates identical fixtures without Spark via the same row functions.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..functions.imaging import (
    jpeg_encode,
    jpeg_encode_standin,
    phash64,
    png_encode,
    render_image,
)

# --- tiny deterministic word model -------------------------------------------

_SYLLABLES = [
    "ka", "ma", "ta", "nga", "wha", "ra", "po", "hi", "u", "re", "to", "ni",
    "mo", "ke", "wa", "pa", "ko", "te", "ri", "ha",
]
_ENGLISH_FILLER = [
    "the", "and", "with", "from", "image", "photo", "picture", "view",
    "gallery", "page", "download", "free", "stock",
]
# deliberate LRL/English overlap for the anti-join fixture (queries.py:57-70)
_OVERLAP = ["mate", "tapu", "kete"]


def _mix(seed: int, *vals: int) -> int:
    """Pure-python splitmix64 chain — the oracle-side twin of
    determinism.hash64 (does not need to equal xxhash64; both sides of the
    parity test use THIS function for fixture content)."""
    x = (seed ^ 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    for v in vals:
        x = (x + (v & 0xFFFFFFFFFFFFFFFF) + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 30
        x = (x * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 27
        x = (x * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 31
    return x


def _u(seed: int, *vals: int) -> float:
    return _mix(seed, *vals) / 2**64


def lrl_word(seed: int, k: int) -> str:
    n = 2 + _mix(seed, k, 1) % 3
    return "".join(_SYLLABLES[_mix(seed, k, 2 + i) % len(_SYLLABLES)] for i in range(n))


def gen_lexicon_rows(seed: int, n_terms: int) -> list[tuple[str, int]]:
    """LRL frequency dictionary: Zipf-ish counts; >10 vs <=10 split matters
    for common_uncommon query generation (reference: queries.py:36-38)."""
    seen: dict[str, int] = {}
    k = 0
    while len(seen) < n_terms:
        w = lrl_word(seed, k)
        if w not in seen:
            rank = len(seen)
            seen[w] = max(1, int(200 / (rank + 1)))
        k += 1
    for i, w in enumerate(_OVERLAP):
        if len(seen) > 3 + i:
            seen[w] = max(1, int(200 / (10 + i)))
    return sorted(seen.items())


def gen_english_lexicon_rows() -> list[tuple[str]]:
    return [(w,) for w in sorted(set(_ENGLISH_FILLER + _OVERLAP + ["stone", "water", "basket"]))]


def caption_for(seed: int, image_id: str, lex_words: list[str]) -> str:
    """Caption: LRL words + English filler, mix ratio keyed per image —
    drives the language-relevance score distribution."""
    k = int(image_id.split("-")[1])
    n_words = 6 + _mix(seed, k, 100) % 9
    lrl_ratio = _u(seed, k, 101)
    words = []
    for i in range(n_words):
        if _u(seed, k, 102 + i) < lrl_ratio:
            words.append(lex_words[_mix(seed, k, 200 + i) % len(lex_words)])
        else:
            words.append(_ENGLISH_FILLER[_mix(seed, k, 300 + i) % len(_ENGLISH_FILLER)])
    return " ".join(words)


# --- pages: image + caption content store (input_hint schema) -----------------

PAGES_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long"
)


def expected_pixels(seed: int, k: int) -> np.ndarray:
    """Ground-truth pixels of page k BEFORE encoding — the independent
    reference the decode-validation invariant (PSNR >= 40 dB, north rule)
    compares against. Shared by page_row so fixture and validator can
    never drift apart."""
    near_dup = k % 50 == 1 and k > 0
    base_k = k - 1 if near_dup else k
    w = 32 + _mix(seed, base_k, 10) % 65
    h = 32 + _mix(seed, base_k, 11) % 65
    img = render_image(seed, f"img-{base_k:08d}", w, h)
    if near_dup:
        img = img.copy()
        img[:3, :3] = np.clip(img[:3, :3].astype(np.int32) + 2, 0, 255).astype(np.uint8)
    return img


def page_row(seed: int, k: int, lex_words: list[str], lossy: str = "real") -> dict:
    """One content item. Every ~50th item (k%50==1) is a NEAR-DUPLICATE of
    its predecessor (tiny pixel perturbation, phash Hamming<=4) to exercise
    phash suppression (north rule).

    ``lossy``: "real" (default) encodes jpeg pages with the engine's
    baseline JFIF codec (functions/imaging.jpeg_encode, quality 97 —
    min PSNR ~43 dB, above the 40 dB invariant gate); "standin" keeps the
    round-3 quantize+PNG container. Bulk THROUGHPUT fixtures (scaling
    bench, 75k pages) use "standin": the pure-python codec costs ~40 ms/
    image where libjpeg-turbo costs ~2 ms, so the real codec would make
    the measured region python-codec-bound — unrepresentative of any
    production cluster — while correctness paths (crawl parity,
    perfbench) all run the real codec."""
    image_id = f"img-{k:08d}"
    img = expected_pixels(seed, k)
    h, w = img.shape[:2]
    fmt = "png" if _mix(seed, k, 12) % 2 == 0 else "jpeg"
    if fmt == "png":
        data = png_encode(img)
    elif lossy == "real":
        data = jpeg_encode(img, quality=97)
    else:
        data = jpeg_encode_standin(img)
    # phash over *decoded* pixels (what a fetcher recomputes), so the stored
    # hash matches the validation path even for the lossy format
    from ..functions.imaging import decode_image

    ph = phash64(decode_image(data, fmt))
    return {
        "image_id": image_id,
        "bytes": bytearray(data),
        "w": int(w),
        "h": int(h),
        "fmt": fmt,
        "caption": caption_for(seed, image_id, lex_words),
        "phash": int(ph),
    }


def _gen_parts(spark: SparkSession, n_rows: int, rows_per_task: int) -> int:
    """Partition count for a generator scan, sized to the work per row
    rather than inherited from ``spark.default.parallelism``: a 30k-row
    table on 96 default partitions is ~300 rows/task — pure scheduling
    overhead on every downstream stage that reads the cached layout. Capped
    at default parallelism so huge n still fans out cluster-wide."""
    cap = max(1, spark.sparkContext.defaultParallelism)
    return max(2, min(cap, -(-n_rows // rows_per_task)))


def gen_pages(
    spark: SparkSession, seed: int, n: int, lex_words: list[str], lossy: str = "real"
) -> DataFrame:
    lex = list(lex_words)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = [page_row(seed, int(k), lex, lossy=lossy) for k in b["id"]]
            yield pd.DataFrame(rows)

    # image render+encode per row is the expensive generator — small tasks
    return spark.range(n, numPartitions=_gen_parts(spark, n, 16)).mapInPandas(
        gen, PAGES_SCHEMA
    )


# --- link graph / synthetic web ------------------------------------------------

N_HOSTS_DEFAULT = 50
EXCLUDED_SUBSTRINGS = ["tracker", "adserver"]  # substring semantics (F2)

LINKS_SCHEMA = (
    "url_id long, url string, image_id string, status int, robots_disallow boolean"
)


def host_for(seed: int, k: int, n_hosts: int) -> str:
    """Zipf-skewed host choice (north rule: host skew is the norm).
    u^3 concentrates ~50% of URLs on ~12% of hosts."""
    u = _u(seed, k, 20)
    return host_name(int((u**3) * n_hosts))


def host_name(hid: int) -> str:
    """Host of host id ``hid``; each hid is its own REGISTRABLE domain
    (politeness is keyed on it)."""
    if hid % 17 == 3:
        return f"img.tracker{hid}.com"  # excluded-substring hosts (F2)
    if hid % 11 == 5:
        return f"media.pix{hid}.co.nz"  # multi-label registrable domain
    return f"cdn.host{hid}.com"


def url_row(seed: int, k: int, n_hosts: int, n_pages: int) -> dict:
    """One discoverable URL. Deliberate mess for the canonicalizer:
    uppercase scheme/host, default ports, dot segments, duplicate aliases;
    some relative URLs (guard F3), some 404/429 statuses, some robots-
    disallowed paths."""
    r = _u(seed, k, 21)
    host = host_for(seed, k, n_hosts)
    path_id = _mix(seed, k, 22) % max(n_pages, 1)
    path = f"/gallery/{path_id}/item"
    if r < 0.02:
        url = f"/relative/{path_id}"  # relative → guard drops it
    elif r < 0.05:
        url = f"HTTP://{host.upper()}:80{path}"  # canonicalizes to the plain alias
    elif r < 0.08:
        url = f"http://{host}/a/../{path.lstrip('/')}"  # dot-segment alias
    else:
        url = f"http://{host}{path}"
    # ~12% of URLs have no image behind them (wrong content type / 404)
    has_image = _u(seed, k, 23) > 0.12
    image_id = f"img-{(_mix(seed, k, 24) % n_pages):08d}" if has_image else None
    status = 200
    if not has_image:
        status = 404
    elif _u(seed, k, 25) < 0.01:
        status = 429
    robots_disallow = path_id % 13 == 7  # '/gallery/<id ≡ 7 mod 13>' disallowed
    return {
        "url_id": k,
        "url": url,
        "image_id": image_id,
        "status": int(status),
        "robots_disallow": bool(robots_disallow),
    }


def gen_link_graph(
    spark: SparkSession, seed: int, n_urls: int, n_hosts: int = N_HOSTS_DEFAULT, n_pages: int = 100
) -> DataFrame:
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield pd.DataFrame([url_row(seed, int(k), n_hosts, n_pages) for k in b["id"]])

    return spark.range(n_urls, numPartitions=_gen_parts(spark, n_urls, 4000)).mapInPandas(
        gen, LINKS_SCHEMA
    )


# --- discovery: search results + outlinks ---------------------------------------


def search_result_ids(seed: int, query_id: int, page: int, n_urls: int, per_page: int = 10) -> list[int]:
    """Reference analog: engine returns ~10 URLs per (query, page)
    (search.py:45,133). Deterministic: url ids drawn by hash."""
    return [
        _mix(seed, 31, query_id, page, rank) % n_urls for rank in range(per_page)
    ]


def outlink_ids(seed: int, url_id: int, n_urls: int, max_out: int = 5) -> list[int]:
    """Outlinks of a successfully fetched URL (depth dimension of the
    priority frontier; the reference has no recursive crawl — this is the
    north-rule extension)."""
    n = _mix(seed, 32, url_id) % (max_out + 1)
    return [_mix(seed, 33, url_id, i) % n_urls for i in range(n)]


OUTLINKS_SCHEMA = "url_id long, dst long"


def gen_outlinks(spark: SparkSession, seed: int, n_urls: int) -> DataFrame:
    """The (src url -> dst url) edge table. On real data this IS the input;
    here the synthetic per-row generator is quarantined in this fixture so
    the crawl engine's discovery step stays a plain distributed join."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = [
                {"url_id": int(k), "dst": int(d)}
                for k in b["id"]
                for d in outlink_ids(seed, int(k), n_urls)
            ]
            yield pd.DataFrame(rows, columns=["url_id", "dst"])

    return spark.range(n_urls, numPartitions=_gen_parts(spark, n_urls, 4000)).mapInPandas(
        gen, OUTLINKS_SCHEMA
    )


# --- robots fixtures --------------------------------------------------------------


def robots_row(hid: int) -> dict:
    """Robots entry of host id ``hid``: hosts with id ≡ 0 (mod 7) disallow
    /gallery/<id ≡ 7 mod 13>; hosts ≡ 0 (mod 5) declare a crawl delay."""
    return {
        "host": host_name(hid),
        "respect_disallow": hid % 7 == 0,
        "crawl_delay": 2.0 if hid % 5 == 0 else 0.0,
    }


def gen_robots_rows(seed: int, n_hosts: int) -> list[dict]:
    """The parsed robots cache rows of hosts 0..n_hosts-1."""
    return [robots_row(hid) for hid in range(n_hosts)]


def gen_robots(spark: SparkSession, seed: int, n_hosts: int = N_HOSTS_DEFAULT) -> DataFrame:
    return spark.createDataFrame(
        gen_robots_rows(seed, n_hosts), "host string, respect_disallow boolean, crawl_delay double"
    )


def render_robots_txt(host: str, respect_disallow: bool, crawl_delay: float, hid: int) -> str:
    """A realistic robots.txt BODY carrying the same facts as the cache
    row — with deterministic noise (comments, foreign-agent groups, Allow
    lines, mixed-case directives, stray blank lines) so the parser
    (operators/politeness.parse_robots_bodies) is exercised on messy
    input, not a canonical rendering. Round-trip parity is a test gate."""
    ua = "User-agent" if hid % 2 == 0 else "USER-AGENT"
    dis = "Disallow" if hid % 3 != 0 else "disallow"
    lines = [
        f"# robots.txt for {host}",
        "User-agent: MegaBot",
        "Disallow: /",
        "Crawl-delay: 99",
        "",
        f"{ua}: *",
    ]
    if respect_disallow:
        lines.append(f"{dis}: /gallery/   # galleries are off-limits")
    if crawl_delay:
        delay = int(crawl_delay) if float(crawl_delay).is_integer() else crawl_delay
        lines.append(f"Crawl-delay: {delay}")
    lines += ["Allow: /static/", ""]
    return "\n".join(lines)


def gen_robots_bodies(spark: SparkSession, seed: int, n_hosts: int = N_HOSTS_DEFAULT) -> DataFrame:
    """(host, body) robots.txt fetch results — the raw-source twin of
    gen_robots's parsed cache (reference: per-URL robotparser evaluation,
    lrl-crawler.py:173-182). Generated over ``spark.range`` like the
    other fixture tables, so two engines in one session build equal plans
    and the second one's robots cache is a CacheManager hit, not a
    re-parse."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = [(int(h), robots_row(int(h))) for h in b["id"]]
            yield pd.DataFrame(
                {
                    "host": [r["host"] for _, r in rows],
                    "body": [
                        render_robots_txt(r["host"], r["respect_disallow"], r["crawl_delay"], h)
                        for h, r in rows
                    ],
                },
                columns=["host", "body"],
            )

    return spark.range(n_hosts, numPartitions=_gen_parts(spark, n_hosts, 4000)).mapInPandas(
        gen, "host string, body string"
    )
