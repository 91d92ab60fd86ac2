"""Sequential single-process crawl oracle (SURVEY §5.2).

Re-derives the reference's crawl semantics (discovery → seen-set dedup →
politeness-budgeted fetch → scoring → outlink discovery) as plain Python
over the SAME pure fixture/row functions the Spark engine uses. The engine
must reproduce this oracle's per-round fetch ordering and final URL-seen
set exactly (BASELINE.json north rule: "crawl ordering and final URL-seen
set exact match under identical seeds + politeness budget").

Shared-kernel functions (fixtures rows, canonicalizer, xxh64, cosine,
quantizer) come from the engine package — the parity test therefore
validates the DISTRIBUTED ORCHESTRATION (joins, windows, anti-joins,
partitioning) against sequential semantics, with zero reimplementation
drift on scalar math.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from webcrawl_lowres_lang_spark.determinism import quantize9_py
from webcrawl_lowres_lang_spark.functions.hashing import xxh64_str
from webcrawl_lowres_lang_spark.functions.urls import (
    canonicalize_one,
    registrable_domain_one,
)
from webcrawl_lowres_lang_spark.operators.politeness import DEPTH_WEIGHT
from webcrawl_lowres_lang_spark.operators.scoring import LexiconVector
from webcrawl_lowres_lang_spark.sources import fixtures as fx
from webcrawl_lowres_lang_spark.sources.querygen import english_filter, gen_queries
from webcrawl_lowres_lang_spark.streaming.crawler import CrawlConfig


@dataclass
class OracleFetch:
    round: int
    seq: int
    url_id: int
    url_canon: str
    url_hash: int
    domain: str
    depth: int
    priority: float
    status: int
    image_id: str | None
    caption_score: float
    phash: int | None


@dataclass
class OracleState:
    fetches: list[OracleFetch] = field(default_factory=list)
    seen: set[int] = field(default_factory=set)
    blocked_domains: set[str] = field(default_factory=set)


class OracleCrawl:
    def __init__(self, cfg: CrawlConfig):
        self.cfg = cfg
        lex_rows = fx.gen_lexicon_rows(cfg.seed, cfg.n_lexicon_terms)
        english = {t for (t,) in fx.gen_english_lexicon_rows()}
        self.lex_rows = english_filter(lex_rows, english)
        self.lex = LexiconVector(dict(self.lex_rows))
        self.lex_words = [t for t, _ in self.lex_rows]
        self.queries = gen_queries(cfg.seed, self.lex_rows, cfg.query_count, cfg.word_count)
        self.robots = {r["host"]: r for r in fx.gen_robots_rows(cfg.seed, cfg.n_hosts)}
        self._url_cache: dict[int, dict] = {}
        self._caption_cache: dict[str, str] = {}

    # -- fixture row accessors (same pure functions as the engine) ----------

    def url_row(self, uid: int) -> dict:
        r = self._url_cache.get(uid)
        if r is None:
            r = fx.url_row(self.cfg.seed, uid, self.cfg.n_hosts, self.cfg.n_pages)
            self._url_cache[uid] = r
        return r

    def caption(self, image_id: str) -> str:
        c = self._caption_cache.get(image_id)
        if c is None:
            c = fx.caption_for(self.cfg.seed, image_id, self.lex_words)
            self._caption_cache[image_id] = c
        return c

    # -- discovery resolution (mirrors CrawlEngine._resolve_discoveries) -----

    def resolve(self, discoveries: list[tuple[int, int, float]]) -> list[dict]:
        """(url_id, depth, relevance) -> deduped frontier rows."""
        rows: dict[int, dict] = {}
        for uid, depth, rel in discoveries:
            link = self.url_row(uid)
            url = link["url"]
            if any(s in url for s in fx.EXCLUDED_SUBSTRINGS):
                continue
            canon = canonicalize_one(url)
            if canon is None:
                continue
            authority = canon.split("://", 1)[1].split("/", 1)[0].split("@")[-1]
            if authority.startswith("["):  # IPv6 literal: host keeps its brackets
                host = authority[: authority.index("]") + 1]
            else:
                host = authority.split(":")[0]
            row = {
                "url_id": uid,
                "url": url,
                "url_canon": canon,
                "url_hash": xxh64_str(canon),
                "host": host,
                "domain": registrable_domain_one(host),
                "depth": depth,
                "relevance": rel,
                "robots_disallow": link["robots_disallow"],
            }
            key = row["url_hash"]
            best = rows.get(key)
            if best is None or (depth, -rel, uid) < (best["depth"], -best["relevance"], best["url_id"]):
                rows[key] = row
        return list(rows.values())

    def filter_unseen(self, rows: list[dict], seen: set[int]) -> list[dict]:
        fresh = [r for r in rows if r["url_hash"] not in seen]
        seen.update(r["url_hash"] for r in fresh)
        return fresh

    # -- the crawl ------------------------------------------------------------

    def run(self) -> OracleState:
        cfg = self.cfg
        st = OracleState()
        seeds = []
        for qid in range(len(self.queries)):
            for page in range(cfg.num_search_pages):
                for uid in fx.search_result_ids(cfg.seed, qid, page, cfg.n_urls):
                    seeds.append((uid, 0, 0.0))
        frontier = self.filter_unseen(self.resolve(seeds), st.seen)

        for rnd in range(cfg.rounds):
            # priority + robots; rate-limited (429) domains held, not admitted
            pending, held = [], []
            for row in frontier:
                rb = self.robots.get(row["host"])
                if row["robots_disallow"] and rb and rb["respect_disallow"]:
                    continue  # consumed, never fetched
                if row["domain"] in st.blocked_domains:
                    held.append(row)
                    continue
                prio = quantize9_py(row["relevance"] - DEPTH_WEIGHT * float(row["depth"]))
                pending.append({**row, "priority": prio})

            # per-domain budget admission: (priority desc, url_hash asc)
            by_domain: dict[str, list[dict]] = {}
            for row in pending:
                by_domain.setdefault(row["domain"], []).append(row)
            admitted, deferred = [], []
            for dom, rows in by_domain.items():
                rows.sort(key=lambda r: (-r["priority"], r["url_hash"]))
                for i, row in enumerate(rows):
                    rb = self.robots.get(row["host"])
                    delay = rb["crawl_delay"] if rb else 0.0
                    budget = max(1, math.floor(cfg.host_budget / (1.0 + delay)))
                    (admitted if i < budget else deferred).append(row)

            # fetch in canonical order
            admitted.sort(key=lambda r: (-r["priority"], r["url_hash"]))
            discoveries: list[tuple[int, int, float]] = []
            for seq, row in enumerate(admitted, start=1):
                link = self.url_row(row["url_id"])
                status = link["status"]
                if status == 429:
                    st.blocked_domains.add(row["domain"])
                image_id, score, ph = None, 0.0, None
                if status == 200 and link["image_id"] is not None:
                    image_id = link["image_id"]
                    score = quantize9_py(self.lex.cosine(self.caption(image_id)))
                    k = int(image_id.split("-")[1])
                    ph = None  # phash parity checked separately (engine-side flags)
                    for dst in fx.outlink_ids(cfg.seed, row["url_id"], cfg.n_urls):
                        discoveries.append((dst, row["depth"] + 1, score))
                st.fetches.append(
                    OracleFetch(
                        round=rnd, seq=seq, url_id=row["url_id"],
                        url_canon=row["url_canon"], url_hash=row["url_hash"],
                        domain=row["domain"], depth=row["depth"],
                        priority=row["priority"], status=status,
                        image_id=image_id, caption_score=score, phash=ph,
                    )
                )

            fresh = self.filter_unseen(self.resolve(discoveries), st.seen)
            frontier = deferred + fresh + held
        return st

    def fetch_order(self) -> list[tuple[int, str]]:
        st = self.run()
        return [(f.round, f.url_canon) for f in st.fetches]


def expected_smoke_ledger_frame():
    """Expected fetch-ledger projection for the driver's crawl_round_smoke
    query, derived by running this sequential oracle under the SAME
    SMOKE_CFG the registered query uses. Written to tests/fixtures/
    crawl_smoke_expected.parquet (committed; drift-regen-gated in
    test_crawl_parity.py) and read by the query's DuckDB oracle SQL."""
    import pandas as pd

    from webcrawl_lowres_lang_spark.plans.crawl_ops import SMOKE_CFG

    st = OracleCrawl(CrawlConfig(**SMOKE_CFG)).run()
    df = pd.DataFrame(
        [
            {
                "round": f.round,
                "fetch_seq": f.seq,
                "url_canon": f.url_canon,
                "url_hash": f.url_hash,
                "domain": f.domain,
                "depth": f.depth,
                "priority": f.priority,
                "status": f.status,
                "image_id": f.image_id,
                "caption_score": f.caption_score,
            }
            for f in st.fetches
        ]
    )
    for c, t in (
        ("round", "int32"), ("fetch_seq", "int64"), ("url_hash", "int64"),
        ("depth", "int32"), ("status", "int32"),
        ("priority", "float64"), ("caption_score", "float64"),
    ):
        df[c] = df[c].astype(t)
    return df
