"""Output check for every benchmark crawl, run outside the timed region.

The engine's ledger order ``(round, fetch_seq, url_canon)`` and its final
seen ``url_hash`` set must equal the sequential oracle's
(``tests/reference_oracle.OracleCrawl``) for the same config, and every
round must fetch at least one row. The benchmark's plan ends by expiring
one domain's round-0 fetches from the seen set, so the expected seen set
is the oracle's minus those URLs.
"""

from __future__ import annotations

import time
from collections import Counter
from dataclasses import dataclass, replace

from tests.reference_oracle import OracleCrawl, OracleState


@dataclass
class Expected:
    order: list[tuple[int, int, str]]
    seen: set[int]
    expired: set[int]
    oracle_s: float


def expired_hashes(st: OracleState) -> set[int]:
    """One domain's round-0 fetches: the domain with the most of them
    (ties broken by name) - the TTL re-crawl the plan applies."""
    counts = Counter(f.domain for f in st.fetches if f.round == 0)
    dom = min(counts, key=lambda d: (-counts[d], d))
    return {f.url_hash for f in st.fetches if f.round == 0 and f.domain == dom}


def expected(cfg) -> Expected:
    """The oracle's outputs for the benchmark plan (the crawl, then the
    expiry), and its wall time (the single-process baseline recorded beside
    each run)."""
    t0 = time.perf_counter()
    st = OracleCrawl(cfg).run()
    oracle_s = time.perf_counter() - t0
    expired = expired_hashes(st)
    order = [(f.round, f.seq, f.url_canon) for f in st.fetches]
    return Expected(order, st.seen - expired, expired, oracle_s)


def before_expiry(exp: Expected) -> Expected:
    """The oracle's outputs for the plan's crawl alone, without the expiry."""
    return replace(exp, seen=exp.seen | exp.expired, expired=set())


def problems(
    order: list[tuple[int, int, str]], seen: set[int], exp: Expected, rounds: int
) -> list[str]:
    """Every way the engine's outputs differ from the oracle's; empty when
    the crawl is correct."""
    out = []
    if order != exp.order:
        first = next(
            (i for i, (a, b) in enumerate(zip(order, exp.order)) if a != b),
            min(len(order), len(exp.order)),
        )
        out.append(
            f"ledger order differs at row {first}: engine {len(order)} rows, "
            f"oracle {len(exp.order)} rows"
        )
    if seen != exp.seen:
        out.append(
            f"seen set differs: {len(seen - exp.seen)} extra, {len(exp.seen - seen)} missing"
        )
    per_round = Counter(r for r, _, _ in order)
    empty = [r for r in range(rounds) if per_round[r] == 0]
    if empty:
        out.append(f"rounds fetched nothing: {empty}")
    return out


def engine_outputs(eng) -> tuple[list[tuple[int, int, str]], set[int]]:
    """(ledger order, seen url_hash set) read back from an engine's tables."""
    rows = eng.ledger_df().select("round", "fetch_seq", "url_canon").collect()
    order = sorted((r["round"], r["fetch_seq"], r["url_canon"]) for r in rows)
    seen = {r["url_hash"] for r in eng.seen.load().select("url_hash").collect()}
    return order, seen
