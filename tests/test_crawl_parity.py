"""Crawl-engine vs sequential-oracle parity (the north-rule correctness
gate): per-round fetch ORDERING exact match, final URL-seen set exact
match, per-row pixel/caption invariants, resume-from-checkpoint equivalence.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from webcrawl_lowres_lang_spark.functions.imaging import hamming64
from webcrawl_lowres_lang_spark.operators.neardup import suppress_near_dups
from webcrawl_lowres_lang_spark.operators.seen import SeenSet
from webcrawl_lowres_lang_spark.sources import fixtures as fx
from webcrawl_lowres_lang_spark.streaming.crawler import (
    CrawlConfig,
    CrawlEngine,
    fetch_order,
)

from .reference_oracle import OracleCrawl

CFG = CrawlConfig(
    seed=42,
    n_urls=800,
    n_pages=60,
    n_hosts=24,
    n_lexicon_terms=40,
    query_count=3,
    num_search_pages=2,
    host_budget=4,
    rounds=2,
    validate_pixels=True,
)


@pytest.fixture(scope="module")
def crawl(spark, tmp_path_factory):
    eng = CrawlEngine(spark, CFG, str(tmp_path_factory.mktemp("crawl") / "ckpt"))
    eng.run()
    oracle_state = OracleCrawl(CFG).run()
    return eng, oracle_state


def test_fetch_ordering_exact_match(crawl):
    eng, st = crawl
    engine_order = fetch_order(eng.ledger_df())
    oracle_order = [(f.round, f.url_canon) for f in st.fetches]
    assert len(engine_order) > 50, "crawl too small to be meaningful"
    assert engine_order == oracle_order


def test_final_seen_set_exact_match(crawl):
    eng, st = crawl
    engine_seen = {r["url_hash"] for r in eng.seen.load().select("url_hash").collect()}
    assert engine_seen == st.seen


def test_caption_scores_bit_identical(crawl):
    eng, st = crawl
    eng_scores = {
        (r["round"], r["url_hash"]): r["caption_score"]
        for r in eng.ledger_df().select("round", "url_hash", "caption_score").collect()
    }
    for f in st.fetches:
        assert eng_scores[(f.round, f.url_hash)] == f.caption_score, f.url_canon


def test_per_row_pixel_invariants(crawl):
    eng, _ = crawl
    ok = eng.ledger_df().filter((F.col("status") == 200) & F.col("image_id").isNotNull())
    assert ok.count() > 0
    assert ok.filter(~F.col("phash_ok")).count() == 0, "recomputed phash mismatch"
    bad_psnr = ok.filter(F.col("psnr_db") < 40.0).count()
    assert bad_psnr == 0, "per-row PSNR invariant violated"
    # lossless rows must be exact (inf PSNR)
    assert ok.filter((F.col("fmt") == "png") & ~F.isnan("psnr_db") & (F.col("psnr_db") < 1e9)).count() == 0


def test_politeness_budget_respected(crawl):
    eng, _ = crawl
    per_round_domain = (
        eng.ledger_df().groupBy("round", "domain").count().collect()
    )
    robots = {r["host"]: r for r in fx.gen_robots_rows(CFG.seed, CFG.n_hosts)}
    max_delay_budget = CFG.host_budget  # budget can only shrink with delay
    for row in per_round_domain:
        assert row["count"] <= max_delay_budget, (row["domain"], row["count"])


def test_near_dup_suppression_in_pipeline_matches_quadratic(crawl):
    """The IN-LEDGER dup_of column (wired into every round, cumulative
    across rounds) must equal a quadratic earliest-neighbor recomputation
    over the whole crawl in (round, fetch_seq) order."""
    eng, _ = crawl
    ledger = eng.ledger_df()
    eng_flags = {
        r["order_key"]: r["dup_of"]
        for r in ledger.select("order_key", "dup_of").collect()
    }
    rows = sorted(
        (
            (r["order_key"], r["phash"])
            for r in ledger.select("order_key", "phash").collect()
            if r["phash"] is not None
        ),
    )
    expected: dict[int, int | None] = {}
    for i, (ok_i, ph_i) in enumerate(rows):
        near = [ok_j for ok_j, ph_j in rows[:i] if hamming64(ph_j, ph_i) <= 4]
        expected[ok_i] = min(near) if near else None
    assert sum(v is not None for v in expected.values()) > 0, "fixture should contain near-dups"
    for k, v in expected.items():
        assert eng_flags[k] == v, f"suppression mismatch at order {k}: {eng_flags[k]} != {v}"
    # failed fetches (phash NULL) never get a verdict
    assert ledger.filter(F.col("phash").isNull() & F.col("dup_of").isNotNull()).count() == 0


def test_standalone_suppression_op_matches_pipeline(crawl):
    """suppress_near_dups applied to the full ledger in one pass ==
    the round-incremental pipeline column."""
    eng, _ = crawl
    ledger = eng.ledger_df()
    one_pass = suppress_near_dups(ledger.drop("dup_of"), "phash", "order_key")
    a = {r["order_key"]: r["dup_of"] for r in one_pass.select("order_key", "dup_of").collect()}
    b = {r["order_key"]: r["dup_of"] for r in ledger.select("order_key", "dup_of").collect()}
    assert a == b


def test_reject_and_label_columns(crawl):
    """S14/S16 rejected flag + F11 lang_label are in the ledger and obey
    their defining rules."""
    eng, _ = crawl
    led = eng.ledger_df()
    assert led.filter((F.col("status") != 200) & ~F.col("rejected")).count() == 0
    # fixture formats are all known -> successful fetches never rejected
    assert led.filter((F.col("status") == 200) & F.col("rejected")).count() == 0
    th, lang = CFG.cossim_threshold, CFG.lang
    mislabeled = led.filter(
        (F.col("status") == 200)
        & (
            ((F.col("caption_score") > th) & (F.col("lang_label") != lang))
            | ((F.col("caption_score") <= th) & (F.col("lang_label") != f"NON-{lang}"))
        )
    ).count()
    assert mislabeled == 0
    assert led.filter((F.col("status") != 200) & F.col("lang_label").isNotNull()).count() == 0


def test_rate_limit_blocks_domain(crawl):
    """T4: a 429 exhausts the domain for subsequent rounds (engine set ==
    oracle set; no fetches from a blocked domain after its block round)."""
    eng, st = crawl
    assert eng.blocked_domains == st.blocked_domains
    if not st.blocked_domains:
        pytest.skip("fixture produced no 429s at this size")
    first_429 = {}
    for f in st.fetches:
        if f.status == 429 and f.domain not in first_429:
            first_429[f.domain] = f.round
    for f in st.fetches:
        if f.domain in first_429:
            assert f.round <= first_429[f.domain], (f.domain, f.round)


def _no_rebuild(*_a, **_k):
    raise AssertionError("resume rebuilt the seen filter instead of loading its snapshot")


@pytest.mark.parametrize("kind", ["bloom", "cuckoo"])
def test_resume_equivalence(spark, tmp_path, monkeypatch, kind):
    """2 rounds + resume + 1 round == 3 straight rounds (north rule:
    resumable from snapshot checkpoints). The resume loads the committed
    filter snapshot: rebuilding the filter from ``url_seen`` fails the
    test, and the next round's metrics record the restore."""
    cfg2 = CrawlConfig(**{**CFG.__dict__, "rounds": 1, "validate_pixels": False,
                          "seen_filter": kind})
    d = str(tmp_path / "ck_resume")
    eng = CrawlEngine(spark, cfg2, d)
    eng.run()
    monkeypatch.setattr(SeenSet, "build_bloom", _no_rebuild)
    res = CrawlEngine.resume(spark, d)
    assert res.filter_restore == "snapshot"
    res.cfg.rounds = 1
    res.run(frontier=res.resumed_frontier())
    resumed_order = fetch_order(res.ledger_df())
    with open(os.path.join(d, f"metrics_round{res.round - 1}.json")) as f:
        assert json.load(f)["filter_restore"] == "snapshot"
    # the marker names the new snapshot; the older one is gone
    assert os.listdir(os.path.join(d, "seen_filter")) == [f"r{res.round - 1}.npz"]

    cfg3 = CrawlConfig(**{**cfg2.__dict__, "rounds": 2})
    straight = CrawlEngine(spark, cfg3, str(tmp_path / "ck_straight"))
    straight.run()
    assert resumed_order == fetch_order(straight.ledger_df())


def test_resume_after_crash_before_marker_rebuilds(spark, tmp_path):
    """A crash after round r+1's ``seen.add`` and before its marker leaves
    ``url_seen`` ahead of round r's filter snapshot. Resume must not load
    that stale snapshot (its missing keys would be pre-filter false
    negatives): it rebuilds, and every ``url_seen`` key is filter-positive.
    Oracle parity of the resumed crawl is not asserted here: rolling back
    the uncommitted append is the crash-consistent commit's job."""
    cfg = CrawlConfig(**{**CFG.__dict__, "rounds": 1, "validate_pixels": False})
    d = str(tmp_path / "ck_crash")
    eng = CrawlEngine(spark, cfg, d)
    eng.run()
    eng.run_round(eng.resumed_frontier())  # appends to url_seen; no _checkpoint
    res = CrawlEngine.resume(spark, d)
    assert res.round == 1
    assert res.filter_restore == "rebuild: version differs"
    keys = np.array(
        [r["url_hash"] for r in res.seen.load().select("url_hash").collect()], dtype=np.int64
    )
    assert len(keys) > res._seen_total  # the uncommitted append is in the table
    assert res.seen._bloom.might_contain(keys).all()


def _in_memory_relations(spark, df) -> list[int]:
    """Identity hashes of the cache entries the frame's optimized plan
    reads (one per InMemoryRelation leaf)."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    ident = spark._jvm.java.lang.System.identityHashCode
    return [
        ident(leaf.cacheBuilder())
        for leaf in (leaves.apply(i) for i in range(leaves.size()))
        if leaf.getClass().getSimpleName() == "InMemoryRelation"
    ]


def test_rounds_cut_at_barriers_and_release_them(spark, tmp_path):
    """The frames run_round returns read no cached frame but the four
    fixture tables (the round is cut at local checkpoints, not a cache
    spine), and each committed round frees its checkpoints: the context's
    persistent RDDs do not grow from one round to the next."""
    cfg = CrawlConfig(**{**CFG.__dict__, "rounds": 3, "validate_pixels": False})
    eng = CrawlEngine(spark, cfg, str(tmp_path / "ck"))
    fixtures = {
        i for df in (eng.links, eng.pages, eng.robots, eng.outlinks)
        for i in _in_memory_relations(spark, df)
    }
    assert len(fixtures) == 4
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    sizes, cached = [], []
    run_round = eng.run_round

    def checked_round(frontier):
        sizes.append(persistent().size())
        ledger, next_frontier = run_round(frontier)
        for df in (ledger, next_frontier):
            cached.extend(i for i in _in_memory_relations(spark, df) if i not in fixtures)
        return ledger, next_frontier

    eng.run_round = checked_round
    eng.run()
    sizes.append(persistent().size())
    assert cached == []
    # from round 1 on: round 0 starts before some fixture tables are built
    assert all(b <= a for a, b in zip(sizes[1:], sizes[2:])), sizes


def test_cuckoo_filter_crawl_identical(spark, tmp_path):
    """A crawl with the cuckoo URL-seen pre-filter produces a
    bit-identical ledger and seen set to the bloom crawl — the filter is
    a pure pre-filter; the exact table owns correctness."""
    from webcrawl_lowres_lang_spark.streaming.crawler import (
        CrawlConfig,
        CrawlEngine,
        fetch_order,
    )

    cfg = dict(
        seed=42, n_urls=800, n_pages=80, n_hosts=24, query_count=3,
        num_search_pages=2, host_budget=4, rounds=2, validate_pixels=False,
    )
    out = {}
    for kind in ("bloom", "cuckoo"):
        eng = CrawlEngine(
            spark, CrawlConfig(seen_filter=kind, **cfg), str(tmp_path / kind)
        )
        eng.run()
        out[kind] = (fetch_order(eng.ledger_df()), eng.seen.count())
    assert out["bloom"] == out["cuckoo"]


def test_ttl_expire_recrawl_cuckoo(spark, tmp_path):
    """END-TO-END TTL re-crawl (the cuckoo filter's reason to exist): after
    a 2-round crawl, expire one domain's fetched URLs; the next round must
    re-admit and re-fetch exactly those URLs — with seen_filter='cuckoo'
    the live filter drops their fingerprints in O(1) (no rebuild), and
    everything else stays seen. Deletes are driven from the exact table
    (SeenSet.expire semi-joins first), never from the filter itself."""
    from pyspark.sql import functions as F

    from webcrawl_lowres_lang_spark.streaming.crawler import CrawlConfig, CrawlEngine

    cfg = CrawlConfig(
        seed=42, n_urls=800, n_pages=80, n_hosts=24, query_count=3,
        num_search_pages=2, host_budget=50, rounds=2, validate_pixels=False,
        seen_filter="cuckoo",
    )
    eng = CrawlEngine(spark, cfg, str(tmp_path / "ck"))
    eng.run()
    led = eng.ledger_df().filter(F.col("status").isNotNull())
    dom = led.groupBy("domain").count().orderBy(F.desc("count"), "domain").first()["domain"]
    expired_rows = led.filter(F.col("domain") == dom).select(
        "url_id", "url_hash", "depth"
    ).cache()
    expired_hashes = {r["url_hash"] for r in expired_rows.collect()}
    assert len(expired_hashes) >= 2

    seen_before = eng.seen.count()
    removed = eng.expire_urls(expired_rows)
    assert removed == len(expired_hashes)
    assert eng.seen.count() == seen_before - removed

    # re-queue the expired URLs (the TTL scheduler's job) and run a round
    disc = expired_rows.select(
        "url_id", F.col("depth"), F.lit(0.0).alias("relevance")
    )
    resolved = eng._resolve_discoveries(disc)
    # materialized before seen.add, as run_round's "fresh" barrier is: the
    # lazy anti-join re-run after the append would find every row seen
    fresh = eng.seen.filter_unseen(resolved).localCheckpoint()
    refetch_hashes = {r["url_hash"] for r in fresh.select("url_hash").collect()}
    assert refetch_hashes == expired_hashes  # re-admitted, nothing else

    eng.seen.add(fresh.select("url_hash"), assume_new=True)
    start_round = eng.round
    # several rounds: per-HOST effective budgets (crawl_delay scaled) can
    # defer part of a multi-host domain's rows past the first round
    eng.run(frontier=fresh, rounds=4)
    refetched = {
        r["url_hash"]
        for r in eng.ledger_df()
        .filter(F.col("round") >= start_round)
        .select("url_hash")
        .collect()
    }
    # everything expired is re-fetched, and nothing else (all other
    # discoveries are still in the seen set)
    assert refetched == expired_hashes

    # a non-expired URL stays seen: filter_unseen drops it
    other = led.filter(F.col("domain") != dom).select("url_id", "url_hash", "depth").limit(5)
    still_seen = eng.seen.filter_unseen(eng._resolve_discoveries(
        other.select("url_id", "depth", F.lit(0.0).alias("relevance"))
    ))
    assert still_seen.count() == 0


def test_ttl_expire_bloom_requires_rebuild(spark, tmp_path, monkeypatch):
    """The Bloom path supports expire too, but by REBUILDING the filter
    from the rewritten exact table (bits cannot be cleared) — the
    documented cost the cuckoo path avoids."""
    from pyspark.sql import functions as F

    from webcrawl_lowres_lang_spark.streaming.crawler import CrawlConfig, CrawlEngine

    cfg = CrawlConfig(
        seed=42, n_urls=400, n_pages=40, n_hosts=12, query_count=2,
        num_search_pages=2, host_budget=8, rounds=1, validate_pixels=False,
        seen_filter="bloom",
    )
    eng = CrawlEngine(spark, cfg, str(tmp_path / "ck"))
    eng.run()
    led = eng.ledger_df().filter(F.col("status").isNotNull())
    rows = led.select("url_id", "url_hash", "depth").limit(3).cache()
    hashes = {r["url_hash"] for r in rows.collect()}
    removed = eng.expire_urls(rows)
    assert removed == len(hashes)
    fresh = eng.seen.filter_unseen(eng._resolve_discoveries(
        rows.select("url_id", "depth", F.lit(0.0).alias("relevance"))
    ))
    assert {r["url_hash"] for r in fresh.select("url_hash").collect()} == hashes
    # the expiry wrote the committed filter snapshot again for the
    # rewritten table, so a resume still loads it, and rewrote the marker's
    # seen_total, so the resumed count is the table's
    res = CrawlEngine.resume(spark, str(tmp_path / "ck"))
    assert res.filter_restore == "snapshot"
    assert res._seen_total == eng._seen_total == res.seen.count()
    # a crash after the marker rewrite but before the snapshot write: the
    # stale snapshot is rebuilt, and the count is still the table's
    more = led.filter(~F.col("url_hash").isin(list(hashes))).select("url_hash").limit(1)

    def crash(r):
        raise RuntimeError("crash before the snapshot write")

    monkeypatch.setattr(eng, "_save_filter_snapshot", crash)
    with pytest.raises(RuntimeError):
        eng.expire_urls(more)
    res = CrawlEngine.resume(spark, str(tmp_path / "ck"))
    assert res.filter_restore == "rebuild: version differs"
    assert res._seen_total == eng._seen_total == res.seen.count()


def test_smoke_ledger_fixture_in_sync():
    """The committed crawl_round_smoke oracle fixture (tests/fixtures/
    crawl_smoke_expected.parquet) must equal a fresh regeneration of the
    sequential oracle under SMOKE_CFG — a drift guard so the driver's
    hash-checked crawl oracle can never silently pin stale expectations.
    Regen: tests.reference_oracle.expected_smoke_ledger_frame().to_parquet(
    'tests/fixtures/crawl_smoke_expected.parquet', index=False)."""
    import pandas as pd

    from .reference_oracle import expected_smoke_ledger_frame

    committed = pd.read_parquet("tests/fixtures/crawl_smoke_expected.parquet")
    pd.testing.assert_frame_equal(committed, expected_smoke_ledger_frame())
