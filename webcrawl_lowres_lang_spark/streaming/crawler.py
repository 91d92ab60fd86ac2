"""The crawl engine: frontier -> politeness -> fetch -> score -> discover,
as an iterative-batch loop (reference stages ``lrl-crawler.py:571-660``
re-expressed; the reference's threads+SQLite become DataFrame rounds with
snapshot checkpoints).

One round =
  1. prioritize pending frontier (relevance − depth penalty)
  2. robots filter (broadcast cache) + per-domain budget admission
     (virtual-time token buckets — no executor sleeps)
  3. fetch+validate admitted rows against the synthetic web
     (joins + Arrow-batch decode; status/PSNR/phash checks)
  4. caption relevance scoring (broadcast lexicon, pandas UDF)
  5. assign the round's canonical fetch order
     (priority DESC, url_hash ASC — total and partition-invariant)
  6. discover outlinks -> exclusion filter -> canonicalize (one Arrow
     pass over the discovered rows) -> batch dedup -> one exact seen-set
     anti-join -> append to frontier; add to seen set (and its filter)
  7. checkpoint: ledger/frontier parquet snapshots, a snapshot of the live
     seen filter tagged with the ``url_seen`` version it covers, then the
     metrics JSON with per-partition lineage (north rule resumability);
     the metrics file is the round's commit marker and names the filter
     snapshot, which ``resume`` loads instead of rebuilding the filter

State tables mirror FIXTURES.md §5: frontier / url_seen / ledger.
Everything is a pure function of (seed, fixture sizes, budget), so two
runs — or two cluster sizes — produce identical ledgers (parity-tested
against the sequential oracle in tests/reference_oracle.py).
"""

from __future__ import annotations

import json
import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import asdict, dataclass

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..determinism import quantize9
from ..functions.urls import with_url_keys
from ..operators.bloom import BloomConfig
from ..operators.fetch import fetch_and_validate, sniff_reject
from ..operators.neardup import suppress_near_dups
from ..operators.ordering import with_global_sequence
from ..operators.politeness import (
    admit_per_domain,
    parse_robots_bodies,
    robots_filter,
    with_priority,
)
from ..operators.scoring import LexiconVector, relevance_udf, threshold_classify
from ..operators.seen import SeenSet
from ..sources import fixtures as fx
from ..sources.querygen import english_filter, gen_queries
from ..sources.tablestore import append_table, overwrite_table, read_table, table_exists

DISCOVERY_SCHEMA = "url_id long, depth int, relevance double"


@dataclass
class CrawlConfig:
    seed: int = 42
    n_urls: int = 2000
    n_pages: int = 200
    n_hosts: int = 40
    n_lexicon_terms: int = 48
    query_count: int = 4
    word_count: int = 3
    num_search_pages: int = 2
    host_budget: int = 5
    rounds: int = 3
    validate_pixels: bool = True
    bloom_capacity: int = 1_000_000
    # F11 full-page labeling (reference nlp.py:403-416): caption relevance
    # above the cossim threshold -> lang label, else NON-<lang>
    lang: str = "LRL"
    cossim_threshold: float = 0.5
    # phash near-duplicate suppression distance (north rule)
    near_dup_max_hamming: int = 4
    # URL-seen filter kept beside the exact table: "bloom" or "cuckoo"
    # (north rule names both; results identical — exactness is owned by
    # the backing table — cuckoo additionally supports O(1) deletion for
    # TTL re-crawl)
    seen_filter: str = "bloom"


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        config: CrawlConfig,
        checkpoint_dir: str,
        lexicon_rows: list[tuple[str, int]] | None = None,
    ):
        """``lexicon_rows`` overrides the fixture-derived lexicon — the T2
        bootstrap loop passes the phase-(n) grown lexicon here so phase
        (n+1) really crawls with regenerated queries and scoring
        (reference: DH2025-TONGAN-EXPT-PHASE02-GENURLS.sh). The English
        anti-join (J7, queries.py:57-70) applies to overrides too, exactly
        as the reference's regenerated dictionaries go through query-gen."""
        self.spark = spark
        self.cfg = config
        self.dir = checkpoint_dir
        os.makedirs(checkpoint_dir, exist_ok=True)

        c = config
        lex_rows = (
            fx.gen_lexicon_rows(c.seed, c.n_lexicon_terms)
            if lexicon_rows is None
            else [(str(t), int(f)) for t, f in lexicon_rows]
        )
        english = {t for (t,) in fx.gen_english_lexicon_rows()}
        self.lex_rows = english_filter(lex_rows, english)
        self.lex = LexiconVector(dict(self.lex_rows))
        self.queries = gen_queries(c.seed, self.lex_rows, c.query_count, c.word_count)
        self.score_udf = relevance_udf(spark, self.lex)

        # fixture tables: built once, cached — the closed "web"
        self.links = fx.gen_link_graph(spark, c.seed, c.n_urls, c.n_hosts, c.n_pages).cache()
        self.pages = fx.gen_pages(spark, c.seed, c.n_pages, [t for t, _ in self.lex_rows]).cache()
        # the politeness cache is PARSED from raw robots.txt bodies (S21/
        # U9 production path — reference lrl-crawler.py:173-182); the
        # parser's round-trip vs the parsed fixture is its own test gate
        self.robots = parse_robots_bodies(
            fx.gen_robots_bodies(spark, c.seed, c.n_hosts)
        ).cache()
        # materialize eagerly: the admission path's broadcast hint is
        # size-GATED (politeness.maybe_broadcast), and a materialized
        # InMemoryRelation gives Catalyst exact bytes instead of a
        # mapInPandas guess — one tiny job per crawl, not per round
        self.robots.count()
        self.outlinks = fx.gen_outlinks(spark, c.seed, c.n_urls).cache()

        self.seen = SeenSet(
            spark,
            os.path.join(checkpoint_dir, "url_seen"),
            n_buckets=16,
            bloom_config=BloomConfig(capacity=c.bloom_capacity, fpp=0.01, num_shards=16),
            filter_kind=c.seen_filter,
        )
        self.seen._phase_cb = self._label  # driver-side profile attribution
        self.phase_wall: list[tuple[str, float]] = []
        self.round = 0
        self.metrics: list[dict] = []
        # how resume() got the live filter: "snapshot" or "rebuild: <reason>"
        self.filter_restore: str | None = None
        self._seen_total = 0  # running counter — avoids a store scan per round
        # T4 rate-limit semantics: a 429 from a domain exhausts its budget
        # for the REST OF THE CRAWL (reference: stop_event on HTTP 429,
        # lrl-crawler.py:280-291, generalized per-domain instead of
        # whole-crawl). Rows of blocked domains stay queued, never admitted.
        self.blocked_domains: set[str] = set()

    def _label(self, phase: str) -> None:
        """Job label for the UI/REST (guide: label your jobs); phase
        timings in the sandbox are attributed by these descriptions.
        ``phase_wall`` records the label-switch timestamps so driver-side
        time BETWEEN jobs is attributable too (REST job spans only cover
        submitted jobs)."""
        self.phase_wall.append((phase, time.monotonic()))
        self.spark.sparkContext.setJobDescription(f"crawl:{phase}")

    # -- discovery plumbing ---------------------------------------------------

    def _resolve_discoveries(self, disc: DataFrame) -> DataFrame:
        """(url_id, depth, relevance) -> full frontier rows: join the link
        graph for the raw URL, exclusion-filter, canonicalize, guard,
        batch-dedup. Dedup keeps (min depth, max relevance, min url_id) per
        url_hash — a total order, so partition-invariant. The keys pass
        (``with_url_keys``) runs above the join, once per discovered row
        that survives the JVM-side exclusion filter; the link graph itself
        never goes through Python."""
        links = self.links.select("url_id", "url", "robots_disallow")
        d = disc.join(links, "url_id")
        excl = F.array(*[F.lit(s) for s in fx.EXCLUDED_SUBSTRINGS])
        d = d.filter(~F.exists(excl, lambda s: F.col("url").contains(s)))  # F2 substring
        d = with_url_keys(d)  # url_canon, host, domain, url_hash, md5_hash
        d = d.filter(F.col("url_canon").isNotNull())  # relative-URL guard (F3)
        w = Window.partitionBy("url_hash").orderBy(
            F.asc("depth"), F.desc("relevance"), F.asc("url_id")
        )
        d = d.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")
        return d.select(
            "url_id", "url", "url_canon", "url_hash", "host", "domain",
            "depth", "relevance", "robots_disallow",
        )

    def seed_frontier(self) -> DataFrame:
        """Round-0 seeds: every (query, page) search slot's result URLs
        (reference: search_and_fetch, lrl-crawler.py:257-319)."""
        c = self.cfg
        self._label("seed")
        rows = []
        for qid in range(len(self.queries)):
            for page in range(c.num_search_pages):
                for uid in fx.search_result_ids(c.seed, qid, page, c.n_urls):
                    rows.append((uid, 0, 0.0))
        # from pandas, so the rows reach the JVM as Arrow batches: a frame
        # parallelized from a Python list is a Python RDD, whose runner
        # chains into the keys pass's Python runner inside every task
        disc = self.spark.createDataFrame(
            pd.DataFrame(rows, columns=["url_id", "depth", "relevance"]), DISCOVERY_SCHEMA
        )
        # barrier, taken before seen.add changes the set (see run_round)
        fresh = self.seen.filter_unseen(self._resolve_discoveries(disc)).localCheckpoint()
        self._seen_total += self.seen.add(fresh.select("url_hash"), assume_new=True)
        return fresh

    def _discover_outlinks(self, fetched: DataFrame) -> DataFrame:
        """Successful fetches yield outlink discoveries carrying the
        parent's caption relevance and depth+1 (priority frontier inputs).

        A plain equi-join against the outlinks edge table — the real-data
        shape (the synthetic edge generator lives in fixtures, not here)."""
        src = fetched.filter(
            (F.col("status") == 200) & F.col("image_id").isNotNull()
        ).select("url_id", "depth", "caption_score")
        return src.join(self.outlinks, "url_id").select(
            F.col("dst").alias("url_id"),
            (F.col("depth") + 1).cast("int").alias("depth"),
            F.col("caption_score").alias("relevance"),
        )

    # -- one round -------------------------------------------------------------

    def run_round(self, frontier: DataFrame) -> tuple[DataFrame, DataFrame]:
        """-> (ledger_with_order, next_frontier)

        ORDERING CONTRACT: callers driving rounds manually (tests,
        alternative drivers) must call ``_checkpoint(ledger, frontier)``
        between ``run_round`` calls — T4's "a 429-limited domain is
        exhausted for the rest of the crawl" is applied there (the 429
        domain set is observed on the checkpoint's ledger write, then
        folded into ``self.blocked_domains`` before the next round's
        admission reads it). Skipping the checkpoint silently drops that
        semantics; ``run()`` always interleaves them."""
        c = self.cfg
        self._label(f"r{self.round}:admission")
        p = with_priority(frontier)
        p = robots_filter(p, self.robots)
        if self.blocked_domains:
            # broadcast-join, not a literal array: plan size stays constant
            # as the blocked set grows over a long crawl
            blocked_df = F.broadcast(
                self.spark.createDataFrame(
                    [(d,) for d in sorted(self.blocked_domains)], "domain string"
                )
            )
            held = p.join(blocked_df, "domain", "left_semi")
            p_active = p.join(blocked_df, "domain", "left_anti")
        else:
            held = None
            p_active = p
        admitted, deferred = admit_per_domain(p_active, self.robots, c.host_budget)

        self._label(f"r{self.round}:fetch+score")
        scored = fetch_and_validate(admitted, self.links, self.pages, c.seed, c.validate_pixels)
        scored = scored.withColumn(
            "caption_score",
            F.when(F.col("caption").isNotNull(), quantize9(self.score_udf(F.col("caption"))))
            .otherwise(F.lit(0.0)),
        )
        # canonical fetch order WITHOUT a single-partition window: range
        # partition on the sort key, per-partition row_number + offsets
        self._label(f"r{self.round}:sequence")
        ledger = with_global_sequence(scored, [F.desc("priority"), F.asc("url_hash")], "fetch_seq")
        # order_key headroom: 10^12 fetches per round before collision
        # (fetch_seq is long; int32 or a 10^6 stride would cap a large
        # cluster's round size)
        ledger = ledger.withColumn("round", F.lit(self.round)).withColumn(
            "order_key",
            (F.col("round").cast("long") * F.lit(1_000_000_000_000) + F.col("fetch_seq")),
        )
        # S14/S16: unknown content type (or failed fetch) -> rejected flag
        ledger = sniff_reject(ledger)
        # F11: full-page language labeling from the relevance score
        ledger = ledger.withColumn(
            "lang_label",
            F.when(
                F.col("status") == 200,
                threshold_classify(F.col("caption_score"), c.lang, c.cossim_threshold),
            ),
        )
        self._label(f"r{self.round}:neardup")
        # barrier "ledger": discovery and all three checkpoint writes start
        # from this one materialized copy
        ledger = self._with_near_dup_flags(ledger).localCheckpoint()

        self._label(f"r{self.round}:discover")
        disc = self._discover_outlinks(ledger)
        # barrier "fresh": materialized BEFORE seen.add appends these hashes;
        # a lazy re-run of the anti-join after the append would test the
        # round's new URLs against a set that now holds them. The append
        # and the next frontier read this copy.
        fresh = self.seen.filter_unseen(self._resolve_discoveries(disc)).localCheckpoint()
        self._label(f"r{self.round}:seen-add")
        self._seen_total += self.seen.add(fresh.select("url_hash"), assume_new=True)

        # 429-domain discovery rides the checkpoint write's Observation
        # (no extra job here); _checkpoint updates self.blocked_domains
        # before the next round's admission reads it.

        next_frontier = deferred.select(*fresh.columns).unionByName(fresh)
        if held is not None:
            next_frontier = next_frontier.unionByName(held.select(*fresh.columns))
        return ledger, next_frontier

    def _reps_path(self) -> str:
        return os.path.join(self.dir, "neardup_reps")

    def _reps_exists(self) -> bool:
        return table_exists(self._reps_path())

    def _with_near_dup_flags(self, ledger: DataFrame) -> DataFrame:
        """phash near-dup suppression wired into the round (north rule):
        ``dup_of`` = order_key of the earliest near-duplicate across ALL
        rounds so far. The prior-rounds side is the MAINTAINED
        phash-representative side table (one slim (order_key, phash) row
        per distinct phash ever fetched, appended per round by
        ``_checkpoint``) — a bounded read that replaces the round-2 full
        ledger re-scan, whose O(R) read volume per round grew round
        latency with crawl history. Representatives are lossless for new
        rows' verdicts: the earliest near neighbor of any row is always an
        exact-phash representative (a non-rep's exemplar is earlier and
        equally near), which is the same argument suppress_near_dups
        itself uses for its exact-dup collapse.

        The suppression runs over the slim (order_key, phash) frame and the
        verdict joins back to the wide ledger by order_key — never dragging
        ledger columns through the band shuffles."""
        slim = ledger.select("order_key", "phash")
        if self._reps_exists():
            slim = slim.unionByName(
                read_table(self.spark, self._reps_path()).select("order_key", "phash")
            )
        flagged = suppress_near_dups(
            slim, "phash", "order_key", self.cfg.near_dup_max_hamming
        ).select("order_key", "dup_of")
        return ledger.join(flagged, "order_key", "left")

    # -- full run with checkpoints ------------------------------------------------

    def run(self, frontier: DataFrame | None = None, rounds: int | None = None) -> None:
        """Run ``rounds`` crawl rounds (default: the configured total).
        A resumed engine passes ``frontier=resumed_frontier()`` and the
        number of REMAINING rounds."""
        persistent = self.spark.sparkContext._jsc.getPersistentRDDs
        before = set(persistent().keys())
        if frontier is None:
            self.seen.enable_empty_bloom()
            frontier = self.seed_frontier()
        for _ in range(self.cfg.rounds if rounds is None else rounds):
            ledger, frontier = self.run_round(frontier)
            self._checkpoint(ledger, frontier)
            # CUT LINEAGE: continue from the materialized snapshot, not
            # the in-memory plan — otherwise round N re-executes rounds
            # 1..N-1 inside every action (measured 10x+ blowup by round
            # 3). This is exactly what Iceberg snapshot-per-round gives
            # on a cluster.
            self._label(f"r{self.round}:reload")
            frontier = read_table(
                self.spark, os.path.join(self.dir, f"frontier/r{self.round}")
            )
            # the round is committed: free its barriers' blocks (the
            # seed's too), which DataFrame.unpersist() does not reach
            for rid, rdd in persistent().items():
                if rid not in before and rdd.rdd().isLocallyCheckpointed():
                    rdd.unpersist(False)
            self.round += 1

    def _checkpoint(self, ledger: DataFrame, frontier: DataFrame) -> None:
        r = self.round
        self._label(f"r{r}:ckpt-prep")
        # fetch metrics + 429-domain discovery ride the snapshot write as
        # an Observation — zero extra jobs (the round-2 formulation spent
        # one agg job on the written parquet plus a distinct/collect on the
        # cached ledger for the 429 set, ~2 jobs/round of pure scheduling)
        obs = Observation(f"ledger_r{r}")
        led_obs = ledger.observe(
            obs,
            F.count(F.lit(1)).alias("fetched"),
            F.sum(F.when(F.col("status") == 200, 1).otherwise(0)).alias("ok"),
            F.collect_set(F.when(F.col("status") == 429, F.col("domain"))).alias("limited"),
        )
        # maintain the phash-representative side table: one (order_key,
        # phash) row per phash value first seen this round (order_keys are
        # monotone in round, so appends never supersede an existing rep).
        # Derived from the materialized ledger — re-reading the
        # just-written parquet cost a second full-ledger scan per round
        # (the r3 formulation); the prior-reps anti-join side stays a lazy
        # slim parquet scan inside this one append job.
        new_reps = (
            ledger.filter(F.col("phash").isNotNull())
            .groupBy("phash")
            .agg(F.min("order_key").alias("order_key"))
        )
        if self._reps_exists():
            prior = read_table(self.spark, self._reps_path()).select("phash")
            new_reps = new_reps.join(prior, "phash", "left_anti")

        # The three snapshot writes are INDEPENDENT — disjoint target
        # paths, the ledger and the frontier's fresh rows read from the
        # round's barriers — so they overlap in a small
        # thread pool (guide §2.6: actions are only sequential because the
        # driver calls them sequentially; FIFO scheduling back-fills one
        # write's task tail with the next write's tasks). State mutations
        # (Observation read, blocked_domains fold) happen strictly after
        # the joins below, so round semantics and the parity ordering
        # contract are unchanged. Job descriptions are thread-local: each
        # writer labels its own jobs.
        # plain subdirs (not round= partition dirs): the round column is
        # already stored in the files; a partition dir would duplicate it
        def _write_ledger() -> None:
            self._label(f"r{r}:ckpt-ledger")
            overwrite_table(led_obs, os.path.join(self.dir, f"ledger/r{r}"))

        def _write_frontier() -> None:
            self._label(f"r{r}:ckpt-frontier")
            overwrite_table(frontier, os.path.join(self.dir, f"frontier/r{r}"))

        def _write_reps() -> None:
            self._label(f"r{r}:ckpt-reps")
            append_table(new_reps.select("order_key", "phash"), self._reps_path())

        self._label(f"r{r}:ckpt-writes")
        with ThreadPoolExecutor(max_workers=3) as pool:
            futs = [pool.submit(fn) for fn in (_write_ledger, _write_frontier, _write_reps)]
            for fut in futs:
                fut.result()  # propagate the first failure
        self._label(f"r{r}:ckpt-obs")
        led_stats = obs.get
        # T4: domains rate-limited this round are exhausted from now on —
        # updated HERE (post-join), before the next round's admission runs
        self.blocked_domains |= set(led_stats["limited"] or [])
        # per-partition lineage + frontier metrics (north rule) from the
        # WRITTEN snapshot's parquet footers — zero Spark jobs (each file
        # is one writer task's output; row counts come from file metadata,
        # exactly what an Iceberg snapshot's manifest records per file)
        self._label(f"r{r}:ckpt-meta")
        parts = _parquet_file_rows(os.path.join(self.dir, f"frontier/r{r}"))
        self._label(f"r{r}:ckpt-filter")
        snapshot = self._save_filter_snapshot(r)
        m = {
            "round": r,
            "fetched": int(led_stats["fetched"]),
            "fetched_ok": int(led_stats["ok"] or 0),
            "frontier_pending": int(sum(c for _, c in parts)),
            "seen_total": self._seen_total,
            "partitions": parts,
            "blocked_domains": sorted(self.blocked_domains),
            "config": asdict(self.cfg),
            # the EFFECTIVE lexicon (incl. a bootstrap phase's grown
            # override) — resume() must crawl with the same queries and
            # scoring, not silently revert to the fixture seed lexicon
            "lexicon_rows": [[t, int(f)] for t, f in self.lex_rows],
            "seen_filter_snapshot": snapshot,
        }
        if self.filter_restore and not self.metrics:  # first round after resume
            m["filter_restore"] = self.filter_restore
        self.metrics.append(m)
        self._write_marker(r, m)
        # only now, with the marker naming the new snapshot on disk, may the
        # snapshots of earlier rounds go
        snap_dir = os.path.join(self.dir, "seen_filter")
        for n in os.listdir(snap_dir):
            if os.path.join("seen_filter", n) != snapshot:
                os.remove(os.path.join(snap_dir, n))

    def _write_marker(self, r: int, m: dict) -> None:
        """Write round ``r``'s commit marker ``metrics_round{r}.json``
        (temp file + rename, so a reader never sees a partial marker)."""
        path = os.path.join(self.dir, f"metrics_round{r}.json")
        with open(path + ".tmp", "w") as f:
            json.dump(m, f, indent=1)
        os.replace(path + ".tmp", path)

    def _save_filter_snapshot(self, r: int) -> str:
        """Snapshot the live seen filter as committed round ``r``'s; returns
        its path relative to the checkpoint dir."""
        rel = os.path.join("seen_filter", f"r{r}.npz")
        os.makedirs(os.path.join(self.dir, "seen_filter"), exist_ok=True)
        self.seen.save_snapshot(os.path.join(self.dir, rel))
        return rel

    # -- TTL re-crawl ----------------------------------------------------------

    def expire_urls(self, rows: DataFrame) -> int:
        """TTL re-crawl / host retraction: drop the given rows' url_hashes
        from the seen set so a later round re-admits them (drive with the
        ledger rows to refetch, e.g. one host's URLs past their TTL). With
        ``seen_filter='cuckoo'`` the live filter drops fingerprints in
        O(1); the Bloom path rebuilds the filter from the rewritten exact
        table (see SeenSet.expire). Reference analog: the bulk reset ops
        (sql.py:312-334) that re-queue already-handled URLs.

        The expiry rewrites ``url_seen``, so the last committed round's
        marker is rewritten with the lowered ``seen_total``, which resume
        reads, and then that round's filter snapshot, which no longer
        covers the table, is written again (same file; both temp +
        rename). A crash between the two leaves a snapshot whose version
        differs, which resume rebuilds, beside the right count. A crash
        between the table rewrite and the marker leaves the old count,
        as a crash between ``seen.add`` and a round's marker does
        (ROADMAP item 1)."""
        removed = self.seen.expire(rows.select("url_hash"))
        self._seen_total -= removed
        if removed and self.round > 0:
            r = self.round - 1
            with open(os.path.join(self.dir, f"metrics_round{r}.json")) as f:
                m = json.load(f)
            self._write_marker(r, {**m, "seen_total": self._seen_total})
            self._save_filter_snapshot(r)
        return removed

    # -- resume ---------------------------------------------------------------------

    @classmethod
    def resume(cls, spark: SparkSession, checkpoint_dir: str) -> "CrawlEngine":
        """Rebuild engine state from the latest checkpoint: config + round
        from metrics, frontier from the last snapshot, and the live seen
        filter from the filter snapshot the metrics file names. The
        snapshot is loaded only if its filter config and ``url_seen``
        version match the live ones; otherwise (no snapshot, another
        config, or a table that moved on, as after a crash between
        ``seen.add`` and the marker) the filter is rebuilt from the exact
        table. ``filter_restore`` records which, and why. Continue with
        ``run(frontier=resumed)``."""
        rounds = sorted(
            int(n.split("metrics_round")[1].split(".")[0])
            for n in os.listdir(checkpoint_dir)
            if n.startswith("metrics_round") and n.endswith(".json")
        )
        if not rounds:
            raise ValueError(f"no checkpoints in {checkpoint_dir}")
        last = rounds[-1]
        with open(os.path.join(checkpoint_dir, f"metrics_round{last}.json")) as f:
            meta = json.load(f)
        lex_rows = meta.get("lexicon_rows")
        eng = cls(
            spark,
            CrawlConfig(**meta["config"]),
            checkpoint_dir,
            lexicon_rows=[(t, int(f)) for t, f in lex_rows] if lex_rows else None,
        )
        eng.round = last + 1
        eng.blocked_domains = set(meta.get("blocked_domains", []))
        eng._seen_total = int(meta.get("seen_total", 0))
        snapshot = meta.get("seen_filter_snapshot")
        eng.filter_restore = eng.seen.restore(
            os.path.join(checkpoint_dir, snapshot) if snapshot else None
        )
        return eng

    def resumed_frontier(self) -> DataFrame:
        return read_table(self.spark, os.path.join(self.dir, f"frontier/r{self.round - 1}"))

    def ledger_df(self) -> DataFrame:
        return read_table(self.spark, os.path.join(self.dir, "ledger/r*"))


def _parquet_file_rows(path: str) -> list[tuple[int, int]]:
    """[(file_index, num_rows)] for a written snapshot dir, straight from
    parquet footers — the driver-side metadata read Iceberg manifests give
    for free; no Spark job. Files sort by name (part-00000… encodes the
    writer task id), so the index is the writer-partition id."""
    import pyarrow.parquet as pq

    files = sorted(n for n in os.listdir(path) if n.endswith(".parquet"))
    return [
        (i, pq.ParquetFile(os.path.join(path, n)).metadata.num_rows)
        for i, n in enumerate(files)
    ]


def fetch_order(ledger: DataFrame) -> list[tuple[int, str]]:
    """Canonical crawl ordering for parity checks: [(round, url_canon)]
    sorted by (round, fetch_seq)."""
    rows = ledger.select("round", "fetch_seq", "url_canon").collect()
    return [(r["round"], r["url_canon"]) for r in sorted(rows, key=lambda x: (x["round"], x["fetch_seq"]))]
