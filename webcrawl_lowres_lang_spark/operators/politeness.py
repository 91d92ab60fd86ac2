"""Per-host politeness + priority-frontier admission (north rule: "per-host
politeness scheduler (robots cache + crawl-delay token buckets keyed by
registrable domain via salted repartitioning), priority frontier ordered by
host budget + depth + language relevance").

Reference semantics being generalized: the reference throttles with
wall-clock sleeps per worker thread (``lrl-crawler.py:332-335``) and an
optional robots check per URL (``lrl-crawler.py:173-182``). Executors must
never sleep, so the engine uses DISCRETE virtual time: one crawl round = one
token-refill tick. A domain with ``crawl_delay`` d gets
``max(1, floor(budget/(1+d)))`` fetch tokens per round; unspent frontier
rows stay queued. This is deterministic (no wall clock ⇒ reproducible
ordering, the north rule's hard requirement) and maps 1:1 onto real-time
token buckets on a live cluster (tick := delay quantum).

Scale shape: admission is a per-domain top-k — a window over
``partitionBy(domain)``. Domain skew is the norm (one host can dominate a
crawl), so rows are first salted-repartitioned to spread a hot domain's
rows across executors for the expensive pre-steps; the final window
itself needs domain-locality, and AQE skew handling splits oversized
partitions. Budgets cap per-domain output at ``budget`` rows, so the
window's output is bounded regardless of skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..determinism import quantize9, salt

DEFAULT_HOST_BUDGET = 5
DEPTH_WEIGHT = 0.1  # priority = relevance - DEPTH_WEIGHT * depth

# Hard F.broadcast hints on the robots/crawl-delay dimension are gated on
# size: politeness state is per HOST, and at the north rule's 10^10-URL
# frontier that dimension is 10^7-10^8 rows — a forced hint bypasses
# Spark's size checks entirely and collects the table through the driver
# (the one scale-killer plan shape flagged in round 4). 64 MiB ≈ 10^6
# host rows comfortably inside executor/driver broadcast budgets; a real
# crawl's robots cache crosses it long before the frontier does.
BROADCAST_DIM_MAX_BYTES = 64 << 20


def maybe_broadcast(dim: DataFrame, max_bytes: int = BROADCAST_DIM_MAX_BYTES) -> DataFrame:
    """Apply a broadcast hint only when Catalyst's own size estimate says
    the dimension is small (exact for local/cached relations — CrawlEngine
    materializes the robots cache eagerly so rounds see exact bytes).
    Oversized or unknown-size dims are left UNHINTED: AQE's runtime
    statistics then pick broadcast vs shuffle join — never the driver-
    collecting forced path. Plan-shape pin: tests/test_plan_shapes.py
    asserts an oversized robots dim takes a shuffle join while the
    sandbox-sized dim still broadcasts."""
    try:
        size = int(dim._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # internal-API drift or unresolvable plan: never force
        return dim
    return F.broadcast(dim) if 0 <= size <= max_bytes else dim


def effective_budget(base_budget: int, crawl_delay: float) -> int:
    """Tokens per round for a host declaring ``crawl_delay`` (virtual-time
    token bucket: refill = budget scaled down by the declared delay).

    DEFINED SEMANTICS — memoryless refill, NO carry-over: the bucket
    resets to ``max(1, floor(budget/(1+delay)))`` every round; unspent
    tokens vanish. A host with crawl_delay 2.0 gets exactly
    ``floor(budget/3)`` each round regardless of how little it fetched
    before. This is deliberate: carry-over would let a briefly-starved
    host burst ABOVE its declared rate later — the opposite of what
    crawl_delay asks for — and round-history-dependent budgets would
    break the partition-invariant determinism the parity oracle (and the
    north rule's exact crawl-ordering match) requires. The local parity
    oracle replicates this same formula; tests/test_politeness.py pins
    the no-carry-over behavior explicitly."""
    return max(1, int(base_budget / (1.0 + crawl_delay)))


def with_priority(df: DataFrame) -> DataFrame:
    """Priority = language relevance − depth penalty, quantized to 9 dp so
    float noise can never reorder the frontier across partitionings."""
    return df.withColumn(
        "priority",
        quantize9(F.col("relevance") - F.lit(DEPTH_WEIGHT) * F.col("depth").cast("double")),
    )


def robots_filter(frontier: DataFrame, robots: DataFrame) -> DataFrame:
    """Drop rows whose path is robots-disallowed on a host that enforces
    robots (F4/S21). The robots cache broadcasts only while it is
    measurably small (see ``maybe_broadcast``); a 10^8-host cache takes a
    shuffled join instead."""
    r = robots.select(
        F.col("host").alias("__r_host"),
        F.col("respect_disallow").alias("__r_respect"),
    )
    return (
        frontier.join(maybe_broadcast(r), frontier.host == F.col("__r_host"), "left")
        .filter(~(F.col("robots_disallow") & F.coalesce(F.col("__r_respect"), F.lit(False))))
        .drop("__r_host", "__r_respect")
    )


def admit_per_domain(
    frontier: DataFrame,
    robots: DataFrame,
    base_budget: int = DEFAULT_HOST_BUDGET,
    salt_buckets: int = 64,
) -> tuple[DataFrame, DataFrame]:
    """Split the frontier into (admitted, deferred) for this round.

    Admission order inside a domain: priority DESC, then url_hash ASC —
    a total, partition-invariant order (the reference's analog is FIFO id
    order striped round-robin, lrl-crawler.py:582; the north rule upgrades
    it to the priority form).

    Skew handling is a TWO-PHASE top-k, not a plain per-domain window: a hot
    domain owning half the frontier would otherwise sort its whole slice in
    one window task. Phase 1 ranks within (domain, salt-bucket) — the hot
    domain's rows spread over ``salt_buckets`` parallel tasks — keeping only
    the per-bucket top-``base_budget``. The cutoff is ``base_budget`` (the
    maximum any row's effective budget can reach, since crawl_delay >= 0
    only shrinks it), NOT the per-row budget: budgets are keyed by HOST
    while the window partitions by registrable DOMAIN, so with a
    multi-host domain a per-row cutoff could drop a high-priority
    low-budget row whose removal shrinks other rows' phase-2 ranks and
    over-admits. With the domain-max cutoff, any phase-1-cut row has >
    base_budget better rows in its own bucket — all of which survive — so
    (a) its true per-domain rank exceeds every possible budget (never
    admitted by the plain window) and (b) no cut row outranks any row the
    plain window admits, leaving admitted rows' phase-2 ranks exact.
    Phase 2 ranks the bounded survivor set (≤ salt_buckets × base_budget
    rows per domain) globally per domain and admits rank <= the row's own
    (host-keyed) budget. The (admitted, deferred) split is identical to
    the single-window formulation (asserted by tests/test_politeness.py,
    including a multi-host domain with differing crawl delays).
    """
    d = robots.select(
        F.col("host").alias("__d_host"),
        F.col("crawl_delay").alias("__d_delay"),
    )
    f = frontier.join(maybe_broadcast(d), frontier.host == F.col("__d_host"), "left")
    f = f.withColumn(
        "__budget",
        F.greatest(
            F.lit(1),
            F.floor(F.lit(base_budget) / (F.lit(1.0) + F.coalesce(F.col("__d_delay"), F.lit(0.0)))),
        ).cast("int"),
    ).drop("__d_host", "__d_delay")
    order = (F.desc("priority"), F.asc("url_hash"))
    helpers = ("__salt", "__lrank", "__rank", "__budget")
    # phase 1: local top-base_budget within (domain, salt bucket) — the
    # cutoff must be the domain-level max budget (see docstring); lit
    # base_budget is that max for every domain
    f = f.withColumn("__salt", salt(11, salt_buckets, "url_hash"))
    w1 = Window.partitionBy("domain", "__salt").orderBy(*order)
    f = f.withColumn("__lrank", F.row_number().over(w1))
    survivors = f.filter(F.col("__lrank") <= F.lit(base_budget))
    losers = f.filter(F.col("__lrank") > F.lit(base_budget))
    # phase 2: global per-domain rank over the bounded survivor set
    w2 = Window.partitionBy("domain").orderBy(*order)
    s = survivors.withColumn("__rank", F.row_number().over(w2))
    admitted = s.filter(F.col("__rank") <= F.col("__budget")).drop(*helpers)
    deferred = (
        s.filter(F.col("__rank") > F.col("__budget"))
        .drop(*helpers)
        .unionByName(losers.drop("__salt", "__lrank", "__budget"))
    )
    return admitted, deferred


ROBOTS_CACHE_SCHEMA = "host string, respect_disallow boolean, crawl_delay double"


def _parse_robots_body(body: str, agent: str = "lrl-crawler") -> tuple[bool, float]:
    """Robots Exclusion Protocol subset matching the reference's use of
    urllib.robotparser (lrl-crawler.py:173-182): group model (consecutive
    User-agent lines open a group; rules bind to it), comments stripped,
    directives case-insensitive; the group chosen for evaluation is a
    named match for ``agent`` if one exists, else the ``*`` group.
    Returns (has_disallow, crawl_delay)."""
    groups: list[tuple[list[str], list[tuple[str, str]]]] = []
    agents: list[str] = []
    rules: list[tuple[str, str]] = []
    in_group_header = True
    for raw in (body or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, value = line.split(":", 1)
        field, value = field.strip().lower(), value.strip()
        if field == "user-agent":
            if not in_group_header:
                groups.append((agents, rules))
                agents, rules = [], []
            agents = agents + [value.lower()]
            in_group_header = True
        else:
            rules.append((field, value))
            in_group_header = False
    if agents or rules:
        groups.append((agents, rules))
    chosen = None
    # urllib.robotparser semantics (RobotFileParser.Entry.applies_to): the
    # UA token is the part before '/', lowercased; a named group matches
    # when the group's agent line is a SUBSTRING of that token. The
    # reverse containment (token substring of group agent) does NOT match
    # — 'User-agent: lrl-crawler-pro' is a different product and must not
    # capture 'lrl-crawler'.
    a = agent.split("/")[0].lower()
    for ags, rls in groups:
        if any(g != "*" and g in a for g in ags):
            chosen = rls
            break
    if chosen is None:
        for ags, rls in groups:
            if "*" in ags:
                chosen = rls
                break
    if chosen is None:
        return False, 0.0
    has_disallow = any(f == "disallow" and v for f, v in chosen)
    delay = 0.0
    for f, v in chosen:
        if f == "crawl-delay":
            try:
                delay = float(v)
            except ValueError:
                pass
    return has_disallow, delay


def parse_robots_bodies(bodies: DataFrame, agent: str = "lrl-crawler") -> DataFrame:
    """(host, body) robots.txt fetch results -> the politeness cache
    table (host, respect_disallow, crawl_delay), parsed in Arrow batches
    (S21/U9 from raw source text rather than a pre-parsed fixture;
    round-trip parity vs gen_robots asserted in tests/test_politeness.py)."""
    from collections.abc import Iterator

    import pandas as pd

    def parse(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for b in batches:
            parsed = [_parse_robots_body(x, agent) for x in b["body"]]
            yield pd.DataFrame(
                {
                    "host": b["host"],
                    "respect_disallow": [p[0] for p in parsed],
                    "crawl_delay": [p[1] for p in parsed],
                }
            )

    return bodies.select("host", "body").mapInPandas(parse, ROBOTS_CACHE_SCHEMA)
