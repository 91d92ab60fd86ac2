"""Two-phase salted admission == plain per-domain window on a skewed
frontier (one domain owning half the rows), incl. the deferred split."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from webcrawl_lowres_lang_spark.determinism import hrand
from webcrawl_lowres_lang_spark.operators.politeness import admit_per_domain
from webcrawl_lowres_lang_spark.sources import fixtures as fx


def _skewed_frontier(spark, n=4000):
    # domain 'hot.com' owns 50% of rows; the rest spread over 40 domains
    df = spark.range(n).select(
        F.col("id"),
        F.when(F.col("id") % 2 == 0, F.lit("hot.com"))
        .otherwise(F.concat(F.lit("d"), (F.col("id") % 40).cast("string"), F.lit(".com")))
        .alias("domain"),
        (hrand(5, "id") * 10).alias("priority"),
        F.xxhash64("id").alias("url_hash"),
    )
    return df.withColumn("host", F.concat(F.lit("www."), F.col("domain")))


def _plain_window_admission(f, robots, base_budget):
    d = robots.select(
        F.col("host").alias("__d_host"), F.col("crawl_delay").alias("__d_delay")
    )
    j = f.join(F.broadcast(d), f.host == F.col("__d_host"), "left")
    j = j.withColumn(
        "__budget",
        F.greatest(
            F.lit(1),
            F.floor(
                F.lit(base_budget) / (F.lit(1.0) + F.coalesce(F.col("__d_delay"), F.lit(0.0)))
            ),
        ).cast("int"),
    ).drop("__d_host", "__d_delay")
    w = Window.partitionBy("domain").orderBy(F.desc("priority"), F.asc("url_hash"))
    j = j.withColumn("__rank", F.row_number().over(w))
    return (
        j.filter(F.col("__rank") <= F.col("__budget")).drop("__rank", "__budget"),
        j.filter(F.col("__rank") > F.col("__budget")).drop("__rank", "__budget"),
    )


def test_salted_admission_identical_to_plain_window(spark):
    f = _skewed_frontier(spark).cache()
    robots = fx.gen_robots(spark, 42, 8)  # hosts won't match -> default budget
    adm, dfr = admit_per_domain(f, robots, base_budget=5, salt_buckets=16)
    adm0, dfr0 = _plain_window_admission(f, robots, 5)
    got_a = sorted(r["id"] for r in adm.collect())
    want_a = sorted(r["id"] for r in adm0.collect())
    got_d = sorted(r["id"] for r in dfr.collect())
    want_d = sorted(r["id"] for r in dfr0.collect())
    f.unpersist()
    assert got_a == want_a
    assert got_d == want_d
    # the hot domain's admitted rows respect the budget
    assert adm0.filter(F.col("domain") == "hot.com").count() <= 5


def test_multi_host_domain_differing_delays(spark):
    """A registrable domain spanning hosts with DIFFERENT crawl delays:
    budgets are host-keyed while the admission window is domain-keyed, so
    the phase-1 cutoff must be the domain-max budget (base_budget), not
    the per-row budget — a per-row cutoff can cut a high-priority
    low-budget row, shrink other rows' phase-2 ranks, and over-admit.
    Few salt buckets force the collisions that expose it."""
    rows = []
    for i in range(40):
        host = "a.x.com" if i % 2 == 0 else "b.x.com"
        rows.append((i, "x.com", host, float(100 - i), i * 7919))
    for i in range(40, 400):
        rows.append((i, f"d{i % 20}.com", f"www.d{i % 20}.com", float(i % 37), i * 7919))
    f = spark.createDataFrame(
        rows, "id long, domain string, host string, priority double, url_hash long"
    )
    robots = spark.createDataFrame(
        [("a.x.com", False, 4.0), ("b.x.com", False, 0.0)],
        "host string, respect_disallow boolean, crawl_delay double",
    )
    for buckets in (2, 4, 16):
        adm, dfr = admit_per_domain(f, robots, base_budget=5, salt_buckets=buckets)
        adm0, dfr0 = _plain_window_admission(f, robots, 5)
        assert sorted(r["id"] for r in adm.collect()) == sorted(
            r["id"] for r in adm0.collect()
        ), f"admitted diverges at salt_buckets={buckets}"
        assert sorted(r["id"] for r in dfr.collect()) == sorted(
            r["id"] for r in dfr0.collect()
        ), f"deferred diverges at salt_buckets={buckets}"


def test_salted_admission_columns_preserved(spark):
    f = _skewed_frontier(spark, 200)
    robots = fx.gen_robots(spark, 42, 8)
    adm, dfr = admit_per_domain(f, robots, base_budget=3, salt_buckets=4)
    assert set(adm.columns) == set(f.columns)
    assert set(dfr.columns) == set(f.columns)
    assert adm.count() + dfr.count() == 200


def test_no_carry_over_refill(spark):
    """Defined token-bucket semantics: memoryless per-round refill, NO
    carry-over. A crawl_delay-2.0 host gets floor(budget/3) admitted every
    round even when earlier rounds spent nothing — unspent tokens vanish
    (see effective_budget docstring; carry-over would let a starved host
    burst above its declared rate)."""
    from webcrawl_lowres_lang_spark.operators.politeness import effective_budget

    assert effective_budget(9, 2.0) == 3
    robots = spark.createDataFrame(
        [("www.slow.com", False, 2.0)],
        "host string, respect_disallow boolean, crawl_delay double",
    )
    frontier = spark.createDataFrame(
        [(i, "slow.com", "www.slow.com", float(i), i * 7919) for i in range(30)],
        "id long, domain string, host string, priority double, url_hash long",
    )
    remaining = frontier
    for _ in range(3):  # three refill ticks over the SAME queue
        adm, remaining = admit_per_domain(remaining, robots, base_budget=9)
        # every round admits exactly the memoryless refill, never
        # refill + unspent history
        assert adm.count() == 3
    assert remaining.count() == 30 - 9


from hypothesis import given, settings
from hypothesis import strategies as st


@st.composite
def _frontier_case(draw):
    """Random multi-domain frontier with multi-host domains, differing
    crawl delays, priority ties, and small salt-bucket counts — the space
    where the two-phase admission could diverge from the plain window."""
    n_domains = draw(st.integers(1, 5))
    rows, robots, rid = [], [], 0
    for d in range(n_domains):
        n_hosts = draw(st.integers(1, 3))
        hosts = [f"h{j}.d{d}.com" for j in range(n_hosts)]
        for h in hosts:
            robots.append((h, False, draw(st.sampled_from([0.0, 1.0, 2.0, 7.0]))))
        for _ in range(draw(st.integers(1, 25))):
            rows.append(
                (
                    rid,
                    f"d{d}.com",
                    draw(st.sampled_from(hosts)),
                    # few distinct priorities -> frequent ties, so the
                    # url_hash tie-break is actually load-bearing
                    float(draw(st.integers(0, 4))),
                    rid * 2_654_435_761 % 2**31,
                )
            )
            rid += 1
    budget = draw(st.integers(1, 6))
    buckets = draw(st.sampled_from([1, 2, 4, 8]))
    return rows, robots, budget, buckets


@settings(max_examples=12, deadline=None)
@given(_frontier_case())
def test_admission_equals_plain_window_property(spark, case):
    rows, robots_rows, budget, buckets = case
    f = spark.createDataFrame(
        rows, "id long, domain string, host string, priority double, url_hash long"
    )
    robots = spark.createDataFrame(
        robots_rows, "host string, respect_disallow boolean, crawl_delay double"
    )
    adm, dfr = admit_per_domain(f, robots, base_budget=budget, salt_buckets=buckets)
    adm0, dfr0 = _plain_window_admission(f, robots, budget)
    assert sorted(r["id"] for r in adm.collect()) == sorted(
        r["id"] for r in adm0.collect()
    )
    assert sorted(r["id"] for r in dfr.collect()) == sorted(
        r["id"] for r in dfr0.collect()
    )


def test_robots_parser_round_trip(spark):
    """parse_robots_bodies over rendered robots.txt BODIES (with comments,
    foreign-agent groups, Allow lines, mixed-case directives) reproduces
    the gen_robots cache table exactly — raw-source S21/U9 fidelity."""
    from webcrawl_lowres_lang_spark.operators.politeness import (
        _parse_robots_body,
        parse_robots_bodies,
    )

    want = sorted(map(tuple, fx.gen_robots(spark, 42, 40).collect()))
    got = sorted(
        map(tuple, parse_robots_bodies(fx.gen_robots_bodies(spark, 42, 40)).collect())
    )
    assert got == want
    # unit edges: named group beats *, missing file, malformed delay
    assert _parse_robots_body(
        "User-agent: lrl-crawler\nDisallow:\nCrawl-delay: 1.5\n\n"
        "User-agent: *\nDisallow: /x\n"
    ) == (False, 1.5)
    assert _parse_robots_body("") == (False, 0.0)
    assert _parse_robots_body("User-agent: *\nCrawl-delay: fast") == (False, 0.0)


def test_robots_agent_matching_robotparser_semantics():
    """Near-miss agent names must resolve exactly as urllib.robotparser
    would: a named group matches iff its agent line is a substring of the
    UA token (prefix products do NOT capture the shorter UA), '*' is the
    fallback, and the UA token is the part before '/'."""
    import urllib.robotparser

    from webcrawl_lowres_lang_spark.operators.politeness import _parse_robots_body

    cases = [
        # (body, expect chosen group's disallow to apply to /x)
        ("User-agent: lrl-crawler-pro\nDisallow: /x\n\nUser-agent: *\nAllow: /\n"),
        ("User-agent: lrl\nDisallow: /x\n\nUser-agent: *\nAllow: /\n"),
        ("User-agent: crawler\nDisallow: /x\n\nUser-agent: *\nAllow: /\n"),
        ("User-agent: l\nDisallow: /x\n\nUser-agent: *\nAllow: /\n"),
        ("User-agent: *\nDisallow: /x\n"),
        ("User-agent: other-bot\nDisallow: /x\n"),
    ]
    for body in cases:
        rp = urllib.robotparser.RobotFileParser()
        rp.parse(body.splitlines())
        expected_blocked = not rp.can_fetch("lrl-crawler/1.0", "http://h/x")
        has_disallow, _ = _parse_robots_body(body, agent="lrl-crawler/1.0")
        assert has_disallow == expected_blocked, body


def test_robots_bodies_plan_hits_an_earlier_cache(spark):
    """Two engines in one session (a crawl, then its resume) build equal
    robots plans, so the second engine's parsed robots table reads the
    first one's cache instead of parsing every body again."""
    from webcrawl_lowres_lang_spark.operators.politeness import parse_robots_bodies

    first = parse_robots_bodies(fx.gen_robots_bodies(spark, 42, 13)).cache()
    try:
        again = parse_robots_bodies(fx.gen_robots_bodies(spark, 42, 13))
        leaves = again._jdf.queryExecution().optimizedPlan().collectLeaves()
        assert [leaves.apply(i).nodeName() for i in range(leaves.size())] == ["InMemoryRelation"]
    finally:
        first.unpersist()
