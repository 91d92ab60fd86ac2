"""Crawl-engine operators exposed through the driver correctness gate,
exercised over URL columns synthesized deterministically from the driver
tables (the TPC-H-ish fixtures carry no URLs, so each query builds its own
messy inputs in-query — same rows on both engines).

Covers the scalar/relational surface of the crawl path (SURVEY §2.7 C1-C13,
§2.2 F2/F3/F7, §2.4 A8/A10/A11/A13/A14, §2.3 J7) with DuckDB oracles; the
full distributed crawl loop itself is parity-tested against the sequential
oracle in tests/test_crawl_parity.py and smoke-exposed here rows-only.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import load, register

# messy URL synthesized per document row; its canonical form is known by
# construction, giving the RFC-3986 canonicalizer an independent oracle
_MESSY_URL_SQL = (
    "'HTTP://' || upper(source) || '.Example.COM:80/a/./b/../doc/' || doc_id::VARCHAR "
    "|| '?b=2&a=1#frag'"
)
_CANON_URL_SQL = "'http://' || lower(source) || '.example.com/a/doc/' || doc_id::VARCHAR || '?a=1&b=2'"


@register(
    "c1_c3_url_canonicalize_hash",
    oracle=f"""
    SELECT doc_id,
           {_CANON_URL_SQL} AS url_canon,
           lower(source) || '.example.com' AS host,
           'example.com' AS domain,
           md5({_MESSY_URL_SQL}) AS md5_hash
    FROM documents
    """,
    survey_ref="C1,C3,F3,U7",
)
def c1_c3_url_canonicalize_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The REAL canonicalizer (with_url_keys' Arrow pass) runs on the Spark
    # side; the oracle states the expected canonical form via independent
    # string ops — a cross-check, not a mirror of the same code.
    from ..functions.urls import with_url_keys

    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("HTTP://"), F.upper("source"), F.lit(".Example.COM:80/a/./b/../doc/"),
            F.col("doc_id").cast("string"), F.lit("?b=2&a=1#frag"),
        ).alias("url"),
    )
    return with_url_keys(d).select("doc_id", "url_canon", "host", "domain", "md5_hash")


@register(
    "f2_f3_guards",
    oracle=f"""
    WITH cands AS (
      SELECT doc_id,
             CASE WHEN doc_id % 11 = 0 THEN '/relative/' || doc_id::VARCHAR
                  WHEN doc_id % 7 = 0 THEN 'http://ads.tracker' || doc_id::VARCHAR || '.com/x'
                  ELSE 'http://' || source || '.example.com/doc/' || doc_id::VARCHAR
             END AS url
      FROM documents
    )
    SELECT doc_id, url FROM cands
    WHERE url LIKE 'http%' AND NOT (url LIKE '%tracker%' OR url LIKE '%adserver%')
    """,
    survey_ref="F2,F3,C18",
)
def f2_f3_guards(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Relative-URL guard (engine: canonicalizer returns NULL) + excluded-
    # domain SUBSTRING filter (reference fileutils.py:104-106 semantics).
    from ..functions.urls import with_url_keys

    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 11 == 0, F.concat(F.lit("/relative/"), F.col("doc_id").cast("string"))
        )
        .when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit("http://ads.tracker"), F.col("doc_id").cast("string"), F.lit(".com/x")),
        )
        .otherwise(
            F.concat(F.lit("http://"), F.col("source"), F.lit(".example.com/doc/"), F.col("doc_id").cast("string"))
        )
        .alias("url"),
    )
    excl = F.array(F.lit("tracker"), F.lit("adserver"))
    return (
        with_url_keys(d)
        .filter(F.col("url_canon").isNotNull())  # F3 guard
        .filter(~F.exists(excl, lambda s: F.col("url").contains(s)))  # F2 substring
        .select("doc_id", "url")
    )


@register(
    "a8_domain_rollup",
    oracle="""
    SELECT source || '.example.com' AS domain,
           COUNT(*) AS total,
           CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS en_cnt
    FROM documents GROUP BY source
    """,
    survey_ref="A8,C3",
)
def a8_domain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Reference: Python-loop domain counting (sql.py:884-940) -> one groupBy
    # over parse_url(HOST).
    d = load(spark, sf_dir, "documents").select(
        F.concat(F.lit("https://"), F.col("source"), F.lit(".example.com/p")).alias("url"), "lang"
    )
    return (
        d.groupBy(F.parse_url(F.col("url"), F.lit("HOST")).alias("domain"))
        .agg(
            F.count("*").alias("total"),
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("en_cnt"),
        )
    )


_TOKENS_SQL = "list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '), x -> x != '')"


@register(
    "a10_token_frequency",
    oracle=f"""
    SELECT tok, COUNT(*) AS freq
    FROM (SELECT unnest({_TOKENS_SQL}) AS tok FROM documents)
    WHERE len(tok) >= 3 AND NOT regexp_matches(tok, '[0-9]')
    GROUP BY tok
    ORDER BY freq DESC, tok ASC
    LIMIT 20
    """,
    survey_ref="A10,F6,C8,C9",
)
def a10_token_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Lexicon building: Counter.most_common (extract.py:72-78) -> explode +
    # groupBy + top-k, with the reference's token filter (len>=3, no digits).
    toks = F.filter(
        F.split(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "), " "),
        lambda x: (x != "") & (F.length(x) >= 3) & (~x.rlike("[0-9]")),
    )
    return (
        load(spark, sf_dir, "documents")
        .select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("tok"))
        .limit(20)
    )


@register(
    "a11_lexicon_merge",
    oracle=f"""
    WITH core AS (
      SELECT tok, COUNT(*) AS freq
      FROM (SELECT unnest({_TOKENS_SQL}) AS tok FROM documents WHERE lang = 'en')
      GROUP BY tok
    ),
    topup AS (
      SELECT tok, COUNT(*) AS freq
      FROM (SELECT unnest({_TOKENS_SQL}) AS tok FROM documents WHERE lang = 'fr')
      GROUP BY tok
    )
    SELECT tok, CAST(SUM(freq) AS BIGINT) AS freq
    FROM (SELECT * FROM core UNION ALL SELECT * FROM topup) u
    GROUP BY tok
    """,
    survey_ref="A11,E1",
)
def a11_lexicon_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Lexicon growth: merge-sum of core + topup frequency dicts
    # (fileutils.py:89-96) as unionByName + groupBy sum.
    def lex(lang: str) -> DataFrame:
        toks = F.filter(
            F.split(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "), " "),
            lambda x: x != "",
        )
        return (
            load(spark, sf_dir, "documents")
            .filter(F.col("lang") == lang)
            .select(F.explode(toks).alias("tok"))
            .groupBy("tok")
            .agg(F.count("*").alias("freq"))
        )

    return (
        lex("en").unionByName(lex("fr")).groupBy("tok").agg(F.sum("freq").cast("long").alias("freq"))
    )


@register(
    "j7_lexicon_anti_join",
    oracle=f"""
    WITH de AS (
      SELECT DISTINCT unnest({_TOKENS_SQL}) AS tok FROM documents WHERE lang = 'de'
    ),
    en AS (
      SELECT DISTINCT unnest({_TOKENS_SQL}) AS tok FROM documents WHERE lang = 'en'
    )
    SELECT tok FROM de WHERE tok NOT IN (SELECT tok FROM en)
    """,
    survey_ref="J7,E3",
)
def j7_lexicon_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # LRL-lexicon minus English dictionary (queries.py:57-70) as left_anti.
    def toks(lang: str) -> DataFrame:
        t = F.filter(
            F.split(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "), " "),
            lambda x: x != "",
        )
        return (
            load(spark, sf_dir, "documents")
            .filter(F.col("lang") == lang)
            .select(F.explode(t).alias("tok"))
            .distinct()
        )

    return toks("de").join(toks("en"), "tok", "left_anti")


@register(
    "a13_paragraph_scoring",
    oracle=f"""
    WITH paras AS (
      SELECT doc_id, p_idx,
             array_to_string(list_slice(t, p_idx * 12 + 1, (p_idx + 1) * 12), ' ') AS para,
             len(list_slice(t, p_idx * 12 + 1, (p_idx + 1) * 12)) AS wc
      FROM (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents WHERE len({_TOKENS_SQL}) > 0),
           UNNEST(range(0, (len(t) + 11) // 12)) AS u(p_idx)
    ),
    scored AS (
      SELECT doc_id, wc >= 10 AS processed,
             wc >= 10 AND len(string_split(para, 'a')) - 1 >= 12 AS is_lrl
      FROM paras
    )
    SELECT doc_id,
           COUNT(*) AS n_paras,
           CAST(SUM(CASE WHEN processed THEN 1 ELSE 0 END) AS BIGINT) AS n_processed,
           CAST(SUM(CASE WHEN is_lrl THEN 1 ELSE 0 END) AS BIGINT) AS n_lrl,
           ROUND(CASE WHEN SUM(CASE WHEN processed THEN 1 ELSE 0 END) > 0
                 THEN SUM(CASE WHEN is_lrl THEN 1 ELSE 0 END) * 100.0
                      / SUM(CASE WHEN processed THEN 1 ELSE 0 END)
                 ELSE 0 END, 2) AS perc_lrl
    FROM scored GROUP BY doc_id
    """,
    survey_ref="A13,C7,C10,C13,F7,U4",
)
def a13_paragraph_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Paragraph pipeline (nlp.py:276-388): split -> explode -> min-length
    # filter (F7, th=10) -> per-para classify -> per-doc rollup with the
    # guarded percentage (C13). "Paragraphs" are 12-token chunks (the
    # driver corpus has no newlines); the detector here is a cheap marker
    # density ('a'-count) standing in for lingua (U1) — same dataflow.
    toks = F.filter(
        F.split(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "), " "),
        lambda x: x != "",
    )
    # Guard token-empty docs: sequence(0, -1) DESCENDS in Spark (emitting
    # [0,-1] -> 2 phantom paras) while the oracle's range(0,0) emits nothing;
    # both engines must drop such docs (same guard a14 uses).
    d = load(spark, sf_dir, "documents").select("doc_id", toks.alias("t")).filter(F.size("t") > 0)
    paras = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, CAST((size(t) + 11) / 12 AS INT) - 1), "
                "i -> struct(i as p_idx, slice(t, i * 12 + 1, 12) as pt))"
            )
        ).alias("p"),
    ).select(
        "doc_id",
        F.array_join("p.pt", " ").alias("para"),
        F.size("p.pt").alias("wc"),
    )
    scored = paras.select(
        "doc_id",
        (F.col("wc") >= 10).alias("processed"),
        ((F.col("wc") >= 10) & (F.size(F.split(F.col("para"), "a")) - 1 >= 12)).alias("is_lrl"),
    )
    n_proc = F.sum(F.when(F.col("processed"), 1).otherwise(0))
    n_lrl = F.sum(F.when(F.col("is_lrl"), 1).otherwise(0))
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_paras"),
        n_proc.cast("long").alias("n_processed"),
        n_lrl.cast("long").alias("n_lrl"),
        F.round(
            F.when(n_proc > 0, n_lrl * 100.0 / n_proc).otherwise(0.0), 2
        ).alias("perc_lrl"),
    )


@register(
    "a14_precision_recall",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents),
    cls AS (
      SELECT doc_id,
             len(t) >= 40 AS det_a,
             len(list_distinct(t)) * 1.0 / len(t) < 0.5 AS det_b
      FROM toks WHERE len(t) > 0
    )
    SELECT CAST(SUM(CASE WHEN det_a AND det_b THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(SUM(CASE WHEN det_a AND NOT det_b THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           CAST(SUM(CASE WHEN NOT det_a AND det_b THEN 1 ELSE 0 END) AS BIGINT) AS fn,
           ROUND(SUM(CASE WHEN det_a AND det_b THEN 1 ELSE 0 END) * 1.0
                 / NULLIF(SUM(CASE WHEN det_a THEN 1 ELSE 0 END), 0), 4) AS precision,
           ROUND(SUM(CASE WHEN det_a AND det_b THEN 1 ELSE 0 END) * 1.0
                 / NULLIF(SUM(CASE WHEN det_b THEN 1 ELSE 0 END), 0), 4) AS recall
    FROM cls
    """,
    survey_ref="A14,A15",
)
def a14_precision_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Detector-agreement P/R counters (nlp.py:254-259,352-365,437-446):
    # module-global mutable tallies become one aggregation pass.
    toks = F.filter(
        F.split(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "), " "),
        lambda x: x != "",
    )
    d = (
        load(spark, sf_dir, "documents")
        .select("doc_id", toks.alias("t"))
        .filter(F.size("t") > 0)
        .select(
            (F.size("t") >= 40).alias("det_a"),
            (F.size(F.array_distinct("t")) * 1.0 / F.size("t") < 0.5).alias("det_b"),
        )
    )
    tp = F.sum(F.when(F.col("det_a") & F.col("det_b"), 1).otherwise(0))
    fp = F.sum(F.when(F.col("det_a") & ~F.col("det_b"), 1).otherwise(0))
    fn = F.sum(F.when(~F.col("det_a") & F.col("det_b"), 1).otherwise(0))
    da = F.sum(F.when(F.col("det_a"), 1).otherwise(0))
    db = F.sum(F.when(F.col("det_b"), 1).otherwise(0))
    return d.agg(
        tp.cast("long").alias("tp"),
        fp.cast("long").alias("fp"),
        fn.cast("long").alias("fn"),
        F.round(tp * 1.0 / F.nullif(da, F.lit(0)), 4).alias("precision"),
        F.round(tp * 1.0 / F.nullif(db, F.lit(0)), 4).alias("recall"),
    )


@register(
    "w9_priority_frontier_topk",
    oracle="""
    WITH scored AS (
      SELECT o_orderkey AS url_key, o_custkey AS domain_key,
             ROUND(o_totalprice / 100000.0 - 0.1 * (o_orderkey % 5), 9) AS priority
      FROM orders
    )
    SELECT url_key, domain_key, priority
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY domain_key
                                       ORDER BY priority DESC, url_key ASC) AS rn
          FROM scored) t
    WHERE rn <= 3
    """,
    survey_ref="W9,T5",
)
def w9_priority_frontier_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The frontier-admission window shape (per-domain top-k under budget)
    # on driver data: partitionBy(domain) orderBy(priority desc, key asc).
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("url_key"),
        F.col("o_custkey").alias("domain_key"),
        F.round(
            F.col("o_totalprice") / 100000.0 - 0.1 * (F.col("o_orderkey") % 5), 9
        ).alias("priority"),
    )
    w = Window.partitionBy("domain_key").orderBy(F.desc("priority"), F.asc("url_key"))
    return o.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3).drop("rn")


@register(
    "s8_latest_state_wins",
    oracle="""
    SELECT user_id, event_type AS state, ts AS state_ts
    FROM (SELECT user_id, event_type, ts,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) t
    WHERE rn = 1
    """,
    survey_ref="S8,S9,T6",
)
def s8_latest_state_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The engine's replacement for the reference's per-row UPDATE flags
    # (sql.py:249-309): state transitions append; the current state is a
    # latest-wins window — the same MERGE-free pattern Iceberg appends use.
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("state"), F.col("ts").alias("state_ts"))
    )


@register(
    "t5_salted_skew_join",
    oracle="""
    SELECT l.l_returnflag, COUNT(*) AS cnt, ROUND(SUM(o.o_totalprice), 2) AS total
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY l.l_returnflag
    """,
    survey_ref="T5",
)
def t5_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Skew-defusing salted join, made explicit (the crawl engine uses the
    # same keying for hot hosts; AQE skew-split is the automatic fallback):
    # probe side salted into 8 sub-keys via a stable hash, build side
    # exploded 8x, join on (key, salt) — result identical to the plain
    # join the oracle runs, but no single reducer owns a hot key.
    from ..determinism import salt

    n_salt = 8
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_returnflag")
    li = li.withColumn("__salt", salt(7, n_salt, "l_orderkey", "l_returnflag"))
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    o = o.withColumn("__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)])))
    j = li.join(
        o.hint("shuffle_hash"),
        (li.l_orderkey == o.o_orderkey) & (li["__salt"] == o["__salt"]),
    )
    return j.groupBy("l_returnflag").agg(
        F.count("*").alias("cnt"), F.round(F.sum("o_totalprice"), 2).alias("total")
    )


@register(
    "s5_point_lookup",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey = 7
    """,
    survey_ref="S5",
)
def s5_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Point lookup by primary key (sql.py:161-165): a literal equality
    # filter that must reach the scan as a pushed filter (min/max pruning
    # skips every non-matching row group at scale).
    return (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") == 7)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    )


@register(
    "s10_bulk_reset",
    oracle="""
    WITH pre AS (
      SELECT user_id, event_type AS state_before
      FROM (SELECT user_id, event_type,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events) t
      WHERE rn = 1
    ),
    transitions AS (
      SELECT user_id, event_type AS state, ts, event_id FROM events
      UNION ALL
      SELECT DISTINCT user_id, 'reset',
             (SELECT MAX(ts) FROM events) + INTERVAL 1 SECOND,
             9223372036854775807
      FROM events
    ),
    latest AS (
      SELECT user_id, state,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM transitions
    )
    SELECT l.user_id, p.state_before, l.state AS state_after
    FROM latest l JOIN pre p ON l.user_id = p.user_id
    WHERE l.rn = 1
    """,
    survey_ref="S10,S8",
)
def s10_bulk_reset(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Bulk reset (sql.py:312-334: "set all rows unhandled") as the engine
    # does state: APPEND a reset transition per key and let latest-wins
    # resolve — the prior state stays readable (snapshot/time-travel
    # semantics), returned here as state_before vs state_after.
    e = load(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    pre = (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("state_before"))
    )
    max_ts = e.agg(F.max("ts").alias("__mt"))
    resets = (
        e.select("user_id")
        .distinct()
        .crossJoin(F.broadcast(max_ts))
        .select(
            "user_id",
            F.lit("reset").alias("event_type"),
            F.expr("__mt + INTERVAL 1 SECOND").alias("ts"),
            F.lit(9223372036854775807).alias("event_id"),
        )
    )
    latest = (
        e.unionByName(resets)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("state_after"))
    )
    return latest.join(pre, "user_id").select("user_id", "state_before", "state_after")


_C4_URL_SQL = (
    "'http://img.example.com/search?q=' || source || '&page=' || "
    "(doc_id % 5)::VARCHAR || '&safe=on'"
)


@register(
    "search_connector_scalars",
    oracle=rf"""
    WITH keys AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 5 = 0 THEN '????????'
                  WHEN doc_id % 7 = 0 THEN ''
                  ELSE 'AIza-' || doc_id::VARCHAR END AS api_key
      FROM documents
    )
    SELECT doc_id, api_key,
           regexp_extract({_C4_URL_SQL}, 'q=([a-z0-9]+)', 1) AS q_param,
           regexp_extract({_C4_URL_SQL}, 'page=([0-9]+)', 1) AS page_param,
           replace('kupu ' || source || ' whakaahua', ' ', '+') AS encoded_query,
           'http://search.example.com/?q=' ||
             replace('kupu ' || source || ' whakaahua', ' ', '+') AS search_url,
           base64(encode(source)) AS b64_encoded,
           from_base64(base64(encode(source)))::VARCHAR AS b64_decoded
    FROM keys
    WHERE len(api_key) > 0 AND NOT regexp_matches(api_key, '^\?+$')
    """,
    survey_ref="C4,C5,C11,F10,C3",
)
def search_connector_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The search-connector scalar surface in one query (consolidated from
    # four round-2 registrations so every registered query fits the
    # driver report's 50-entry window):
    # - F10 API-key sanity filter (search.py:117-123): reject '?'-run
    #   placeholders (the config template default) and empties before any
    #   connector runs;
    # - C4 query-parameter extraction (parse_qs, search.py:173-178): the
    #   engine uses parse_url(QUERY, key); the oracle cross-checks with an
    #   independent regex formulation;
    # - C11 search-query URL encoding, spaces -> '+' (search.py:43,199);
    # - C5 Bing-redirect-style base64 round-trip (search.py:148-192).
    url = F.concat(
        F.lit("http://img.example.com/search?q="), F.col("source"),
        F.lit("&page="), (F.col("doc_id") % 5).cast("string"), F.lit("&safe=on"),
    )
    q = F.concat(F.lit("kupu "), F.col("source"), F.lit(" whakaahua"))
    enc = F.regexp_replace(q, " ", "+")
    b64 = F.base64(F.col("source").cast("binary"))
    keys = load(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.when(F.col("doc_id") % 5 == 0, F.lit("????????"))
        .when(F.col("doc_id") % 7 == 0, F.lit(""))
        .otherwise(F.concat(F.lit("AIza-"), F.col("doc_id").cast("string")))
        .alias("api_key"),
    )
    return keys.filter((F.length("api_key") > 0) & ~F.col("api_key").rlike(r"^\?+$")).select(
        "doc_id",
        "api_key",
        F.parse_url(url, F.lit("QUERY"), F.lit("q")).alias("q_param"),
        F.parse_url(url, F.lit("QUERY"), F.lit("page")).alias("page_param"),
        enc.alias("encoded_query"),
        F.concat(F.lit("http://search.example.com/?q="), enc).alias("search_url"),
        b64.alias("b64_encoded"),
        F.unbase64(b64).cast("string").alias("b64_decoded"),
    )


@register(
    "u3_text_extract_html",
    oracle="""
    SELECT CAST(doc_id AS VARCHAR) AS doc_key,
           'html' AS doc_type,
           'Doc ' || doc_id::VARCHAR || chr(10) || trim(text) AS text,
           TRUE AS extract_ok
    FROM documents
    WHERE len(trim(text)) > 0
    """,
    survey_ref="S17,U3,F8",
)
def u3_text_extract_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL html extraction through the mapInPandas stage (operators/
    # extract.py): docs are wrapped in an HTML template with style/script
    # noise; the oracle states the expected text independently (title line
    # + original body text) — a cross-check of get_text semantics, not a
    # mirror of the extractor.
    from ..operators.extract import extract_text_stage

    d = (
        load(spark, sf_dir, "documents")
        .filter(F.length(F.trim(F.col("text"))) > 0)
        .select(
            F.col("doc_id").cast("string").alias("doc_key"),
            F.concat(
                F.lit("<html><head><style>p { color: red; }</style></head>"
                      "<body><h1>Doc "),
                F.col("doc_id").cast("string"),
                F.lit("</h1><p>"),
                F.col("text"),
                F.lit("</p><script>var x = 1;</script></body></html>"),
            ).cast("binary").alias("bytes"),
            F.lit("html").alias("doc_type"),
        )
    )
    return extract_text_stage(d)


# Exact smoke-crawl configuration shared by the registered query, the
# committed expected-ledger fixture (tests/fixtures/crawl_smoke_expected.
# parquet), and the drift-regen gate (tests/test_crawl_parity.py) — all
# three must agree or the oracle is meaningless.
SMOKE_CFG = dict(
    n_urls=300, n_pages=24, n_hosts=12, n_lexicon_terms=24, query_count=2,
    num_search_pages=1, host_budget=3, rounds=1, validate_pixels=False,
)

_REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
_FIXTURES_DIR = os.path.join(_REPO_ROOT, "tests", "fixtures")


@register(
    "crawl_round_smoke",
    oracle=f"""
    SELECT round, fetch_seq, url_canon, url_hash, domain, depth,
           priority, status, image_id, caption_score
    FROM read_parquet('{os.path.join(_FIXTURES_DIR, "crawl_smoke_expected.parquet")}')
    """,
    survey_ref="T1-T7,J5,W9,U2,U6,U8",
)
def crawl_round_smoke(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One politeness-budgeted crawl round over the synthetic web: returns
    # the fetch ledger. Since round 5 this is a FULL hash-checked oracle:
    # the DuckDB twin reads a committed fixture parquet of the sequential
    # reference-semantics oracle's expected ledger (tests/reference_oracle.
    # py OracleCrawl under the same SMOKE_CFG — the same independent
    # re-derivation the parity suite pins ordering/seen-set/scores
    # against), drift-regen-gated in tests/test_crawl_parity.py. The
    # structural-invariant filters are kept: a broken sequencing/hashing/
    # admission path still shows up as missing rows, and now also as a
    # value-hash mismatch.
    import tempfile

    from ..streaming.crawler import CrawlConfig, CrawlEngine

    cfg = CrawlConfig(**SMOKE_CFG)
    eng = CrawlEngine(spark, cfg, tempfile.mkdtemp(prefix="crawl_smoke_"))
    eng.run()
    led = eng.ledger_df().select(
        "round", "fetch_seq", "url_canon", "url_hash", "domain", "depth",
        "priority", "status", "image_id", "caption_score",
    )
    w = Window.partitionBy("round").orderBy("fetch_seq")
    return (
        led.withColumn("__rn", F.row_number().over(w))
        .withColumn("__pp", F.lag("priority").over(w))
        .withColumn("__ph", F.lag("url_hash").over(w))
        # fetch_seq is dense 1..n per round (distributed sequencing)
        .filter(F.col("fetch_seq") == F.col("__rn"))
        # url_hash is exactly xxhash64 of the canonical URL
        .filter(F.col("url_hash") == F.xxhash64("url_canon"))
        # canonical fetch order: priority DESC, url_hash ASC
        .filter(
            F.col("__pp").isNull()
            | (F.col("priority") < F.col("__pp"))
            | ((F.col("priority") == F.col("__pp")) & (F.col("url_hash") > F.col("__ph")))
        )
        .drop("__rn", "__pp", "__ph")
    )
