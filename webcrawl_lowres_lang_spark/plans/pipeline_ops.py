"""Training-data sampling operators over the driver tables: stratified
balance, temperature resampling and DSIR importance selection.

Nothing on the crawl path imports this module; its tests are its only
callers. Every operator is a declarative DataFrame plan with a DuckDB
oracle twin.

Cross-engine determinism rules used throughout:
- shared hash = md5 hex (present in both engines); 60-bit numeric
  hashes are ``conv(substr(md5,1,15),16,10)`` in Spark and
  ``CAST('0x' || substr(md5,1,15) AS BIGINT)`` in DuckDB;
- float aggregates rounded on both sides; ranking ties always broken by
  an id column;
- integer compares wherever a hash cutoff decides membership (exact math).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import load, register

# ---------------------------------------------------------------------------
# Word tokens and their hashes (DSIR's features)
# ---------------------------------------------------------------------------

_TOKENS = "list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '), x -> x != '')"


def _tokens_col():
    """Normalized word tokens (engine side). One expr string — the
    lambda-composed form costs several py4j round-trips per query build."""
    return F.expr(
        "filter(split(regexp_replace(lower(text), '[^a-z0-9 ]', ' '), ' '), x -> x != '')"
    )


def _tokhash60_spark(tok):
    """60-bit numeric token hash shared with DuckDB (conv of 15 md5 hex chars)."""
    return F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("long")


# ---------------------------------------------------------------------------
# Deterministic stratified sampling (training-data mixing)
# ---------------------------------------------------------------------------

# A training mix wants "q documents per language", chosen uniformly and
# REPRODUCIBLY (same corpus -> same sample, no RNG state): rank every doc
# inside its stratum by a content-independent uniform hash and keep the
# first q. md5(CAST(doc_id AS VARCHAR)) is the permutation key because
# both engines compute it identically (same convention as the token
# hashes above).

_SAMPLE_HASH_SQL = "md5(CAST(doc_id AS VARCHAR))"


def _sample_hash_col() -> F.Column:
    return F.md5(F.col("doc_id").cast("string"))


def balanced_sample(d: DataFrame, strat_col: str = "lang", margin: float = 2.0) -> DataFrame:
    """Per-stratum quota sample: quota = size of the SMALLEST stratum, so
    every stratum contributes equally (classic balanced downsampling).

    Scale shape: the naive plan is a window over each full stratum — one
    reducer sorting 10^9 rows per language at corpus scale. Instead the
    uniform hash lets us pre-filter: the q smallest of n hashes all lie
    below ~q/n of the hash space, so a per-stratum cutoff at
    margin * q/n keeps ~margin * q survivors and the exact window ranks
    only those. The margin-doubling retry makes the result EXACT (equal
    to the plain-window answer) regardless of hash luck; at margin 2 and
    q >= 32 a retry is a <1e-6 tail event. Driver state is one row per
    stratum (languages — bounded by nature, documented). For q beyond a
    single task's memory, the same cutoff idea upgrades to distributed
    selection (per-partition 32-bit hash histograms refined over 2-3
    treeAggregate passes) — noted here, not needed at sandbox scale.
    """
    hash_long = F.conv(F.substring(_sample_hash_col(), 1, 15), 16, 10).cast("long")
    counts = {
        r[strat_col]: r["n"]
        for r in d.groupBy(strat_col).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    quota = min(counts.values())
    space = 16**15
    spark = d.sparkSession
    while True:
        cutoffs = spark.createDataFrame(
            [(s, int(min(margin * quota / n, 1.0) * space)) for s, n in counts.items()],
            f"{strat_col} string, __cut long",
        )
        survivors = (
            d.withColumn("__h", hash_long)
            .join(F.broadcast(cutoffs), strat_col)
            .where(F.col("__h") <= F.col("__cut"))
            .drop("__cut")
        )
        got = {
            r[strat_col]: r["n"]
            for r in survivors.groupBy(strat_col).agg(F.count(F.lit(1)).alias("n")).collect()
        }
        if all(got.get(s, 0) >= min(quota, n) for s, n in counts.items()):
            break
        margin *= 4  # hash-luck shortfall: widen and re-filter (exactness guard)
    w = Window.partitionBy(strat_col).orderBy("__h", "doc_id")
    return (
        survivors.withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= F.lit(quota))
        .drop("__h")
    )


@register(
    "sample_stratified_balanced",
    oracle=f"""
    WITH q AS (
      SELECT MIN(n) AS quota
      FROM (SELECT COUNT(*) AS n FROM documents GROUP BY lang)
    ),
    ranked AS (
      SELECT doc_id, lang, source,
             ROW_NUMBER() OVER (
               PARTITION BY lang ORDER BY {_SAMPLE_HASH_SQL}, doc_id
             ) AS sample_rank
      FROM documents
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, source,
           CAST(sample_rank AS BIGINT) AS sample_rank
    FROM ranked, q WHERE sample_rank <= quota
    """,
    survey_ref="W7,T5",
)
def sample_stratified_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Language-balanced deterministic sample of the documents table. The
    # DuckDB twin is the plain full-stratum window — the cutoff pre-filter
    # is invisible in the result by construction (the exactness guard).
    d = load(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return balanced_sample(d, "lang")


# ---------------------------------------------------------------------------
# Temperature-based language resampling (training-data mixing)
# ---------------------------------------------------------------------------

# XLM-R / mC4 alpha-sampling (Conneau et al. 2020 §3.1; Xue et al. 2021
# §3.2): draw languages with p_l ∝ (n_l/N)^alpha so low-resource languages
# are upweighted relative to their corpus share — THE mixing step of a
# low-resource-language crawl (the reference's whole reason to exist is
# gathering the rare-language tail; this op is how that tail survives into
# a training mix). alpha = 0.3 is XLM-R's published value.
_TEMP_ALPHA = 0.3
# 16^15 = 2^60: the md5-prefix hash space (15 hex chars fits a signed long)
_HASH_SPACE = float(16**15)
_SAMPLE_HASH_INT_SQL = (
    f"CAST(('0x' || substr({_SAMPLE_HASH_SQL}, 1, 15)) AS BIGINT)"
)


def _sample_hash_int_col() -> F.Column:
    """The same 60-bit integer both engines derive from md5(doc_id):
    Spark via conv(hex,16,10), DuckDB via CAST('0x'||hex AS BIGINT)."""
    return F.conv(F.substring(_sample_hash_col(), 1, 15), 16, 10).cast("long")


@register(
    "sample_temperature_lang",
    oracle=f"""
    WITH counts AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
    wts AS (
      SELECT lang, n,
             SUM(n) OVER () AS nn,
             POW(n / CAST(SUM(n) OVER () AS DOUBLE), {_TEMP_ALPHA}) AS w
      FROM counts
    ),
    rates AS (
      SELECT lang, n,
             ((w / SUM(w) OVER ()) * nn) / n AS raw_rate
      FROM wts
    ),
    cut AS (
      SELECT lang, n,
             LEAST(1.0, raw_rate) AS rate,
             GREATEST(1.0, raw_rate) AS epochs,
             CAST(FLOOR(ROUND(LEAST(1.0, raw_rate), 9) * {_HASH_SPACE!r}) AS BIGINT)
               AS cutoff
      FROM rates
    )
    SELECT d.doc_id, d.lang,
           CAST(c.n AS BIGINT) AS lang_docs,
           ROUND(c.rate, 6) AS sample_rate,
           ROUND(c.epochs, 4) AS epochs
    FROM documents d JOIN cut c USING (lang)
    WHERE {_SAMPLE_HASH_INT_SQL} < c.cutoff
    """,
    survey_ref="A1,J1,T5",
)
def sample_temperature_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based language rebalancing: keep head-language docs with
    probability min(1, p_l*N/n_l) where p_l ∝ (n_l/N)^alpha, and report the
    replication factor (`epochs`) rare languages would train with.

    Scale shape: the language dimension is aggregated once (bounded
    cardinality — a few hundred languages at any corpus size), rates are
    derived INSIDE that tiny frame with unpartitioned windows, and the
    selection itself is a broadcast join + a map-side integer compare
    against the deterministic md5-prefix hash — no full-corpus shuffle,
    no driver collect, reproducible and partition-invariant by
    construction. The cutoff compares INTEGERS (floor(round(rate,9)*2^60))
    so the engine twin can never diverge on a float boundary.
    """
    d = load(spark, sf_dir, "documents").select("doc_id", "lang")
    wall = Window.partitionBy()
    cdim = (
        d.groupBy("lang")
        .agg(F.count("*").alias("n"))
        .withColumn("nn", F.sum("n").over(wall))
        .withColumn("w", F.pow(F.col("n") / F.col("nn").cast("double"), _TEMP_ALPHA))
    )
    cdim = cdim.withColumn(
        "raw_rate", ((F.col("w") / F.sum("w").over(wall)) * F.col("nn")) / F.col("n")
    ).select(
        "lang",
        "n",
        F.least(F.lit(1.0), F.col("raw_rate")).alias("rate"),
        F.greatest(F.lit(1.0), F.col("raw_rate")).alias("epochs"),
        F.floor(F.round(F.least(F.lit(1.0), F.col("raw_rate")), 9) * F.lit(_HASH_SPACE))
        .cast("long")
        .alias("cutoff"),
    )
    return (
        d.join(F.broadcast(cdim), "lang")
        .where(_sample_hash_int_col() < F.col("cutoff"))
        .select(
            "doc_id",
            "lang",
            F.col("n").cast("long").alias("lang_docs"),
            F.round("rate", 6).alias("sample_rate"),
            F.round("epochs", 4).alias("epochs"),
        )
    )


# ---------------------------------------------------------------------------
# DSIR: data selection via importance resampling (target-domain filtering)
# ---------------------------------------------------------------------------

_DSIR_D = 4096  # hashed feature buckets (paper: 10k hashed uni+bigrams)
_DSIR_TARGET = "fr"  # target domain = one language's docs (the role Wikipedia
# plays in the paper's target corpus); everything else is the raw pool


@register(
    "sample_dsir_importance",
    oracle=f"""
    WITH toks AS (SELECT doc_id, lang, {_TOKENS} AS t FROM documents),
    grams AS (
      SELECT doc_id, lang, unnest(t) AS s FROM toks
      UNION ALL
      SELECT doc_id, lang,
             unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS s
      FROM toks WHERE len(t) >= 2
    ),
    fcounts AS (
      SELECT doc_id, lang,
             CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % {_DSIR_D} AS f,
             COUNT(*) AS c
      FROM grams GROUP BY doc_id, lang, f
    ),
    raw AS (SELECT f, SUM(c) AS rf FROM fcounts GROUP BY f),
    tgt AS (SELECT f, SUM(c) AS tf FROM fcounts
            WHERE lang = '{_DSIR_TARGET}' GROUP BY f),
    tot AS (SELECT (SELECT SUM(rf) FROM raw) AS R, (SELECT SUM(tf) FROM tgt) AS T),
    prof AS (
      SELECT raw.f,
             ROUND(ln((COALESCE(tgt.tf, 0) + 1.0) / (tot.T + {_DSIR_D}))
                   - ln((raw.rf + 1.0) / (tot.R + {_DSIR_D})), 9) AS lr
      FROM raw LEFT JOIN tgt USING (f) CROSS JOIN tot
    ),
    scored AS (
      SELECT fc.doc_id, fc.lang,
             CAST(SUM(fc.c) AS BIGINT) AS n_feats,
             ROUND(SUM(fc.c * p.lr) / SUM(fc.c), 6) AS dsir_weight
      FROM fcounts fc JOIN prof p USING (f)
      GROUP BY fc.doc_id, fc.lang
    ),
    thr AS (SELECT quantile_cont(dsir_weight, 0.75) AS t FROM scored)
    SELECT doc_id, lang, n_feats, dsir_weight, dsir_weight >= thr.t AS kept
    FROM scored CROSS JOIN thr
    """,
    survey_ref="A10,J1,A14",
)
def sample_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR (Xie et al. 2023, "Data Selection for Language Models via
    Importance Resampling"): score every doc by how target-domain-like its
    hashed n-gram feature distribution is — mean per-occurrence log ratio
    of add-one-smoothed target vs raw feature probabilities — and keep the
    top quartile. Target domain here = the _DSIR_TARGET-language docs (the
    fixture analog of the paper's Wikipedia target corpus).

    Scale shape: features hash into a BOUNDED space (_DSIR_D buckets, the
    paper's design), so both profiles and the log-ratio table are <= D
    rows — aggregated once, then BROADCAST; the corpus side is one explode
    -> per-doc partial-aggregable counts -> broadcast join -> one more
    partial aggregate. No corpus-sized shuffle except the per-doc groupBy,
    no global sort: the keep rule is a percentile THRESHOLD (exact order
    statistic here, `percentile_approx` at 100 TB) applied as a 1-row
    broadcast.
    Engine-stability: the per-feature log ratio is snapped at 9dp (each
    engine computes identical doubles from identical integers, then
    rounds), the per-doc mean at 6dp. Docs
    with zero tokens carry no features and are excluded by construction.
    Feature hash is the shared 60-bit md5 fold (`_tokhash60_spark` /
    '0x'||substr(md5,1,15)), positive so %-semantics agree cross-engine.
    """
    docs = (
        load(spark, sf_dir, "documents")
        .repartition(F.col("doc_id"))  # width pin: parquet read is 2 splits
        .select("doc_id", "lang", _tokens_col().alias("t"))
    )
    uni = docs.select("doc_id", "lang", F.explode("t").alias("s"))
    # CASE-free generator child, pre-filtered (sequence(1,0) descends)
    bi = docs.filter(F.size("t") >= 2).select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"
            )
        ).alias("s"),
    )
    fcounts = (
        uni.unionByName(bi)
        .select("doc_id", "lang", (_tokhash60_spark(F.col("s")) % _DSIR_D).alias("f"))
        .groupBy("doc_id", "lang", "f")
        .agg(F.count("*").alias("c"))
    )
    raw = fcounts.groupBy("f").agg(F.sum("c").alias("rf"))
    tgt = (
        fcounts.filter(F.col("lang") == _DSIR_TARGET)
        .groupBy("f")
        .agg(F.sum("c").alias("tf"))
    )
    tot = raw.agg(F.sum("rf").alias("R")).crossJoin(tgt.agg(F.sum("tf").alias("T")))
    prof = (
        raw.join(tgt, "f", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "f",
            F.round(
                F.log((F.coalesce("tf", F.lit(0)) + 1.0) / (F.col("T") + _DSIR_D))
                - F.log((F.col("rf") + 1.0) / (F.col("R") + _DSIR_D)),
                9,
            ).alias("lr"),
        )
    )
    scored = (
        fcounts.join(F.broadcast(prof), "f")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("c").cast("long").alias("n_feats"),
            F.round(F.sum(F.col("c") * F.col("lr")) / F.sum("c"), 6).alias("dsir_weight"),
        )
    )
    thr = scored.agg(F.percentile("dsir_weight", 0.75).alias("t"))
    return scored.crossJoin(F.broadcast(thr)).select(
        "doc_id",
        "lang",
        "n_feats",
        "dsir_weight",
        (F.col("dsir_weight") >= F.col("t")).alias("kept"),
    )

