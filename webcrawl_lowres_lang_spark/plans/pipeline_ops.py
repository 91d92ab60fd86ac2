"""Training-data pipeline operators over the driver tables: text analysis
(token stats, quality scoring, n-gram language-ID, fingerprinting,
repetition signals, PII scrubbing, length percentiles, perplexity
buckets) and sampling (stratified balance, temperature resampling, DSIR
importance selection).

Nothing on the crawl path imports this module; its tests are its only
callers. Every operator is a declarative DataFrame plan with a DuckDB
oracle twin; where a signal doesn't exist naturally in the synthetic
tables (PII), the query plants it deterministically from doc_id so the
operator's positive path is actually exercised.

Cross-engine determinism rules used throughout:
- shared hash = md5 hex (present in both engines); 60-bit numeric token
  hashes are ``conv(substr(md5,1,15),16,10)`` in Spark and the equivalent
  hex fold in DuckDB;
- float aggregates rounded on both sides; ranking ties always broken by
  an id column;
- integer dot products wherever a score feeds an argmax (exact math).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import load, register

# Intermediate frames persisted by query builders (text_langid_ngram's gram
# aggregation). A registered query fn returns a LAZY DataFrame, so the
# builder cannot unpersist before the caller's action runs; callers that
# invoke queries repeatedly in one session call release_persisted() after
# each consuming action.
_PERSISTED: list[DataFrame] = []


def release_persisted() -> None:
    while _PERSISTED:
        _PERSISTED.pop().unpersist()

# ---------------------------------------------------------------------------
# shared builders
# ---------------------------------------------------------------------------


def _widen(df: DataFrame, key: str = "doc_id") -> DataFrame:
    """Width pin for CPU-dense map chains (guide §2.5 input skew / §6).

    Every driver table arrives as ONE parquet row group, so its scan is a
    single task and everything map-side above it — tokenize, md5 hashes,
    gram explodes — runs on one core no matter how many the session has.
    A hash repartition on the row key moves only the slim source rows
    (~100s of KB here) and lets the expensive per-row compute run at the
    session's shuffle width. The partition count follows
    spark.sql.shuffle.partitions (no local constant), and at 100 TB — where
    scans are thousands of splits wide on their own — AQE may coalesce
    this exchange instead of letting it over-split.
    """
    return df.repartition(F.col(key))


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
# Text analysis
# ---------------------------------------------------------------------------


@register(
    "text_token_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
           ROUND(len(array_to_string(t, '')) * 1.0 / len(t), 4) AS avg_token_len
    FROM (SELECT doc_id, {_TOKENS} AS t FROM documents)
    WHERE len(t) > 0
    """,
    survey_ref="A10,C10,F6",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _widen(load(spark, sf_dir, "documents")).select("doc_id", _tokens_col().alias("t"))
    d = d.filter(F.size("t") > 0)
    return d.select(
        "doc_id",
        F.size("t").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("t")).cast("long").alias("n_distinct"),
        F.round(
            F.length(F.array_join("t", "")) * 1.0 / F.size("t"), 4
        ).alias("avg_token_len"),
    )


_STOPWORDS = "('the', 'a', 'and', 'of', 'to', 'in')"


@register(
    "text_quality_score",
    oracle=f"""
    SELECT doc_id,
           CAST(n_chars AS BIGINT) AS n_chars,
           CAST(len(t) AS BIGINT) AS n_tokens,
           ROUND(len(list_filter(t, x -> x IN {_STOPWORDS})) * 1.0 / len(t), 4) AS stopword_ratio,
           ROUND(len(list_distinct(t)) * 1.0 / len(t), 4) AS ttr,
           (len(t) >= 20 AND len(list_distinct(t)) * 1.0 / len(t) >= 0.2) AS quality_ok
    FROM (SELECT doc_id, n_chars, {_TOKENS} AS t FROM documents)
    WHERE len(t) > 0
    """,
    survey_ref="A13,F7,F8",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Quality heuristics a pretraining pipeline gates on: length, stopword
    # ratio (fluency proxy), type-token ratio (repetition proxy).
    stop = F.array(*[F.lit(s) for s in ["the", "a", "and", "of", "to", "in"]])
    d = _widen(load(spark, sf_dir, "documents")).select("doc_id", "n_chars", _tokens_col().alias("t"))
    d = d.filter(F.size("t") > 0)
    ttr = F.size(F.array_distinct("t")) * 1.0 / F.size("t")
    return d.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.size("t").cast("long").alias("n_tokens"),
        F.round(
            F.size(F.filter(F.col("t"), lambda x: F.array_contains(stop, x))) * 1.0 / F.size("t"),
            4,
        ).alias("stopword_ratio"),
        F.round(ttr, 4).alias("ttr"),
        ((F.size("t") >= 20) & (ttr >= 0.2)).alias("quality_ok"),
    )


@register(
    "text_langid_ngram",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, unnest({_TOKENS}) AS tok FROM documents
    ),
    grams AS (
      SELECT doc_id, lang, unnest(
        list_transform(range(1, greatest(len(tok) - 2, 0) + 1),
                       i -> substr(tok, i, 3))) AS g
      FROM toks WHERE len(tok) >= 3
    ),
    profile AS (
      SELECT lang AS plang, g, COUNT(*) AS pc FROM grams GROUP BY lang, g
    ),
    docg AS (SELECT doc_id, g, COUNT(*) AS dc FROM grams GROUP BY doc_id, g),
    dots AS (
      SELECT d.doc_id, p.plang, CAST(SUM(d.dc * p.pc) AS BIGINT) AS dot
      FROM docg d JOIN profile p ON d.g = p.g
      GROUP BY d.doc_id, p.plang
    ),
    pn AS (SELECT plang, CAST(SUM(pc * pc) AS BIGINT) AS pnorm2 FROM profile GROUP BY plang)
    SELECT doc_id, plang AS predicted_lang
    FROM (SELECT d.doc_id, d.plang,
                 ROW_NUMBER() OVER (
                   PARTITION BY d.doc_id
                   ORDER BY (d.dot * d.dot * 1.0 / pn.pnorm2) DESC, d.plang ASC) AS rn
          FROM dots d JOIN pn ON pn.plang = d.plang) t
    WHERE rn = 1
    """,
    survey_ref="U1,F11,A12",
)
def text_langid_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Character-trigram language ID: per-lang trigram profiles (trained on
    # the corpus itself), docs scored by normalized dot product, argmax.
    # Integer dot products -> exact math -> deterministic argmax (tie-break
    # on lang). This is the engine's lingua stand-in (reference U1) built
    # from first principles.
    scored = _langid_scored(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("plang"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("plang").alias("predicted_lang"))
    )


def _langid_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, plang, score) for every doc x language profile — the
    shared trigram-model subtree behind text_langid_ngram (argmax) and
    text_langid_confidence (calibrated threshold labeling)."""
    toks = _widen(load(spark, sf_dir, "documents")).select(
        "doc_id", "lang", F.explode(_tokens_col()).alias("tok")
    ).filter(F.length("tok") >= 3)
    grams = toks.select(
        "doc_id",
        "lang",
        F.explode(F.expr("transform(sequence(1, greatest(length(tok) - 2, 0)), i -> substr(tok, i, 3))")).alias("g"),
    )
    # ONE aggregation over the exploded subtree, CACHED: `grams` used to
    # feed `profile` and `docg` directly, so the tokenize+double-explode
    # branch executed twice (two aggregates over one un-materialized
    # subtree — the recompute disease). A doc has exactly one lang, so the
    # slim (doc_id, lang, g, dc) counts are simultaneously the per-doc
    # vector (docg) and, re-aggregated over docs, the per-lang profile —
    # the cache holds post-shuffle aggregated rows, orders of magnitude
    # smaller than the raw gram stream.
    gcounts = grams.groupBy("doc_id", "lang", "g").agg(F.count("*").alias("dc")).persist()
    _PERSISTED.append(gcounts)  # released via release_persisted()
    profile = gcounts.groupBy(F.col("lang").alias("plang"), "g").agg(F.sum("dc").alias("pc"))
    docg = gcounts.select("doc_id", "g", "dc")
    # the profile is BOUNDED (languages x observed trigram space — ~50k
    # rows at any corpus size, the same ship-the-model shape as
    # text_perplexity_bucket's broadcast LM), so broadcast it: the docg
    # side then never shuffles on g — one corpus-sized exchange
    # (groupBy(doc_id, plang), partial-aggregable) instead of two
    dots = (
        docg.join(F.broadcast(profile), "g")
        .groupBy("doc_id", "plang")
        .agg(F.sum(F.col("dc") * F.col("pc")).cast("long").alias("dot"))
    )
    pn = profile.groupBy("plang").agg(F.sum(F.col("pc") * F.col("pc")).cast("long").alias("pnorm2"))
    return dots.join(F.broadcast(pn), "plang").withColumn(
        "score", F.col("dot") * F.col("dot") * 1.0 / F.col("pnorm2")
    )


@register(
    "text_langid_confidence",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, unnest({_TOKENS}) AS tok FROM documents
    ),
    grams AS (
      SELECT doc_id, lang, unnest(
        list_transform(range(1, greatest(len(tok) - 2, 0) + 1),
                       i -> substr(tok, i, 3))) AS g
      FROM toks WHERE len(tok) >= 3
    ),
    profile AS (
      SELECT lang AS plang, g, COUNT(*) AS pc FROM grams GROUP BY lang, g
    ),
    docg AS (SELECT doc_id, g, COUNT(*) AS dc FROM grams GROUP BY doc_id, g),
    dots AS (
      SELECT d.doc_id, p.plang, CAST(SUM(d.dc * p.pc) AS BIGINT) AS dot
      FROM docg d JOIN profile p ON d.g = p.g
      GROUP BY d.doc_id, p.plang
    ),
    pn AS (SELECT plang, CAST(SUM(pc * pc) AS BIGINT) AS pnorm2 FROM profile GROUP BY plang),
    scores AS (
      SELECT d.doc_id, d.plang, d.dot * d.dot * 1.0 / pn.pnorm2 AS score
      FROM dots d JOIN pn ON pn.plang = d.plang
    ),
    tot AS (SELECT doc_id, SUM(score) AS tot FROM scores GROUP BY doc_id),
    top AS (
      SELECT doc_id, plang, score FROM (
        SELECT doc_id, plang, score,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, plang ASC) AS rn
        FROM scores) WHERE rn = 1
    )
    SELECT p.doc_id,
           p.plang AS predicted_lang,
           ROUND(p.score / t.tot, 6) AS confidence,
           CASE WHEN ROUND(p.score / t.tot, 6) > 0.5 THEN p.plang
                ELSE 'NON-' || p.plang END AS label
    FROM top p JOIN tot t ON p.doc_id = t.doc_id
    """,
    survey_ref="U1,F11",
)
def text_langid_confidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Calibrated confidence for the trigram langid (reference U1/F11
    # semantics, nlp.py:403-416: lingua's top-language confidence compared
    # against a threshold; below it the doc is labeled NON-<lang>). The
    # trigram model's per-lang scores are normalized into a [0,1]
    # distribution over languages: confidence = score_top / sum(scores).
    # The threshold compares the ROUNDED confidence on both engines so a
    # borderline double can never flip the label between Spark and the
    # oracle. 0.5 plays the role of the reference's 0.98 — the reference
    # threshold is lingua-calibrated; this one splits a 3-language
    # trigram-score simplex (uniform = 1/3) at "more likely than all
    # others combined".
    scored = _langid_scored(spark, sf_dir)
    tot = scored.groupBy("doc_id").agg(F.sum("score").alias("tot"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("plang"))
    top = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    conf = F.round(F.col("score") / F.col("tot"), 6)
    return top.join(tot, "doc_id").select(
        "doc_id",
        F.col("plang").alias("predicted_lang"),
        conf.alias("confidence"),
        F.when(conf > 0.5, F.col("plang"))
        .otherwise(F.concat(F.lit("NON-"), F.col("plang")))
        .alias("label"),
    )


@register(
    "text_fingerprint",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id,
             array_to_string(list_sort({_TOKENS}), ' ') AS text
      FROM documents
    )
    SELECT fp, COUNT(*) AS cnt, CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id
    FROM (SELECT doc_id,
                 md5(array_to_string(list_sort(list_distinct({_TOKENS})), ' ')) AS fp
          FROM corpus)
    GROUP BY fp HAVING COUNT(*) > 1
    """,
    survey_ref="C1,E2",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Order-insensitive document fingerprint (sorted distinct token set ->
    # md5): catches shuffled/reordered copies that exact hashing misses.
    d = _widen(load(spark, sf_dir, "documents").select("doc_id", "text"))
    shuffled = d.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.array_join(F.array_sort(_tokens_col()), " ").alias("text"),
    )
    corpus = d.unionByName(shuffled)
    fp = F.md5(F.array_join(F.array_sort(F.array_distinct(_tokens_col())), " "))
    return (
        corpus.select("doc_id", fp.alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("cnt"), F.min("doc_id").alias("keep_doc_id"))
        .filter(F.col("cnt") > 1)
    )


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
# Repetition filtering (Gopher/C4-style quality signals)
# ---------------------------------------------------------------------------

# Gopher (Rae et al. 2021, table A1) gates pretraining docs on repetition:
# duplicate-line/-paragraph fractions and top-/duplicate-n-gram character
# fractions. The fixture corpus is single-line whitespace text, so the
# word-level analogues are computed here: duplicate word / bigram / trigram
# fractions plus the top-bigram mass. Thresholds are calibrated to the
# synthetic corpus (sf0.01: dup_bigram>=0.05 flags ~22%, top_bigram>=0.10
# flags ~22%) so the gate splits non-trivially; a production deployment
# would substitute Gopher's published character-fraction cutoffs.
#
# Scale shape: every signal is computed INSIDE the row with higher-order
# functions (transform/aggregate over the token array) — zero shuffles,
# zero UDFs, whole-stage codegen end to end. At 100 TB this is a pure
# map-side pass that AQE never needs to touch; contrast a naive
# explode+groupBy(doc_id, ngram) plan, which shuffles every n-gram
# occurrence in the corpus twice.

# max multiplicity of any element in a sorted array: single aggregate pass
# tracking (prev, current-run, best-run). A multiplicity of 1 is NOT
# repetition — it would make top_bigram_frac = 2/n for every doc and flag
# short documents unconditionally — so the finisher zeroes it.
_TOP_RUN = """
aggregate(
  array_sort({arr}),
  named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'best', 0L),
  (a, x) -> named_struct(
     'prev', x,
     'run',  IF(a.prev IS NOT NULL AND x = a.prev, a.run + 1, 1L),
     'best', GREATEST(a.best, IF(a.prev IS NOT NULL AND x = a.prev, a.run + 1, 1L))),
  a -> IF(a.best >= 2L, a.best, 0L))
""".strip()


@register(
    "text_repetition_stats",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {_TOKENS} AS t FROM documents
    ), z AS (
      SELECT doc_id, t, len(t) AS n,
             list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) AS b,
             list_transform(range(1, len(t) - 1),
                            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS g
      FROM base WHERE len(t) >= 3
    ), top AS (
      SELECT doc_id,
             CASE WHEN MAX(c) >= 2 THEN MAX(c) ELSE 0 END AS topc
      FROM (
        SELECT doc_id, bg, COUNT(*) AS c
        FROM (SELECT doc_id, unnest(b) AS bg FROM z) GROUP BY doc_id, bg
      ) GROUP BY doc_id
    ), sig AS (
      SELECT z.doc_id,
             CAST(n AS BIGINT) AS n_tokens,
             ROUND(1.0 - len(list_distinct(t)) * 1.0 / n, 4) AS dup_word_frac,
             ROUND(1.0 - len(list_distinct(b)) * 1.0 / len(b), 4) AS dup_bigram_frac,
             ROUND(1.0 - len(list_distinct(g)) * 1.0 / len(g), 4) AS dup_trigram_frac,
             ROUND(topc * 2.0 / n, 4) AS top_bigram_frac
      FROM z JOIN top ON z.doc_id = top.doc_id
    )
    SELECT *, (dup_bigram_frac >= 0.05 OR top_bigram_frac >= 0.10) AS repetitive
    FROM sig
    """,
    survey_ref="A10,F6,F7",
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NO width pin here, deliberately: this op is map-side only (zero
    # aggregations/joins — plan shape pinned by test_repetition.py), so a
    # repartition would add the op's ONLY exchange to save nothing at
    # scale, where the scan is already thousands of splits wide.
    d = load(spark, sf_dir, "documents").select("doc_id", _tokens_col().alias("t"))
    d = d.filter(F.size("t") >= 3).withColumn("n", F.size("t"))
    # word n-grams as expr strings (t[i] is 0-based in Spark SQL)
    d = d.withColumn(
        "b",
        F.expr("transform(sequence(0, n - 2), i -> concat(t[i], ' ', t[i + 1]))"),
    ).withColumn(
        "g",
        F.expr(
            "transform(sequence(0, n - 3),"
            " i -> concat(t[i], ' ', t[i + 1], ' ', t[i + 2]))"
        ),
    )
    dup = lambda arr: F.round(  # noqa: E731
        1.0 - F.size(F.array_distinct(arr)) * 1.0 / F.size(arr), 4
    )
    sig = d.select(
        "doc_id",
        F.col("n").cast("long").alias("n_tokens"),
        dup("t").alias("dup_word_frac"),
        dup("b").alias("dup_bigram_frac"),
        dup("g").alias("dup_trigram_frac"),
        F.round(F.expr(_TOP_RUN.format(arr="b")) * 2.0 / F.col("n"), 4).alias(
            "top_bigram_frac"
        ),
    )
    # flag on the ROUNDED values (engine-stable, same convention as
    # text_langid_confidence's threshold labeling)
    return sig.withColumn(
        "repetitive",
        (F.col("dup_bigram_frac") >= 0.05) | (F.col("top_bigram_frac") >= 0.10),
    )


# ---------------------------------------------------------------------------
# PII scrubbing (training corpora must redact contact data before release)
# ---------------------------------------------------------------------------

# Patterns restricted to the Java-regex ∩ RE2 common subset (no lookaround,
# no backrefs) so the engine and the DuckDB twin compile the SAME regexes.
_PII_EMAIL = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PII_PHONE = r"\b555-[0-9]{3}-[0-9]{4}\b"
_PII_IP = r"\b10\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"

# Deterministic PII injection — the driver tables carry no contact data, so
# the query plants it from doc_id: the fixture is synthesized inside the
# query, identically in both dialects, so the operator's positive path is
# actually exercised.
_PII_DOC_SPARK = """
concat(text, CASE CAST(doc_id % 4 AS INT)
  WHEN 0 THEN concat(' reach me at user', CAST(doc_id AS STRING), '@example.com today')
  WHEN 1 THEN concat(' hotline 555-', lpad(CAST(doc_id % 1000 AS STRING), 3, '0'),
                     '-', lpad(CAST(doc_id % 10000 AS STRING), 4, '0'), ' now')
  WHEN 2 THEN concat(' server at 10.', CAST(doc_id % 256 AS STRING),
                     '.0.', CAST((doc_id * 7) % 256 AS STRING), ' up')
  ELSE '' END)
""".strip()

_PII_DOC_DUCK = """
text || (CASE CAST(doc_id % 4 AS INT)
  WHEN 0 THEN ' reach me at user' || CAST(doc_id AS VARCHAR) || '@example.com today'
  WHEN 1 THEN ' hotline 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
            || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' now'
  WHEN 2 THEN ' server at 10.' || CAST(doc_id % 256 AS VARCHAR)
            || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR) || ' up'
  ELSE '' END)
""".strip()


@register(
    "text_pii_scrub",
    oracle=f"""
    WITH pii AS (SELECT doc_id, {_PII_DOC_DUCK} AS body FROM documents),
    counted AS (
      SELECT doc_id, body,
             len(regexp_extract_all(body, '{_PII_EMAIL}')) AS n_emails,
             len(regexp_extract_all(body, '{_PII_PHONE}')) AS n_phones,
             len(regexp_extract_all(body, '{_PII_IP}')) AS n_ips,
             regexp_replace(regexp_replace(regexp_replace(body,
               '{_PII_EMAIL}', '<EMAIL>', 'g'),
               '{_PII_PHONE}', '<PHONE>', 'g'),
               '{_PII_IP}', '<IP>', 'g') AS clean
      FROM pii
    )
    SELECT doc_id,
           CAST(n_emails AS BIGINT) AS n_emails,
           CAST(n_phones AS BIGINT) AS n_phones,
           CAST(n_ips AS BIGINT) AS n_ips,
           CAST(n_emails + n_phones + n_ips AS BIGINT) AS pii_total,
           CAST(length(clean) AS BIGINT) AS clean_chars,
           md5(clean) AS clean_md5
    FROM counted
    """,
    survey_ref="C6,F2,U3",
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detect-and-redact PII (emails / phones / IPs) with counts per doc.

    Whole-stage-codegen path: three JVM regexp_count + a chained
    regexp_replace — one narrow map stage, no shuffle, no Python. The
    redaction order (email → phone → IP) is fixed and identical in the
    oracle so overlapping matches can never diverge. Output carries
    md5(clean) rather than the scrubbed body: the correctness gate hashes
    the full redacted text without shipping it, the exact shape a 100 TB
    scrub audit wants (counts + content digest per shard).
    """
    d = _widen(load(spark, sf_dir, "documents")).select("doc_id", F.expr(_PII_DOC_SPARK).alias("body"))
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("body"), _PII_EMAIL, "<EMAIL>"),
            _PII_PHONE,
            "<PHONE>",
        ),
        _PII_IP,
        "<IP>",
    )
    d = d.select(
        "doc_id",
        F.regexp_count("body", F.lit(_PII_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count("body", F.lit(_PII_PHONE)).cast("long").alias("n_phones"),
        F.regexp_count("body", F.lit(_PII_IP)).cast("long").alias("n_ips"),
        clean.alias("clean"),
    )
    return d.select(
        "doc_id",
        "n_emails",
        "n_phones",
        "n_ips",
        (F.col("n_emails") + F.col("n_phones") + F.col("n_ips")).alias("pii_total"),
        F.length("clean").cast("long").alias("clean_chars"),
        F.md5("clean").alias("clean_md5"),
    )


# ---------------------------------------------------------------------------
# Corpus length-distribution report (mixing/mix-audit percentiles)
# ---------------------------------------------------------------------------


@register(
    "text_length_percentiles",
    oracle=f"""
    WITH toks AS (SELECT lang, len({_TOKENS}) AS n FROM documents)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(quantile_cont(n, 0.5), 4) AS p50_tokens,
           ROUND(quantile_cont(n, 0.9), 4) AS p90_tokens,
           ROUND(quantile_cont(n, 0.99), 4) AS p99_tokens,
           CAST(MAX(n) AS BIGINT) AS max_tokens
    FROM toks GROUP BY lang
    """,
    survey_ref="A5,A9,A16",
)
def text_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token-length percentiles (exact linear-interpolation
    percentile on both engines — Spark `percentile`, DuckDB `quantile_cont`
    share the definition, so the oracle matches to float tolerance).

    Exact percentile sorts per group, which is fine for a bounded lang
    cardinality; at 100 TB swap `percentile` for `percentile_approx`
    (t-digest sketch, partial-aggregable) and widen the oracle tolerance —
    noted here rather than silently approximating under a hash-exact gate.
    """
    d = _widen(load(spark, sf_dir, "documents")).select("lang", F.size(_tokens_col()).alias("n"))
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.expr("percentile(n, 0.5)"), 4).alias("p50_tokens"),
        F.round(F.expr("percentile(n, 0.9)"), 4).alias("p90_tokens"),
        F.round(F.expr("percentile(n, 0.99)"), 4).alias("p99_tokens"),
        F.max("n").cast("long").alias("max_tokens"),
    )


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
    statistic here, `percentile_approx` at 100 TB — the same documented
    swap as text_length_percentiles) applied as a 1-row broadcast.
    Engine-stability: the per-feature log ratio is snapped at 9dp (each
    engine computes identical doubles from identical integers, then
    rounds), the per-doc mean at 6dp — the perplexity op's recipe. Docs
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


# ---------------------------------------------------------------------------
# Perplexity-style quality bucketing (CCNet head/middle/tail)
# ---------------------------------------------------------------------------

# CCNet (Wenzek et al. 2020 §3.3) buckets each language's crawl by the
# perplexity of a clean-reference language model (KenLM on Wikipedia) and
# keeps the low-perplexity "head" for training. The stand-in model here is
# an add-one-smoothed char-trigram LM trained on a deterministic 30%
# md5-hash split of each language (the role Wikipedia plays in CCNet);
# docs are scored by mean negative log-likelihood and assigned
# head/middle/tail by per-language perplexity tertile THRESHOLDS —
# CCNet's cutoff-percentile design, not a global sort.
_PPL_REF_CUT = 345876451382054092  # 0.3 * 16^15, exact integer on both engines


@register(
    "text_perplexity_bucket",
    oracle=f"""
    WITH toks AS (SELECT doc_id, lang, unnest({_TOKENS}) AS tok FROM documents),
    grams AS (
      SELECT doc_id, lang, unnest(
        list_transform(range(1, greatest(len(tok) - 2, 0) + 1),
                       i -> substr(tok, i, 3))) AS g
      FROM toks WHERE len(tok) >= 3
    ),
    gcounts AS (
      SELECT doc_id, lang, g, COUNT(*) AS dc FROM grams GROUP BY doc_id, lang, g
    ),
    model AS (
      SELECT lang, g, SUM(dc) AS pc FROM gcounts
      WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
            < {_PPL_REF_CUT}
      GROUP BY lang, g
    ),
    mstats AS (SELECT lang, SUM(pc) AS tot, COUNT(*) AS v FROM model GROUP BY lang),
    scored AS (
      SELECT c.doc_id, c.lang, SUM(c.dc) AS n,
             SUM(c.dc * ln((COALESCE(m.pc, 0) + 1.0) / (s.tot + s.v))) AS lp
      FROM gcounts c
      LEFT JOIN model m ON m.lang = c.lang AND m.g = c.g
      JOIN mstats s ON s.lang = c.lang
      GROUP BY c.doc_id, c.lang
    ),
    ppl AS (SELECT doc_id, lang, n,
            ROUND(exp(ROUND(-lp / n, 9)), 6) AS p6 FROM scored),
    ranked AS (
      SELECT lang, p6, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY p6) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS nl
      FROM ppl
    ),
    thr AS (
      SELECT lang,
             MAX(CASE WHEN rn <= CAST(ceil(nl / 3.0) AS BIGINT) THEN p6 END) AS t1,
             MAX(CASE WHEN rn <= CAST(ceil(2 * nl / 3.0) AS BIGINT) THEN p6 END) AS t2
      FROM ranked GROUP BY lang
    )
    SELECT p.doc_id, p.lang, CAST(p.n AS BIGINT) AS n_grams,
           p.p6 AS ppl,
           CASE WHEN p.p6 <= t.t1 THEN 'head'
                WHEN p.p6 <= t.t2 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM ppl p JOIN thr t ON t.lang = p.lang
    """,
    survey_ref="U1,A10,A11,F11",
)
def text_perplexity_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality bucketing: per-language char-trigram LM trained
    on a clean 30% hash split, every doc scored by perplexity, and assigned
    head/middle/tail by per-language tertile thresholds.

    Scale shape: the LM is a bounded table (languages x observed trigram
    space) aggregated once and BROADCAST — the same ship-the-model-to-
    workers shape as CCNet's KenLM binaries; scoring is one broadcast join
    + partial-aggregable sum per doc, no corpus-sized shuffle. Bucketing
    goes through per-language tertile THRESHOLDS joined back broadcast
    (CCNet's cutoff design), computed as exact order statistics of the
    rounded perplexities here (engine-identical data values); at 100 TB
    swap the threshold subquery for `percentile_approx` (t-digest,
    partial-aggregable) — the scoring/assignment plan is unchanged.
    Perplexities are rounded to 6 decimals on BOTH engines before
    thresholding so a last-ulp libm divergence cannot flip a bucket. Docs
    with zero trigrams (all tokens shorter than 3 chars) have no
    perplexity and are excluded by construction.
    """
    # width pin: the token+gram double explode and its partial aggregate
    # otherwise run at parquet read width (2 file splits at sf0.1)
    toks = (
        load(spark, sf_dir, "documents")
        .repartition(F.col("doc_id"))
        .select("doc_id", "lang", F.explode(_tokens_col()).alias("tok"))
        .filter(F.length("tok") >= 3)
    )
    grams = toks.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(length(tok) - 2, 0)),"
                " i -> substr(tok, i, 3))"
            )
        ).alias("g"),
    )
    # one gram aggregation, cached: feeds the model build AND the scoring
    # join (same recompute-disease fix as _langid_scored)
    gcounts = grams.groupBy("doc_id", "lang", "g").agg(F.count("*").alias("dc")).persist()
    _PERSISTED.append(gcounts)
    model = (
        gcounts.filter(_sample_hash_int_col() < F.lit(_PPL_REF_CUT))
        .groupBy("lang", "g")
        .agg(F.sum("dc").alias("pc"))
    )
    mstats = model.groupBy("lang").agg(
        F.sum("pc").alias("tot"), F.count("*").alias("v")
    )
    scored = (
        gcounts.join(F.broadcast(model), ["lang", "g"], "left")
        .join(F.broadcast(mstats), "lang")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("dc").alias("n"),
            F.sum(
                F.col("dc")
                * F.log(
                    (F.coalesce("pc", F.lit(0)) + 1.0)
                    / (F.col("tot") + F.col("v"))
                )
            ).alias("lp"),
        )
    )
    # snap the mean NLL to 9 decimals BEFORE exp: lp is a float sum whose
    # engine-order noise (~1e-15) exp would amplify across the 6dp rounding
    # edge of the perplexity (hit once on sf0.01); after the snap both
    # engines exponentiate an identical double
    ppl = scored.select(
        "doc_id",
        "lang",
        "n",
        F.round(F.exp(F.round(-F.col("lp") / F.col("n"), 9)), 6).alias("p6"),
    ).persist()
    _PERSISTED.append(ppl)
    # order-statistic thresholds, NOT interpolated quantiles: t1 is the
    # ceil(n/3)-th smallest rounded perplexity — a DATA VALUE, identical in
    # any engine. Interpolated percentile/quantile_cont diverge structurally
    # when p*(n-1) lands exactly on an index (fp 1/3 rounds DOWN in Spark,
    # so the boundary doc interpolates a hair below its own value and flips
    # buckets; measured on sf0.001 en, n=193).
    w_rank = Window.partitionBy("lang").orderBy("p6")
    w_all = Window.partitionBy("lang")
    ranked = ppl.select(
        "lang",
        "p6",
        F.row_number().over(w_rank).alias("rn"),
        F.count("*").over(w_all).alias("nl"),
    )
    thr = ranked.groupBy("lang").agg(
        F.max(
            F.when(F.col("rn") <= F.ceil(F.col("nl") / 3.0).cast("long"), F.col("p6"))
        ).alias("t1"),
        F.max(
            F.when(
                F.col("rn") <= F.ceil(2 * F.col("nl") / 3.0).cast("long"), F.col("p6")
            )
        ).alias("t2"),
    )
    return ppl.join(F.broadcast(thr), "lang").select(
        "doc_id",
        "lang",
        F.col("n").cast("long").alias("n_grams"),
        # p6 verbatim — re-rounding an already-rounded double diverges
        # between engines (Spark rounds the decimal string repr, DuckDB the
        # binary value: 75.14365 -> 75.1437 vs 75.1436)
        F.col("p6").alias("ppl"),
        F.when(F.col("p6") <= F.col("t1"), F.lit("head"))
        .when(F.col("p6") <= F.col("t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )
