"""Training-data pipeline operators over the driver tables: deduplication
(exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding-cosine),
semantic dedup, and text analysis (token stats, quality scoring, n-gram
language-ID, fingerprinting).

These extend the reference's dedup machinery (URL-hash seen set J5,
content-hash clone J6) to the content-level dedup a 100 TB training-data
pipeline needs. Every operator is a declarative DataFrame plan with a
DuckDB oracle twin; where duplicates don't exist naturally in the
synthetic tables, the query UNIONS the table with deterministically
mutated copies (doc_id + 1_000_000) so the operator's positive path is
actually exercised.

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

from .registry import REGISTRY, load, register

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
    single task and everything map-side above it — tokenize, md5/minhash
    signatures, gram explodes, cosine math — runs on one core no matter
    how many the session has (measured: the whole minhash signature
    pipeline at sf0.1 ran 1 task before the band shuffle). A hash
    repartition on the row key moves only the slim source rows (~100s of
    KB here) and lets the expensive per-row compute run at the session's
    shuffle width. The partition count follows spark.sql.shuffle.partitions
    (no local constant), and at 100 TB — where scans are thousands of
    splits wide on their own — AQE may coalesce this exchange instead of
    letting it over-split; identical rule to the width pins
    dedup_duplicate_spans / text_perplexity_bucket already carry.
    """
    return df.repartition(F.col(key))


_TOKENS = "list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' '), x -> x != '')"


def _tokens_col():
    """Normalized word tokens (engine side). One expr string — the
    lambda-composed form costs several py4j round-trips per query build."""
    return F.expr(
        "filter(split(regexp_replace(lower(text), '[^a-z0-9 ]', ' '), ' '), x -> x != '')"
    )


def _docs_with_exact_copies(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _widen(load(spark, sf_dir, "documents").select("doc_id", "text"))
    copies = d.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    return d.unionByName(copies)


_DOCS_EXACT_SQL = """
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents
"""


def _docs_with_mutated_copies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Original docs + near-duplicate copies (every 7th token dropped)."""
    d = _widen(load(spark, sf_dir, "documents").select("doc_id", "text"))
    toks = _tokens_col()
    mutated = d.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.array_join(F.filter(toks, lambda x, i: (i % 7) != 6), " ").alias("text"),
    )
    return d.unionByName(mutated)


_DOCS_MUTATED_SQL = f"""
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id,
             array_to_string(
               [t[i] for i in range(1, len(t) + 1) if (i % 7) != 0], ' ') AS text
      FROM (SELECT doc_id, {_TOKENS} AS t FROM documents)
"""


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle=f"""
    WITH corpus AS ({_DOCS_EXACT_SQL})
    SELECT md5(text) AS text_hash, COUNT(*) AS dup_cnt,
           CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id
    FROM corpus GROUP BY md5(text) HAVING COUNT(*) > 1
    """,
    survey_ref="J6,A3",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact content dedup: hash-groupBy, keep the earliest exemplar
    # (reference: file_hash clone semantics, sql.py:167-172).
    corpus = _docs_with_exact_copies(spark, sf_dir)
    return (
        corpus.groupBy(F.md5(F.col("text")).alias("text_hash"))
        .agg(F.count("*").alias("dup_cnt"), F.min("doc_id").alias("keep_doc_id"))
        .filter(F.col("dup_cnt") > 1)
    )


_N_MINHASH = 12
_BAND_SIZE = 3  # 4 bands of 3 -> pairs sharing any band become candidates
# standard LSH hot-bucket cap: a band bucket larger than this is a stop-shingle
# artifact (near-constant content); pairing inside it is O(B^2) for near-zero
# signal, so those buckets are EXPLICITLY skipped — on both engines, so the cap
# is part of the operator's defined semantics, not a silent truncation.
_MAX_BUCKET = 64

# Hash plan (round 1 spent 12 string md5s per shingle — one per signature
# slot; 43% of the whole bench suite):
# - each TOKEN is md5'd once, hex-folded to a 28-bit int;
# - a 3-gram shingle's hash composes its token hashes arithmetically:
#   (h1*TA + h2*TB + h3*TC) mod M — no shingle string is ever built;
# - the 12 signature slots derive from the shingle hash arithmetically:
#   slot_j = (h * A_j + B_j) mod M — the classic universal-hash family.
# M = 2^31 - 1 keeps every product < 2^61: no int64 overflow on either
# engine (DuckDB BIGINT throws on overflow rather than wrapping). All
# constants are fixed pseudo-randoms embedded as literals in BOTH engines.
_MH_M = 2_147_483_647
_MH_AB = []
_s = 0x5EED
for _j in range(_N_MINHASH + 3):
    _s = (_s * 6364136223846793005 + 1442695040888963407) % 2**63
    _a = _s % (_MH_M - 1) + 1
    _s = (_s * 6364136223846793005 + 1442695040888963407) % 2**63
    _b = _s % _MH_M
    _MH_AB.append((_a, _b))
(_MH_TA, _), (_MH_TB, _), (_MH_TC, _) = _MH_AB[_N_MINHASH:]
_MH_AB = _MH_AB[:_N_MINHASH]




# k-token gram hashes composed from per-token hashes: each token is
# xxhash64'd ONCE per doc, and every gram position is one multi-argument
# xxhash64 over the k token hashes (order-sensitive seed chaining in the
# JVM, no string building, no ANSI-mode overflow) — replacing the
# slice + array_join + string-xxhash64 per gram position, whose string
# construction dominated the CPU of the shingle family at 10x (stage
# profile: ~200 CPU-seconds in the gram-build stage alone). The hash is
# INTERNAL on every user: it only partitions grams into equality classes
# (same tokens in same order -> same hash; 64-bit collisions are the
# trade already documented at dedup_boilerplate_lines; a short doc's
# missing tail positions are NULL, which multi-arg xxhash64 skips —
# matching the shorter-join-string semantics of the string form), so
# results and oracles are unchanged.


def _gram_hash_sql(th_col: str, i_expr: str, k: int) -> str:
    """Positional hash of the k token hashes starting at 1-based position
    ``i_expr`` of the token-hash array ``th_col``."""
    args = ", ".join(f"element_at({th_col}, {i_expr} + {j})" for j in range(k))
    return f"xxhash64({args})"


# These three builders are single F.expr STRINGS, not composed Column
# lambdas: the lambda forms cost ~0.5s of driver time PER QUERY BUILD in
# py4j round-trips (hundreds of Column ops for 12 slots x several calls),
# while one expr string is one round-trip. Semantics identical.


def _token_hashes(col_name: str):
    """28-bit token hash: first 7 hex chars of md5, base-16 decoded."""
    return F.expr(
        f"transform({col_name}, t -> CAST(conv(substring(md5(t), 1, 7), 16, 10) AS BIGINT))"
    )


def _shingle_hashes_from_tokens(col_name: str):
    """3-gram shingle hashes composed from a MATERIALIZED token-hash array."""
    return F.expr(
        f"transform(sequence(0, greatest(size({col_name}) - 3, 0)), i -> "
        f"(coalesce(element_at({col_name}, i + 1), 0) * {_MH_TA}L"
        f" + coalesce(element_at({col_name}, i + 2), 0) * {_MH_TB}L"
        f" + coalesce(element_at({col_name}, i + 3), 0) * {_MH_TC}L) % {_MH_M}L)"
    )


def _minhash_sig_from_hashes(col_name: str):
    """12-slot signature from a MATERIALIZED shingle-hash column.

    Staging matters: inlining the hash expression inside these lambdas
    re-evaluates it per signature slot (Catalyst CSE cannot reach through
    lambda bindings) — 30x slower measured at sf0.1. Always build the hash
    array with withColumn first; each slot is then one cheap integer pass.
    """
    slots = ", ".join(
        f"array_min(transform({col_name}, h -> (h * {a}L + {b}L) % {_MH_M}L))"
        for a, b in _MH_AB
    )
    return F.expr(f"array({slots})")


_HEXFOLD7_SQL = (
    "list_reduce([strpos('0123456789abcdef', substr(md5({expr}), i, 1)) - 1 "
    "for i in range(1, 8)], (a, b) -> a * 16 + b)"
)

_SHINGLE_HASH_SQL = (
    f"list_transform(range(0, greatest(len(th) - 3, 0) + 1), "
    f"i -> (coalesce(th[i + 1], 0) * {_MH_TA} + coalesce(th[i + 2], 0) * {_MH_TB} "
    f"+ coalesce(th[i + 3], 0) * {_MH_TC}) % {_MH_M})"
)

_MINHASH_SIG_SQL = "[" + ", ".join(
    f"list_aggregate(list_transform(hs, h -> (h * {a} + {b}) % {_MH_M}), 'min')"
    for a, b in _MH_AB
) + "]"


def _minhash_pair_ctes(corpus_sql: str) -> str:
    """DuckDB CTE chain (no leading WITH) ending in ``pairs`` — the full
    shingle -> minhash -> band -> capped-bucket -> candidate-pair pipeline.
    Shared by the dedup_minhash_lsh oracle and the connected-components
    oracle so both engines agree on the edge set by construction."""
    return f"""corpus AS ({corpus_sql}),
    tokh AS (
      SELECT doc_id, list_transform(t, tk -> {_HEXFOLD7_SQL.format(expr='tk')}) AS th
      FROM (SELECT doc_id, {_TOKENS} AS t FROM corpus)
    ),
    hashed AS (
      SELECT doc_id, {_SHINGLE_HASH_SQL} AS hs FROM tokh
    ),
    sigs AS (SELECT doc_id, {_MINHASH_SIG_SQL} AS sig FROM hashed),
    bands AS (
      SELECT doc_id, b AS band_idx,
             array_to_string(list_slice(sig, b * {_BAND_SIZE} + 1, (b + 1) * {_BAND_SIZE}), '|') AS band_val
      FROM sigs, UNNEST(range(0, {_N_MINHASH // _BAND_SIZE})) AS u(b)
    ),
    capped AS (
      SELECT * FROM (
        SELECT doc_id, band_idx, band_val,
               COUNT(*) OVER (PARTITION BY band_idx, band_val) AS bsz
        FROM bands) t
      WHERE bsz <= {_MAX_BUCKET}
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM capped a JOIN capped b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
    )"""


@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_minhash_pair_ctes(_DOCS_MUTATED_SQL)}
    SELECT doc_a, doc_b FROM pairs
    """,
    survey_ref="J5,J6",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # MinHash+LSH near-dup candidates: shingle -> minhash -> band -> bucket
    # self-join. Scale shape: |docs| x n_bands rows shuffled on band value;
    # no pairwise work outside shared buckets, and hot buckets (> _MAX_BUCKET,
    # the stop-shingle pathology) are explicitly skipped on both engines.
    return _minhash_pairs_from_th(_mutated_th(spark, sf_dir))


def _minhash_candidate_pairs(corpus: DataFrame) -> DataFrame:
    """(doc_a < doc_b) candidate pairs sharing any LSH band bucket, from a
    ``(doc_id, text)`` corpus (tokenizes + hashes here)."""
    th = corpus.withColumn("__t", _tokens_col()).select(
        "doc_id", _token_hashes("__t").alias("__th")
    )
    return _minhash_pairs_from_th(th)


def _mutated_th(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, __th) token-hash corpus of originals + every-7th-dropped
    copies, hashing each ORIGINAL token exactly once.

    Equivalent to tokenize+hash over _docs_with_mutated_copies by
    construction: tokens match [a-z0-9]+ (no spaces), so
    array_join(' ') -> re-split -> drop-empties reproduces the filtered
    token array verbatim (including the empty-doc edge: join -> '' ->
    split -> [''] -> filter -> []), and a positional filter commutes with
    the elementwise md5 fold. The text-domain builder md5'd every token
    of every generation again (~2x the hash work; 3x for the chained
    corpus) — the md5 fold is the dominant CPU of the minhash family and
    is oracle-pinned, so computing it once per ORIGINAL token is the only
    available lever (guide §1.2: per-task work after plan shape)."""
    d = _widen(load(spark, sf_dir, "documents").select("doc_id", "text"))
    base = d.withColumn("__t", _tokens_col()).select(
        "doc_id", _token_hashes("__t").alias("__th")
    )
    g1 = base.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.filter("__th", lambda x, i: (i % 7) != 6).alias("__th"),
    )
    return base.unionByName(g1)


def _chained_th(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, __th) token-hash corpus of the chained-mutation
    generations (see _mutated_th for the equivalence argument)."""
    d = _widen(load(spark, sf_dir, "documents").select("doc_id", "text"))
    base = d.withColumn("__t", _tokens_col()).select(
        "doc_id", _token_hashes("__t").alias("__th")
    )
    g1f = F.filter("__th", lambda x, i: (i % 7) != 6)
    g1 = base.select((F.col("doc_id") + 1_000_000).alias("doc_id"), g1f.alias("__th"))
    g2 = base.select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.filter(g1f, lambda x, i: (i % 5) != 4).alias("__th"),
    )
    return base.unionByName(g1).unionByName(g2)


def _minhash_pairs_from_th(th_frame: DataFrame) -> DataFrame:
    """(doc_a < doc_b) candidate pairs from a ``(doc_id, __th)`` corpus."""
    sigs = (
        th_frame
        .withColumn("__hs", _shingle_hashes_from_tokens("__th"))
        .select(
            "doc_id",
            # array<string>: band values must render like DuckDB's
            # array_to_string over BIGINTs
            _minhash_sig_from_hashes("__hs").cast("array<string>").alias("sig"),
        )
    )
    n_bands = _N_MINHASH // _BAND_SIZE
    bands = sigs.select(
        "doc_id",
        F.expr(
            f"inline(transform(sequence(0, {n_bands - 1}), b -> "
            f"struct(b AS band_idx, "
            f"array_join(slice(sig, b * {_BAND_SIZE} + 1, {_BAND_SIZE}), '|') AS band_val)))"
        ),
    )
    # Bucket pairing WITHOUT a self-join: a/b branches over the band table
    # each recompute the whole tokenize/md5/signature pipeline (different
    # join-side aliases defeat ReusedExchange — same 2x-plan-cost disease
    # dedup_simhash had). One groupBy collects each bucket's (bounded,
    # <= _MAX_BUCKET) member list, the size filter IS the hot-bucket cap
    # (replacing the separate count-window pass), and pair expansion
    # happens inside the sorted array — <= C(64,2) pairs per bucket.
    grouped = bands.groupBy("band_idx", "band_val").agg(
        F.array_sort(F.collect_list("doc_id")).alias("ids")
    )
    bounded = grouped.filter((F.size("ids") >= 2) & (F.size("ids") <= _MAX_BUCKET))
    pairs = bounded.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (x, i) -> "
                "transform(slice(ids, i + 2, size(ids) - i - 1), "
                "y -> struct(x AS doc_a, y AS doc_b))))"
            )
        ).alias("p")
    )
    return pairs.select("p.doc_a", "p.doc_b").distinct()


# ---------------------------------------------------------------------------
# Transitive dup clustering (connected components over the near-dup graph)
# ---------------------------------------------------------------------------

# Pairwise near-dup detection is only half of web-scale dedup: the pairs
# form a GRAPH, and the unit a pipeline keeps/drops is its connected
# component (A~B and B~C must collapse to one cluster even when A~C never
# shares a bucket). The corpus below makes that transitivity real: two
# mutation generations, where gen2 drifts far enough from the original
# that many (orig, gen2) pairs are NOT direct LSH candidates and only the
# component walk links them through gen1.


def _docs_with_chained_copies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Originals + two chained mutation generations (near-dup chains).

    gen1 (doc_id + 1M) drops every 7th token of the original; gen2
    (doc_id + 2M) additionally drops every 5th remaining token — similar
    to gen1, farther from the original.
    """
    d = _widen(load(spark, sf_dir, "documents").select("doc_id", "text"))
    toks = _tokens_col()
    g1 = F.filter(toks, lambda x, i: (i % 7) != 6)
    g2 = F.filter(g1, lambda x, i: (i % 5) != 4)
    gen1 = d.select((F.col("doc_id") + 1_000_000).alias("doc_id"), F.array_join(g1, " ").alias("text"))
    gen2 = d.select((F.col("doc_id") + 2_000_000).alias("doc_id"), F.array_join(g2, " ").alias("text"))
    return d.unionByName(gen1).unionByName(gen2)


_DOCS_CHAINED_SQL = f"""
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id,
             array_to_string(
               [t[i] for i in range(1, len(t) + 1) if (i % 7) != 0], ' ') AS text
      FROM (SELECT doc_id, {_TOKENS} AS t FROM documents)
      UNION ALL
      SELECT doc_id + 2000000 AS doc_id,
             array_to_string(
               [g1[i] for i in range(1, len(g1) + 1) if (i % 5) != 0], ' ') AS text
      FROM (SELECT doc_id,
                   [t[i] for i in range(1, len(t) + 1) if (i % 7) != 0] AS g1
            FROM (SELECT doc_id, {_TOKENS} AS t FROM documents))
"""


def connected_components(pairs: DataFrame, max_iters: int = 30) -> DataFrame:
    """Star edges ``(u, v)`` mapping every non-root node u to its
    component minimum v, via alternating large-star/small-star (Kiveris
    et al., "Connected Components in MapReduce and Beyond", SoCC'14).

    Why this and not label propagation: propagation needs O(diameter)
    rounds — a pathological dup CHAIN (each doc near its neighbor, ends
    unrelated) makes diameter O(n); the alternating-star algorithm
    contracts in O(log n) rounds regardless of shape, which is the bound
    a 100 TB corpus needs. Per round: two groupBy-min shuffles + two
    distincts, all partial-aggregable; lineage is cut every round with an
    eager localCheckpoint (cluster equivalent: checkpoint or rely on
    shuffle files), so plans stay flat instead of doubling per iteration.
    Convergence is detected with a one-row (count, xxhash64-sum)
    signature — no edge collect, no driver materialization.
    """
    edges = (
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .localCheckpoint(eager=True)
    )
    prev_sig = None
    for _ in range(max_iters):
        # large-star: every node u links its strictly-larger neighbors to
        # min(N(u) ∪ {u}); all emitted edges keep target < source.
        sym = edges.unionByName(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        large = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.least(F.col("mn"), F.col("u")).alias("v"))
            .distinct()
        )
        # small-star: every node u re-links its (all smaller) neighbors —
        # and itself — to the smallest of them.
        mins2 = large.groupBy("u").agg(F.min("v").alias("mn"))
        j = large.join(mins2, "u")
        small = (
            j.where(F.col("v") != F.col("mn"))
            .select(F.col("v").alias("u"), F.col("mn").alias("v"))
            .unionByName(j.select("u", F.col("mn").alias("v")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        row = small.agg(
            F.count(F.lit(1)).alias("c"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).first()
        sig = (row["c"], row["h"])
        edges = small
        if sig == prev_sig:
            # both passes mapped the edge set to itself -> per-component
            # stars (the algorithm's only fixed point)
            return edges
        prev_sig = sig
    raise RuntimeError(
        f"connected_components did not converge in {max_iters} rounds "
        "(log2(n) bound exceeded — input edge set is pathological)"
    )


@register(
    "dedup_cluster_components",
    oracle=f"""
    WITH RECURSIVE {_minhash_pair_ctes(_DOCS_CHAINED_SQL)},
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION
      SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    walk(node, lbl) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
      UNION
      SELECT e.v, w.lbl FROM walk w JOIN edges e ON e.u = w.node
    ),
    lab AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM walk GROUP BY node)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(cluster_id AS BIGINT) AS cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
    FROM lab
    """,
    survey_ref="J6,T5",
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Transitive dup clusters: minhash-LSH candidate pairs -> alternating
    # large-star/small-star connected components -> (doc, cluster, size).
    # The DuckDB twin computes the same fixpoint by brute transitive
    # closure (recursive min-label walk) — tractable at oracle scale,
    # which is exactly why the Spark side uses the O(log n)-round
    # algorithm instead.
    # Persist the candidate pairs: they feed BOTH the component walk and
    # the node list below. Unpersisted, each consumer re-executed the whole
    # tokenize -> md5 -> minhash -> band -> pair-explode pipeline from the
    # parquet scan (two full runs of the most expensive subtree — measured
    # ~2x the whole query at the 10x corpus). The pair set itself is tiny
    # (two longs per candidate pair), so the cache barrier costs nothing;
    # released via release_persisted() like every other builder persist.
    pairs = _minhash_pairs_from_th(_chained_th(spark, sf_dir)).persist()
    _PERSISTED.append(pairs)
    stars = connected_components(pairs)
    nodes = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    lab = nodes.join(
        stars.select(F.col("u").alias("doc_id"), F.col("v").alias("root")),
        "doc_id",
        "left",
    ).select("doc_id", F.coalesce("root", F.col("doc_id")).alias("cluster_id"))
    w = Window.partitionBy("cluster_id")
    return lab.select(
        "doc_id", "cluster_id", F.count(F.lit(1)).over(w).alias("cluster_size")
    )


_HEXFOLD_SQL = (
    "list_reduce([strpos('0123456789abcdef', substr(substr(md5({expr}), 1, 15), i, 1)) - 1 "
    "for i in range(1, 16)], (a, b) -> a * 16 + b)"
)


def _tokhash60_spark(tok):
    """60-bit numeric token hash shared with DuckDB (conv of 15 md5 hex chars)."""
    return F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("long")


_SIMHASH_VOTE_COLS_SQL = ",\n             ".join(
    f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN cnt ELSE -cnt END) AS w{b}" for b in range(60)
)
_SIMHASH_FOLD_SQL = " + ".join(
    f"CASE WHEN w{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(60)
)


@register(
    "dedup_simhash",
    oracle=f"""
    WITH corpus AS ({_DOCS_MUTATED_SQL}),
    tok AS (
      SELECT doc_id, tok, COUNT(*) AS cnt
      FROM (SELECT doc_id, unnest({_TOKENS}) AS tok FROM corpus)
      GROUP BY doc_id, tok
    ),
    th AS (
      SELECT doc_id, {_HEXFOLD_SQL.format(expr='tok')} AS h, cnt FROM tok
    ),
    votes AS (
      SELECT doc_id,
             {_SIMHASH_VOTE_COLS_SQL}
      FROM th GROUP BY doc_id
    ),
    sim AS (
      SELECT doc_id, CAST({_SIMHASH_FOLD_SQL} AS BIGINT) AS simhash FROM votes
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sim a JOIN sim b ON a.doc_id + 1000000 = b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 16
    """,
    survey_ref="J6,C1",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SimHash: per-token 60-bit hash votes ±1 per bit; near-dups land within
    # a small Hamming distance. Verified here on the known original↔mutated
    # pairs (the general banded pairing is exercised in operators/neardup.py).
    #
    # Vote sums aggregate over DISTINCT (doc_id, tok) rows — duplicates
    # collapse to weights in a first partial-agg'd groupBy BEFORE any
    # hashing, so each distinct token is md5'd once and votes with its
    # count (identical result to per-occurrence ±1 votes, strictly less
    # hash work — the same distinct-first trick minhash uses). And because
    # the mutated copy's tokens are exactly the original's tokens at
    # 0-based positions i % 7 != 6, ONE posexplode of the original docs
    # feeds BOTH simhashes: cnt_all weights the original's votes, cnt_mut
    # (occurrences at kept positions) the mutated copy's. A token absent
    # from the mutated doc has cnt_mut = 0 and contributes 0 either way.
    # vs round 2: one doc scan instead of two, one tokenize instead of
    # three (the union branch re-tokenized its own array_join output), no
    # self-join (which recomputed the whole pipeline per side — different
    # join keys defeat ReusedExchange; measured 2x plan cost at sf0.1),
    # and both 60-bit signatures emerge from the SAME wide groupBy row, so
    # the hamming filter needs no pairing shuffle at all.
    d = _widen(load(spark, sf_dir, "documents").select("doc_id", "text"))
    tok = d.select("doc_id", F.posexplode(_tokens_col()).alias("pos", "tok"))
    tc = tok.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).alias("cnt_all"),
        F.sum(F.when(F.col("pos") % 7 != 6, 1).otherwise(0)).alias("cnt_mut"),
    )
    # One row per (doc_id, side, distinct token): a 120-column agg would
    # keep both sides in one row but falls out of whole-stage codegen
    # (spark.sql.codegen.maxFields = 100 — measured 1.5x slower), so the
    # sides explode into rows and the vote agg stays at 60 columns.
    # expression trees here are built as single F.expr STRINGS: the
    # Column-composition form cost ~1.1s of driver time per query build
    # (py4j round-trips for ~300 Column ops across 60 vote sums + the
    # 60-term fold); one string is one round-trip. Semantics identical.
    sides = tc.select(
        "doc_id",
        _tokhash60_spark(F.col("tok")).alias("h"),
        F.expr(
            "inline(array(struct(0 AS side, cnt_all AS cnt),"
            " struct(1 AS side, cnt_mut AS cnt)))"
        ),
    ).filter(F.col("cnt") > 0)
    votes = sides.groupBy("doc_id", "side").agg(
        *[
            F.expr(f"SUM(IF((shiftright(h, {b}) & 1) = 1, cnt, -cnt)) AS w{b}")
            for b in range(60)
        ]
    )
    fold_sql = " + ".join(f"IF(w{b} > 0, {1 << b}L, 0L)" for b in range(60))
    sim = votes.select("doc_id", "side", F.expr(f"CAST({fold_sql} AS BIGINT) AS simhash"))
    pairs = sim.groupBy(F.col("doc_id").alias("doc_a")).agg(
        F.expr("MAX(IF(side = 0, simhash, NULL)) AS sh_a"),
        F.expr("MAX(IF(side = 1, simhash, NULL)) AS sh_b"),
    )
    return (
        pairs.withColumn("hamming", F.expr("bit_count(sh_a ^ sh_b)").cast("long"))
        .filter(F.col("hamming") <= 16)
        .select("doc_a", (F.col("doc_a") + 1_000_000).alias("doc_b"), "hamming")
    )


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, text FROM ({_DOCS_MUTATED_SQL})
      WHERE (doc_id % 1000000) IN (SELECT doc_id FROM documents WHERE lang = 'fr')
    ),
    sh AS (
      SELECT DISTINCT doc_id, unnest(
        list_transform(range(0, greatest(len(t) - 3, 0) + 1),
                       i -> array_to_string(list_slice(t, i + 1, i + 3), ' '))) AS s
      FROM (SELECT doc_id, {_TOKENS} AS t FROM corpus)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           ROUND(i * 1.0 / (sa.n + sb.n - i), 4) AS jaccard
    FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
    WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.3
    """,
    survey_ref="J6,A10",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact n-gram Jaccard via shingle-set inverted index (explode + equi-join
    # + group) — never a cross join; the index join only pairs docs sharing a
    # shingle, which is also the 100 TB-scale formulation.
    #
    # Deliberately count-based (the pair's emission multiplicity IS the
    # intersection size), not prefix-filter + per-pair array verification:
    # at t=0.3 the Bayardo/Chaudhuri prefix keeps |d|-ceil(0.3|d|)+1 ≈ 70%
    # of postings, so candidates barely shrink (measured: 3.46M candidates
    # for 143k true pairs on the 10x corpus) while per-pair array_intersect
    # verification costs ~25x the codegen hash-agg count — prefix filtering
    # only pays at high thresholds (t >= 0.7). Likewise rejected, with
    # round-5 measurements:
    #   * carrying doc sizes inline through the pair shuffle for a
    #     pre-agg length filter — near-dup corpora have near-equal sizes
    #     (the filter prunes ~nothing), every shuffle row doubles in
    #     width, and a projection holding BOTH size(arr) and explode(arr)
    #     makes Generate re-evaluate the whole tokenize/shingle chain PER
    #     EXPLODED ROW (measured 6x whole-query regression);
    #   * persisting the postings (flat or as arrays) to evaluate the
    #     shingle chain once instead of three times — the InMemoryRelation
    #     build path evaluates the higher-order-function chain far slower
    #     than the same chain pipelined into codegen'd shuffle map stages
    #     (measured 4-10x worse at 10x data), and array-typed cache
    #     columns are slower still.
    # What DOES hold at scale: everything stays pipelined (three
    # evaluations of the cheap shingle subtree, zero materialization
    # barriers), and the pair join keys are xxhash64 longs taken right
    # after the explode — an 8-byte shuffle key instead of a ~20-char
    # string on the quadratic-side shuffle (64-bit collisions negligible
    # vs dedup_exact's md5 pass). The a/b self-join keeps hot-shingle
    # pair expansion spread across the shuffle instead of funneling it
    # into one collect_list task.
    T = 0.3
    fr_ids = (
        load(spark, sf_dir, "documents")
        .filter(F.col("lang") == "fr")
        .select(F.col("doc_id").alias("fr_id"))
    )
    corpus = _docs_with_mutated_copies(spark, sf_dir)
    corpus = corpus.join(
        F.broadcast(fr_ids), (F.col("doc_id") % 1_000_000) == F.col("fr_id"), "left_semi"
    )
    # Shingle identity = composed positional hash of the 3 token hashes
    # (each token xxhash64'd once, _gram_hash_sql) instead of building the
    # shingle STRING and hashing it — equality classes unchanged
    # (coalesce-0 stands in for a short doc's missing tail tokens, the
    # minhash convention), and the hash was already internal-only (the
    # oracle joins raw shingle text).
    post = (
        corpus.withColumn("__t", _tokens_col())
        .withColumn("__th", F.expr("transform(__t, tok -> xxhash64(tok))"))
        .withColumn(
            "__sh",
            F.expr(
                "transform(sequence(0, greatest(size(__th) - 3, 0)), i -> "
                + _gram_hash_sql("__th", "(i + 1)", 3)
                + ")"
            ),
        )
        .select("doc_id", F.explode(F.array_distinct("__sh")).alias("h"))
    )
    # persist the postings: three consumers (sizes + both join sides) each
    # re-executed the tokenize+shingle+distinct+explode chain. Round 5
    # measured this persist as a 4-10x LOSS — but that was before the
    # width pin, when the cache build ran on 1-2 scan tasks; at shuffle
    # width the columnar build amortizes and the chain runs once.
    post = post.persist()
    _PERSISTED.append(post)
    sizes = post.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = post.select(F.col("doc_id").alias("doc_a"), "h")
    b = post.select(F.col("doc_id").alias("doc_b"), "h")
    inter = (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jac", F.col("i") * 1.0 / (F.col("na") + F.col("nb") - F.col("i")))
        .filter(F.col("jac") >= T)
        .select("doc_a", "doc_b", F.round("jac", 4).alias("jaccard"))
    )


@register(
    "dedup_embedding_cosine",
    oracle="""
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    corpus AS (
      SELECT vec_id, v FROM base
      UNION ALL
      SELECT vec_id + 1000000 AS vec_id, list_transform(v, x -> x + 0.05) AS v FROM base
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_cosine_similarity(a.v, b.v), 6) AS cos
    FROM corpus a JOIN corpus b
      ON a.vec_id + 1000000 = b.vec_id
    WHERE list_cosine_similarity(a.v, b.v) >= 0.8
    """,
    survey_ref="A12",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Embedding near-dup on known candidate pairs (original ↔ shifted copy).
    # Verifies the cosine kernel itself (zip_with dot product, JVM-side).
    base = _widen(load(spark, sf_dir, "embeddings"), "vec_id").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    corpus = base.unionByName(
        base.select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"),
            F.transform(F.col("v"), lambda x: x + 0.05).alias("v"),
        )
    )
    # pair original <-> shifted copy in ONE slim groupBy on vec_id % 1e6
    # instead of a self-join (which recomputes the corpus subtree per
    # side); every original has its shifted twin, so both max() slots fill
    pairs = corpus.groupBy((F.col("vec_id") % 1_000_000).alias("vec_a")).agg(
        F.max(F.when(F.col("vec_id") < 1_000_000, F.col("v"))).alias("va"),
        F.max(F.when(F.col("vec_id") >= 1_000_000, F.col("v"))).alias("vb"),
    )
    dot = F.aggregate(F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(F.transform("va", lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))
    nb = F.sqrt(F.aggregate(F.transform("vb", lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))
    return (
        pairs.withColumn("cos_raw", dot / (na * nb))
        .filter(F.col("cos_raw") >= 0.8)
        .select(
            "vec_a", (F.col("vec_a") + 1_000_000).alias("vec_b"),
            F.round("cos_raw", 6).alias("cos"),
        )
    )


# ---------------------------------------------------------------------------
# One exact integer Lloyd iteration (coarse quantizer for semdedup_embedding)
# ---------------------------------------------------------------------------


_IVF_K = 8  # coarse-quantizer cells
_IVF_DIM = 64
_IVF_SCALE = 1000  # embedding quantization: q = floor(x * 1000)

# DuckDB helpers over 1-based list indexing
_IVF_QV_SQL = "list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1000) AS BIGINT))"

# One exact integer Lloyd iteration as a CTE chain. Assumes a preceding
# CTE ``q(vec_id, qv)`` (quantized corpus); defines ``a2(vec_id, qv,
# cell)``. The SemDeDup oracle embeds it verbatim; _lloyd_assigned is
# its Spark twin.
_LLOYD_CTES_SQL = f"""
    seeds AS (SELECT vec_id AS j, qv AS sv FROM q WHERE vec_id < {_IVF_K}),
    -- Lloyd assign #1: exact integer L2 to the seed vectors (c=1)
    a1 AS (
      SELECT vec_id, qv, j AS cell
      FROM (
        SELECT q.vec_id, q.qv, s.j,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_sum(list_transform(range(1, {_IVF_DIM} + 1),
                                   i -> (q.qv[i] - s.sv[i]) * (q.qv[i] - s.sv[i]))) ASC,
                          s.j ASC) AS rn
        FROM q CROSS JOIN seeds s) t
      WHERE rn = 1
    ),
    -- Lloyd update: elementwise integer sums + member counts per cell
    csum AS (
      SELECT cell, i, CAST(SUM(qv[i]) AS BIGINT) AS s
      FROM a1, UNNEST(range(1, {_IVF_DIM} + 1)) AS u(i)
      GROUP BY cell, i
    ),
    cent AS (
      SELECT c.cell, c.sv, n.c,
             CAST(list_sum(list_transform(c.sv, x -> x * x)) AS BIGINT) AS sss
      FROM (SELECT cell, list(s ORDER BY i) AS sv FROM csum GROUP BY cell) c
      JOIN (SELECT cell, COUNT(*) AS c FROM a1 GROUP BY cell) n USING (cell)
    ),
    -- Lloyd assign #2: argmin over (c^2*|x|^2 - 2c*x.S + |S|^2) / c^2 —
    -- all-integer numerator, one deterministic float division
    a2 AS (
      SELECT vec_id, qv, cell
      FROM (
        SELECT q.vec_id, q.qv, cent.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY (CAST(cent.c * cent.c *
                            list_sum(list_transform(q.qv, x -> x * x)) AS BIGINT)
                           - CAST(2 * cent.c *
                              list_sum(list_transform(range(1, {_IVF_DIM} + 1),
                                       i -> q.qv[i] * cent.sv[i])) AS BIGINT)
                           + cent.sss) * 1.0 / (cent.c * cent.c) ASC,
                          cent.cell ASC) AS rn
        FROM q CROSS JOIN cent) t
      WHERE rn = 1
    )"""


def _ivf_qv_col():
    """embedding float array -> exact integer quantized vector."""
    return F.transform(
        F.col("embedding"), lambda x: F.floor(x.cast("double") * _IVF_SCALE).cast("long")
    )


def _isum(arr):
    return F.aggregate(arr, F.lit(0).cast("long"), lambda a, x: a + x)


def _lloyd_assigned(e: DataFrame) -> DataFrame:
    """One exact integer Lloyd iteration over ``e(vec_id, qv)`` — the Spark
    twin of _LLOYD_CTES_SQL used by semdedup_embedding. Returns every
    (vector, cell) candidate with its rank ``rn`` (rn=1 is the
    assignment)."""
    seeds = e.filter(F.col("vec_id") < _IVF_K).select(
        F.col("vec_id").alias("j"), F.col("qv").alias("sv")
    )
    # assign #1: exact integer L2 against seed vectors
    d1 = _isum(F.zip_with("qv", "sv", lambda a, b: (a - b) * (a - b)))
    w_assign = Window.partitionBy("vec_id")
    a1 = (
        e.crossJoin(F.broadcast(seeds))
        .withColumn("__d", d1)
        .withColumn("rn", F.row_number().over(w_assign.orderBy(F.asc("__d"), F.asc("j"))))
        .filter(F.col("rn") == 1)
        .select("vec_id", "qv", F.col("j").alias("cell"))
    )
    # update: elementwise integer sums + counts per cell
    csum = (
        a1.select("cell", F.posexplode("qv").alias("i", "v"))
        .groupBy("cell", "i")
        .agg(F.sum("v").cast("long").alias("s"))
    )
    sv2 = F.transform(
        F.array_sort(F.collect_list(F.struct("i", "s"))), lambda x: x["s"]
    )
    cnt = a1.groupBy("cell").agg(F.count("*").alias("c"))
    cent = (
        csum.groupBy("cell")
        .agg(sv2.alias("sv"))
        .join(cnt, "cell")
        .withColumn("sss", _isum(F.transform("sv", lambda x: x * x)))
    )
    # assign #2: integer numerator, one deterministic float division
    num = (
        (F.col("c") * F.col("c") * _isum(F.transform("qv", lambda x: x * x))).cast("long")
        - (F.lit(2) * F.col("c") * _isum(F.zip_with("qv", "sv", lambda a, b: a * b))).cast("long")
        + F.col("sss")
    )
    return (
        e.crossJoin(F.broadcast(cent))
        .withColumn("__score", num * 1.0 / (F.col("c") * F.col("c")))
        .withColumn(
            "rn", F.row_number().over(w_assign.orderBy(F.asc("__score"), F.asc("cell")))
        )
    )


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup: cluster embeddings, prune near-dups per cluster)
# ---------------------------------------------------------------------------

# cos >= 0.9  <=>  qdot > 0 AND 100*qdot^2 >= 81*na*nb  (all-integer on the
# quantized vectors: no sqrt, no float compare, so a last-ulp libm
# divergence can never flip a keep/drop decision between engines)
_SEM_T_NUM, _SEM_T_DEN = 81, 100


@register(
    "semdedup_embedding",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, {_IVF_QV_SQL} AS qv FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000 AS vec_id,
             list_transform(embedding,
               x -> CAST(floor((x::DOUBLE + 0.05) * {_IVF_SCALE}) AS BIGINT)) AS qv
      FROM embeddings
    ),
{_LLOYD_CTES_SQL},
    norms AS (
      SELECT vec_id, cell, qv,
             CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS n2
      FROM a2
    ),
    dups AS (
      SELECT b AS vec_id, MIN(a) AS dup_of
      FROM (
        SELECT i.vec_id AS a, j.vec_id AS b,
               CAST(list_sum(list_transform(range(1, {_IVF_DIM} + 1),
                             k -> i.qv[k] * j.qv[k])) AS BIGINT) AS qdot,
               i.n2 AS na, j.n2 AS nb
        FROM norms i JOIN norms j ON i.cell = j.cell AND i.vec_id < j.vec_id
      )
      WHERE qdot > 0 AND {_SEM_T_DEN} * qdot * qdot >= {_SEM_T_NUM} * na * nb
      GROUP BY b
    )
    SELECT n.vec_id, CAST(n.cell AS BIGINT) AS cell, d.dup_of,
           d.dup_of IS NULL AS kept
    FROM norms n LEFT JOIN dups d USING (vec_id)
    """,
    survey_ref="A12,J6",
)
def semdedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup (SemDeDup, Abbas et al. 2023): k-means-cluster the
    embedding space, then within each cluster drop every vector whose
    cosine to an earlier (lower-id) cluster member is >= 0.9, keeping the
    earliest exemplar — the within-cluster-pairwise design of the paper,
    with the corpus augmented by known +0.05-shifted copies (vec_id +
    1e6, the same construction dedup_embedding_cosine verifies on).

    Scale shape: clustering is the shared one-iteration integer Lloyd
    (_lloyd_assigned — broadcast centroids, no corpus shuffle; identical
    CTE text in the oracle so quantizer semantics cannot drift); the
    pairwise stage joins each cluster only with itself, so cost is
    sum(|cell|^2) — bounded by making K grow with corpus size (SemDeDup
    runs K ~ n/target_cell_size; K is pinned at _IVF_K=8 here, and the
    dup decision is the all-integer threshold above). dup_of points at the
    MINIMUM qualifying earlier id (deterministic under any partitioning;
    a dup's dup_of may itself be a dup — chain semantics documented,
    exemplars are the kept=true rows)."""
    base = _widen(load(spark, sf_dir, "embeddings"), "vec_id")
    shifted = F.transform(
        F.col("embedding"),
        lambda x: F.floor((x.cast("double") + 0.05) * _IVF_SCALE).cast("long"),
    )
    q = base.select("vec_id", _ivf_qv_col().alias("qv")).unionByName(
        base.select((F.col("vec_id") + 1_000_000).alias("vec_id"), shifted.alias("qv"))
    )
    a2 = _lloyd_assigned(q).filter(F.col("rn") == 1).select("vec_id", "qv", "cell")
    norms = a2.withColumn("n2", _isum(F.transform("qv", lambda x: x * x)).cast("long"))
    i = norms.select(
        F.col("vec_id").alias("a"), F.col("cell").alias("ca"),
        F.col("qv").alias("qa"), F.col("n2").alias("na"),
    )
    j = norms.select(
        F.col("vec_id").alias("b"), F.col("cell").alias("cb"),
        F.col("qv").alias("qb"), F.col("n2").alias("nb"),
    )
    qdot = _isum(F.zip_with("qa", "qb", lambda x, y: x * y)).cast("long")
    dups = (
        i.join(j, (F.col("ca") == F.col("cb")) & (F.col("a") < F.col("b")))
        .withColumn("qdot", qdot)
        .filter(
            (F.col("qdot") > 0)
            & (F.lit(_SEM_T_DEN) * F.col("qdot") * F.col("qdot")
               >= F.lit(_SEM_T_NUM) * F.col("na") * F.col("nb"))
        )
        .groupBy("b")
        .agg(F.min("a").alias("dup_of"))
        .select(F.col("b").alias("vec_id"), "dup_of")
    )
    return norms.join(dups, "vec_id", "left").select(
        "vec_id",
        F.col("cell").cast("long").alias("cell"),
        "dup_of",
        F.col("dup_of").isNull().alias("kept"),
    )


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
# the query plants it from doc_id (same convention as _docs_with_*_copies:
# the fixture is synthesized inside the query, identically in both
# dialects, so the operator's positive path is actually exercised).
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
# Cross-document line dedup (CCNet-style boilerplate removal)
# ---------------------------------------------------------------------------

_FOOTER_A = "subscribe to our newsletter all rights reserved"
_FOOTER_B = "privacy policy terms of service contact us"
_BOILER_MIN_DOCS = 3


@register(
    "dedup_boilerplate_lines",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id,
             [text]
               || (CASE WHEN doc_id % 3 = 0 THEN ['{_FOOTER_A}'] ELSE CAST([] AS VARCHAR[]) END)
               || (CASE WHEN doc_id % 5 = 0 THEN ['{_FOOTER_B}'] ELSE CAST([] AS VARCHAR[]) END)
               AS lines
      FROM documents
    ),
    ex AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(lines) + 1),
                                   i -> {{'pos': i, 'line': lines[i]}})) AS pl
      FROM docs
    ),
    lines AS (SELECT doc_id, pl.pos AS pos, pl.line AS line FROM ex),
    freq AS (
      SELECT line, COUNT(*) AS nd
      FROM (SELECT DISTINCT doc_id, line FROM lines) GROUP BY line
    ),
    flagged AS (
      SELECT l.doc_id, l.pos, l.line, f.nd >= {_BOILER_MIN_DOCS} AS boiler
      FROM lines l JOIN freq f ON l.line = f.line
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_boilerplate,
           CAST(COALESCE(SUM(CASE WHEN boiler THEN 0 ELSE length(line) END), 0) AS BIGINT)
             AS kept_chars,
           md5(COALESCE(string_agg(CASE WHEN boiler THEN NULL ELSE line END, ' '
                                   ORDER BY pos), '')) AS kept_md5
    FROM flagged GROUP BY doc_id
    """,
    survey_ref="A3,J6,C7",
)
def dedup_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide line-frequency dedup: drop lines appearing in >=3
    distinct docs (nav/footer boilerplate), keep the rest in order.

    The driver docs are single-line, so the query plants shared footer
    lines deterministically from doc_id (same in-query fixture convention
    as _docs_with_*_copies). Plan shape built for 100 TB: line frequency
    is a distinct-first two-stage count keyed on xxhash64(line) — the
    repeated boilerplate strings shuffle as 8-byte keys, never as text —
    then one equi-join back and an ordered per-doc reassembly. The oracle
    joins on the raw line (DuckDB has no xxhash64); at corpus scale a
    64-bit collision can only over-flag one line pair, the standard
    accepted trade (CCNet hashes paragraphs the same way).
    """
    d = _widen(load(spark, sf_dir, "documents")).select(
        "doc_id",
        F.concat(
            F.array(F.col("text")),
            F.when(F.col("doc_id") % 3 == 0, F.array(F.lit(_FOOTER_A))).otherwise(
                F.array().cast("array<string>")
            ),
            F.when(F.col("doc_id") % 5 == 0, F.array(F.lit(_FOOTER_B))).otherwise(
                F.array().cast("array<string>")
            ),
        ).alias("lines"),
    )
    ex = d.select("doc_id", F.posexplode("lines").alias("pos", "line")).withColumn(
        "lh", F.xxhash64("line")
    )
    freq = (
        ex.select("lh", "doc_id")
        .distinct()
        .groupBy("lh")
        .agg(F.count("*").alias("nd"))
    )
    flagged = ex.join(freq, "lh").withColumn("boiler", F.col("nd") >= _BOILER_MIN_DOCS)
    kept_struct = F.when(~F.col("boiler"), F.struct("pos", "line"))
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.col("boiler").cast("long")).alias("n_boilerplate"),
            F.coalesce(
                F.sum(F.when(~F.col("boiler"), F.length("line")).otherwise(F.lit(0))),
                F.lit(0),
            )
            .cast("long")
            .alias("kept_chars"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(kept_struct)), lambda s: s["line"]
                    ),
                    " ",
                )
            ).alias("kept_md5"),
        )
        .select("doc_id", "n_lines", "n_boilerplate", "kept_chars", "kept_md5")
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination (n-gram overlap vs a held-out eval set)
# ---------------------------------------------------------------------------

_CONTAM_N = 6  # gram width; GPT-3 used 13-grams, scaled down to the fixture docs


@register(
    "bench_contamination",
    oracle=f"""
    WITH corpus AS ({_DOCS_EXACT_SQL}),
    toks AS (
      SELECT doc_id, {_TOKENS} AS t FROM corpus
    ),
    grams AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(t) - {_CONTAM_N - 1}, 0) + 1),
               i -> array_to_string(t[i:i+{_CONTAM_N - 1}], ' '))) AS gs
      FROM toks
    ),
    bench AS (
      SELECT DISTINCT unnest(gs) AS g FROM grams
      WHERE doc_id % 97 = 0 AND doc_id < 1000000
    ),
    train AS (
      SELECT doc_id, gs FROM grams
      WHERE NOT (doc_id % 97 = 0 AND doc_id < 1000000)
    ),
    hits AS (
      SELECT t.doc_id, COUNT(*) AS n_hit
      FROM (SELECT doc_id, unnest(gs) AS g FROM train) t
      JOIN bench b ON t.g = b.g
      GROUP BY t.doc_id
    )
    SELECT train.doc_id,
           CAST(len(gs) AS BIGINT) AS n_grams,
           CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_hit,
           ROUND(COALESCE(n_hit, 0) * 1.0 / greatest(len(gs), 1), 4)
             AS contamination_ratio,
           COALESCE(n_hit, 0) > 0 AS contaminated
    FROM train LEFT JOIN hits ON train.doc_id = hits.doc_id
    """,
    survey_ref="J5,J7,A14",
)
def bench_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-vs-benchmark n-gram decontamination (the GPT-3 appendix-C
    check): flag training docs sharing any 6-gram with a held-out eval set.

    Eval set = every 97th base doc; training corpus = everything else plus
    the exact-copy mutants (doc_id + 1e6), so copies of eval docs are
    GUARANTEED contaminated and the positive path is exercised. Plan shape
    for 100 TB: the eval gram set is tiny by construction (eval suites are
    thousands of docs, not billions) and broadcast — the corpus side is one
    explode + broadcast-hash-join + partial-agg count, no shuffle of the
    gram table. Distinct-gram set semantics on both sides (a gram repeated
    inside a doc counts once).
    """
    corpus = _docs_with_exact_copies(spark, sf_dir)
    is_bench = (F.col("doc_id") % 97 == 0) & (F.col("doc_id") < 1_000_000)
    toks = corpus.select("doc_id", is_bench.alias("bench"), _tokens_col().alias("t"))
    # The gram builder is the child of an EXPLODE below, so it must stay
    # CASE-free: Generate's codegen re-evaluates a conditional generator
    # child once PER EMITTED ROW — O(grams^2) string work per doc, a
    # measured 25x whole-query regression (43s -> 1.7s at sf0.1). The
    # short-doc guard is a pre-filter instead (size >= N also makes the
    # sequence() bound safe: Spark's sequence(1, 0) is DESCENDING [1, 0],
    # not empty). Same pitfall note as dedup_ngram_jaccard's docstring.
    # Grams are hashed to xxhash64 LONGS inside the transform, so the
    # persisted arrays, the broadcast eval set, and the join keys are all
    # 8 bytes instead of ~40-byte 6-token strings (the oracle joins raw
    # text — the standard 64-bit-collision trade documented at
    # dedup_boilerplate_lines). Measured at the 10x corpus: the string-
    # keyed variant cached multi-GB gram arrays and ran 16.4x the sf0.1
    # time (superlinear from cache spill); long keys restore ~linear.
    # Composed positional gram hashes from per-token xxhash64 (each token
    # hashed once, each gram 6 multiply-adds via _gram_hash_sql) — the
    # slice+array_join+string-hash per gram position dominated the CPU of
    # the shingle family at 10x; equality classes unchanged.
    gram_expr = F.expr(
        f"transform(sequence(1, size(__th) - {_CONTAM_N - 1}),"
        f" i -> {_gram_hash_sql('__th', 'i', _CONTAM_N)})"
    )
    with_th = toks.withColumn("__th", F.expr("transform(t, tok -> xxhash64(tok))"))
    # ONE gram pass covering ALL docs (short docs get an empty array): the
    # round-5 shape re-ran the whole tokenize+gram+distinct pipeline a
    # second time in the ``train`` branch just to recount n_grams, which
    # is simply size(gs) of the cached arrays (guide §2.4 duplicated
    # subtrees). The CASE is safe here: gs is persisted, so the explode
    # consumers read the cache barrier, never a conditional generator
    # child (the pitfall documented below).
    gset = with_th.select(
        "doc_id",
        "bench",
        F.when(F.size("t") >= _CONTAM_N, F.array_distinct(gram_expr))
        .otherwise(F.expr("CAST(array() AS ARRAY<BIGINT>)"))
        .alias("gs"),
    )
    # Materialize the gram arrays: InferFiltersFromGenerate synthesizes
    # size(gs)>0 / isnotnull(gs) predicates under each explode and predicate
    # pushdown inlines the WHOLE tokenize+gram chain into the scan filter —
    # re-evaluated several times per row on both explode branches (measured
    # 47s -> ~4s at sf0.1). The cache is one slim array row per doc and is
    # released via release_persisted(), same contract as _langid_scored.
    # persist() defaults to MEMORY_AND_DISK (spill-safe); at true 100 TB
    # scale the same barrier is a temp-table write (gram arrays are
    # O(corpus tokens) — bigger than any executor tier), which equally
    # stops the inferred-predicate pushdown.
    gset = gset.persist()
    _PERSISTED.append(gset)
    bench = gset.filter("bench").select(F.explode("gs").alias("g")).distinct()
    hits = (
        gset.filter(~F.col("bench"))
        .select("doc_id", F.explode("gs").alias("g"))
        .join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hit"))
    )
    # per-doc distinct-gram counts, zero for sub-N-token docs (n_grams is a
    # plain projection, not a generator child, so the CASE is fine here)
    train = gset.filter(~F.col("bench")).select(
        "doc_id", F.size("gs").cast("long").alias("n_grams")
    )
    return (
        train.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
            F.round(
                F.coalesce("n_hit", F.lit(0)) * 1.0 / F.greatest("n_grams", F.lit(1)),
                4,
            ).alias("contamination_ratio"),
            (F.coalesce("n_hit", F.lit(0)) > 0).alias("contaminated"),
        )
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
# Event-stream analytics (batch formulation)
# ---------------------------------------------------------------------------


@register(
    "events_tumbling_hourly",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour, event_type,
           COUNT(*) AS cnt, ROUND(SUM(value), 4) AS total_value
    FROM events GROUP BY 1, 2
    """,
    survey_ref="T1,A1",
)
def events_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    return e.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
    ).agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 4).alias("total_value"))


@register(
    "events_sessionize",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_sess
      FROM events
    ),
    sess AS (
      SELECT user_id,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM gaps
    )
    SELECT user_id, CAST(COUNT(DISTINCT sess_id) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id
    """,
    survey_ref="T1,W2",
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Gap-based sessionization (30-min inactivity): lag -> flag -> running
    # sum, the standard batch formulation.
    e = load(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gapped = e.withColumn("__prev_ts", F.lag(F.col("ts")).over(w)).withColumn(
        "new_sess",
        F.when(F.expr("ts - __prev_ts > INTERVAL '30' MINUTE"), 1).otherwise(0),
    )
    # n_sessions needs no session-id materialization at all: sess_id is a
    # running sum of new_sess starting at 0, so the number of DISTINCT
    # session ids per user is exactly 1 + sum(new_sess). Same semantics as
    # the oracle's COUNT(DISTINCT sess_id) (kept as-is for independence),
    # but a plain partial-aggregable sum — no distinct expand, no second
    # window pass.
    return gapped.groupBy("user_id").agg(
        (F.lit(1) + F.sum("new_sess")).cast("long").alias("n_sessions"),
        F.count("*").alias("n_events"),
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
# Cross-document duplicate-span detection (ExactSubstr-style dedup)
# ---------------------------------------------------------------------------

# Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
# Better") deduplicate repeated SUBSTRINGS, not whole documents: a span
# repeated verbatim across documents is memorized disproportionately. The
# suffix-array construction is replaced here by the distributed-friendly
# equivalent: k-token shingles with positions, corpus-frequency on the
# shingle, then per-doc interval merging of the flagged windows — every
# stage a DataFrame op. k = 8 is scaled to the fixture docs (the paper
# uses 50-token spans): measured on sf0.01, 8-gram collisions occur
# naturally in only ~11% of base docs, so the planted shared-prefix spans
# dominate the signal instead of vocabulary noise (k = 5 flags 100%).
_SPAN_K = 8

# Planted positives: each copy shares the FIRST HALF of its original
# verbatim, then diverges into a unique tail — original and copy carry one
# long exact common span (the ExactSubstr shape) while tails never match.
_SPAN_TAIL = 10


def _docs_with_prefix_copies(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _widen(load(spark, sf_dir, "documents").select("doc_id", "text"))
    copies = d.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.expr(
            "array_join(concat("
            " slice(filter(split(regexp_replace(lower(text), '[^a-z0-9 ]', ' '), ' '),"
            "       x -> x != ''), 1,"
            "       cast(ceil(size(filter(split(regexp_replace(lower(text),"
            "       '[^a-z0-9 ]', ' '), ' '), x -> x != '')) / 2.0) as int)),"
            f" transform(sequence(0, {_SPAN_TAIL - 1}),"
            "  j -> concat('t', cast(doc_id as string), 'q', cast(j as string)))"
            "), ' ')"
        ).alias("text"),
    )
    return d.unionByName(copies)


_DOCS_PREFIX_SQL = f"""
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id,
             array_to_string(
               t[1:CAST(ceil(len(t) / 2.0) AS INT)]
               || list_transform(range(0, {_SPAN_TAIL}),
                    j -> 't' || CAST(doc_id AS VARCHAR) || 'q' || CAST(j AS VARCHAR)),
               ' ') AS text
      FROM (SELECT doc_id, {_TOKENS} AS t FROM documents)
"""


@register(
    "dedup_duplicate_spans",
    oracle=f"""
    WITH corpus AS ({_DOCS_PREFIX_SQL}),
    toks AS (SELECT doc_id, {_TOKENS} AS t FROM corpus),
    base AS (
      SELECT doc_id, len(t) AS n_toks,
             greatest(len(t) - {_SPAN_K - 1}, 0) AS n_grams
      FROM toks
    ),
    pg AS (
      SELECT doc_id, pg.pos AS pos, pg.g AS g FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t) - {_SPAN_K - 2}),
                 i -> {{'pos': i, 'g': array_to_string(t[i:i+{_SPAN_K - 1}], ' ')}})) AS pg
        FROM toks WHERE len(t) >= {_SPAN_K})
    ),
    freq AS (
      SELECT g FROM (SELECT DISTINCT doc_id, g FROM pg)
      GROUP BY g HAVING COUNT(*) >= 2
    ),
    dup AS (
      SELECT doc_id, pos, pos AS ss, pos + {_SPAN_K - 1} AS ee
      FROM pg JOIN freq USING (g)
    ),
    marked AS (
      SELECT doc_id, pos, ss, ee,
             CASE WHEN MAX(ee) OVER w IS NULL OR ss > MAX(ee) OVER w
                  THEN 1 ELSE 0 END AS new_island
      FROM dup
      WINDOW w AS (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    islands AS (
      SELECT doc_id, ss, ee,
             SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS UNBOUNDED PRECEDING) AS isl
      FROM marked
    ),
    spans AS (
      SELECT doc_id, isl, MIN(ss) AS s0, MAX(ee) AS e0
      FROM islands GROUP BY doc_id, isl
    ),
    agg AS (
      SELECT doc_id, COUNT(*) AS n_spans, SUM(e0 - s0 + 1) AS dup_tokens,
             MAX(e0 - s0 + 1) AS longest_span
      FROM spans GROUP BY doc_id
    ),
    dupg AS (SELECT doc_id, COUNT(*) AS n_dup_grams FROM dup GROUP BY doc_id)
    SELECT b.doc_id,
           CAST(b.n_toks AS BIGINT) AS n_toks,
           CAST(b.n_grams AS BIGINT) AS n_grams,
           CAST(COALESCE(dg.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
           CAST(COALESCE(a.n_spans, 0) AS BIGINT) AS n_spans,
           CAST(COALESCE(a.dup_tokens, 0) AS BIGINT) AS dup_tokens,
           CAST(COALESCE(a.longest_span, 0) AS BIGINT) AS longest_span,
           ROUND(COALESCE(a.dup_tokens, 0) * 1.0 / greatest(b.n_toks, 1), 4) AS dup_frac
    FROM base b LEFT JOIN agg a USING (doc_id) LEFT JOIN dupg dg USING (doc_id)
    """,
    survey_ref="A3,J5,W5,C7",
)
def dedup_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag and measure verbatim spans repeated across documents: k-token
    windows whose text occurs in >=2 distinct docs, merged into maximal
    non-overlapping spans per doc (the ExactSubstr semantics, suffix-array
    replaced by shingle-frequency + interval merge).

    Scale shape: shingle frequency is distinct-first on xxhash64 of the
    window (8-byte shuffle keys, never window text — the oracle joins on
    raw text, the standard 64-bit-collision trade documented at
    dedup_boilerplate_lines); the join back is a plain equi-join (the dup
    set is corpus-sized, NOT broadcast); interval merging is the classic
    two-window running-max island pass, partitioned by doc — one shuffle
    each, all partial-aggregable. The gram array is persisted before the
    explode for the same InferFiltersFromGenerate reason documented at
    bench_contamination.
    """
    corpus = _docs_with_prefix_copies(spark, sf_dir)
    toks = corpus.select("doc_id", _tokens_col().alias("t"))
    # CASE-free generator child (pre-filtered), struct carries 1-based pos.
    # Per-token xxhash64 ONCE, then each gram is 8 multiply-adds
    # (_gram_hash_sql) — the slice+array_join+string-hash per position
    # dominated this query's CPU at 10x (stage profile: the gram-build
    # stage alone was ~200 CPU-seconds); equality classes unchanged.
    gram_expr = F.expr(
        f"transform(sequence(1, size(__th) - {_SPAN_K - 1}), i -> "
        f"struct(i AS pos, {_gram_hash_sql('__th', 'i', _SPAN_K)} AS gh))"
    )
    # (width pin now lives in _docs_with_prefix_copies — one exchange)
    # ONE tokenize pass for ALL docs: the cached frame carries n_toks next
    # to the gram arrays (short docs: empty pgs), so ``base`` below reads
    # the cache instead of re-tokenizing the whole corpus a second time
    # (guide §2.4 duplicated subtrees). CASE under the persist barrier is
    # safe — the explode consumer reads the InMemoryRelation, never a
    # conditional generator child.
    gset = (
        toks.withColumn("__th", F.expr("transform(t, tok -> xxhash64(tok))"))
        .select(
            "doc_id",
            F.size("t").alias("__n"),
            F.when(F.size("t") >= _SPAN_K, gram_expr)
            .otherwise(F.expr("CAST(array() AS ARRAY<STRUCT<pos: INT, gh: BIGINT>>)"))
            .alias("pgs"),
        )
    )
    gset = gset.persist()
    _PERSISTED.append(gset)
    base = gset.select(
        "doc_id",
        F.col("__n").cast("long").alias("n_toks"),
        F.greatest(F.col("__n") - (_SPAN_K - 1), F.lit(0)).cast("long").alias("n_grams"),
    )
    pg = gset.select("doc_id", F.explode("pgs").alias("g")).select(
        "doc_id", F.col("g.pos").alias("pos"), F.col("g.gh").alias("gh")
    )
    freq = (
        pg.select("gh", "doc_id")
        .distinct()
        .groupBy("gh")
        .agg(F.count("*").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gh")
    )
    dup = pg.join(freq, "gh").select(
        "doc_id",
        "pos",
        F.col("pos").alias("ss"),
        (F.col("pos") + (_SPAN_K - 1)).alias("ee"),
    )
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    prev_max = F.max("ee").over(w_prev)
    marked = dup.withColumn(
        "new_island",
        F.when(prev_max.isNull() | (F.col("ss") > prev_max), 1).otherwise(0),
    )
    islands = marked.withColumn("isl", F.sum("new_island").over(w_run))
    spans = islands.groupBy("doc_id", "isl").agg(
        F.min("ss").alias("s0"), F.max("ee").alias("e0")
    )
    agg = spans.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_spans"),
        F.sum(F.col("e0") - F.col("s0") + 1).cast("long").alias("dup_tokens"),
        F.max(F.col("e0") - F.col("s0") + 1).cast("long").alias("longest_span"),
    )
    dupg = dup.groupBy("doc_id").agg(F.count("*").cast("long").alias("n_dup_grams"))
    return (
        base.join(agg, "doc_id", "left")
        .join(dupg, "doc_id", "left")
        .select(
            "doc_id",
            "n_toks",
            "n_grams",
            F.coalesce("n_dup_grams", F.lit(0)).cast("long").alias("n_dup_grams"),
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
            F.coalesce("longest_span", F.lit(0)).cast("long").alias("longest_span"),
            F.round(
                F.coalesce("dup_tokens", F.lit(0)) * 1.0 / F.greatest("n_toks", F.lit(1)),
                4,
            ).alias("dup_frac"),
        )
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
