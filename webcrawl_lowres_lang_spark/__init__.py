"""webcrawl_lowres_lang_spark — a brand-new PySpark-native crawl/frontier
engine with the query and data-processing capabilities of
``davidbwaikato/webcrawl-lowres-lang`` (reference studied read-only at
/root/reference; semantics re-expressed Spark-first, no code ported).

Layout
------
- ``session``      SparkSession factory (AQE, Arrow, shuffle sizing)
- ``determinism``  partition-invariant seeded pseudo-randomness (SURVEY C15)
- ``functions/``   scalar/vectorized column functions (URL canon, hashing,
                   tokenization, imaging)
- ``sources/``     fixture generators + snapshot-table storage layer
- ``operators/``   seen-set, ordering, politeness, fetch, extraction,
                   scoring, near-dup suppression
- ``plans/``       driver-contract query library (the reference's SQL and
                   crawl operators as DataFrame plans with DuckDB oracles)
- ``streaming/``   incremental crawl-round loop + checkpoint/resume
"""

__version__ = "0.1.0"
