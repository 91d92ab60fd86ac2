"""Every registered plan must match its DuckDB oracle at
sf0.01 (the same gate the driver runs)."""

from __future__ import annotations

import pytest

from webcrawl_lowres_lang_spark.plans import crawl_ops, pipeline_ops, relational  # noqa: F401

from webcrawl_lowres_lang_spark.plans.registry import REGISTRY

from .oracle_harness import run_pair

SF_DIR = "/root/testdata/sf0.01"

SQL_CASES = sorted(REGISTRY)


@pytest.mark.parametrize("name", SQL_CASES)
def test_matches_duckdb_oracle(spark, name):
    spec = REGISTRY[name]
    run_pair(spark, SF_DIR, name, spec.fn, spec.oracle)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())

