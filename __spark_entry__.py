"""Driver contract for the spark-graft builder (PySpark target).

``queries()``/``oracle_sql()`` are thin views over the engine's plan
registry (webcrawl_lowres_lang_spark/plans); every operator claimed done in
SURVEY.md §2 has a registry entry with a DuckDB oracle.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Importing the plan modules populates the registry.
from webcrawl_lowres_lang_spark.plans import crawl_ops, relational  # noqa: F401
from webcrawl_lowres_lang_spark.plans.registry import REGISTRY

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return REGISTRY["q1_pricing_summary"].fn(spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: spec.fn for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each query."""
    return {name: spec.oracle for name, spec in REGISTRY.items()}
