"""Central registry mapping query names -> (spark plan, oracle SQL).

Every operator claimed done in SURVEY.md §2 registers here; the driver's
__spark_entry__.queries()/oracle_sql() are thin views over this registry.

Conventions (driver correctness-gate contract):
- every computed column is aliased identically in the DataFrame plan and
  the oracle SQL (the driver hashes values after sorting columns by name);
- LIMIT/top-k queries always carry a total, deterministic tie-break order;
- float aggregates are rounded to a fixed scale on BOTH sides so the
  value-hash is insensitive to summation order.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..session import ensure_executors_can_import


@dataclass
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str  # ANSI SQL for DuckDB
    survey_ref: str = ""  # operator ids from SURVEY.md §2, e.g. "J1,A6"


REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str,
    survey_ref: str = "",
) -> Callable[[Callable[[SparkSession, str], DataFrame]], Callable]:
    def deco(fn: Callable[[SparkSession, str], DataFrame]) -> Callable:
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            ensure_executors_can_import(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        REGISTRY[name] = QuerySpec(name=name, fn=wrapped, oracle=oracle, survey_ref=survey_ref)
        return fn

    return deco


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read one driver-provided parquet table.

    Plain ``spark.read.parquet`` keeps Catalyst's pushdown/pruning path:
    filters land in ``PushedFilters`` and projections in ``ReadSchema``.
    """
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")
