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

import os
import tempfile
import zipfile
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

_PKG_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
_PKG_NAME = "webcrawl_lowres_lang_spark"
_SHIPPED: set[int] = set()


def _pkg_sources() -> list[str]:
    out = []
    for dirpath, dirnames, files in os.walk(os.path.join(_PKG_ROOT, _PKG_NAME)):
        if "__pycache__" in dirpath:
            continue
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                out.append(os.path.join(dirpath, f))
    return out


def _pkg_fingerprint(paths: list[str]) -> str:
    """Content fingerprint of the package sources (path+mtime+size), so the
    shipped zip is rebuilt after ANY source edit. A stale zip is worse than
    no zip: Spark's worker inserts addPyFile entries at the FRONT of
    sys.path, silently shadowing fresher code on executors."""
    import hashlib

    h = hashlib.md5()
    for p in paths:
        st = os.stat(p)
        h.update(f"{os.path.relpath(p, _PKG_ROOT)}:{st.st_mtime_ns}:{st.st_size};".encode())
    return h.hexdigest()[:12]


def ensure_executors_can_import(spark: SparkSession) -> None:
    """Ship the package to executors via addPyFile (idempotent per context).

    The driver may create its SparkSession from any cwd; python workers
    only see the package when it is on their sys.path. This is the
    runtime equivalent of `spark-submit --py-files` and costs one zip
    upload per SparkContext. The zip name carries a content fingerprint:
    a fresh source tree gets a fresh zip (and a fresh addPyFile), never a
    stale cached one.
    """
    sc = spark.sparkContext
    key = id(sc._jsc)
    if key in _SHIPPED:
        return
    paths = _pkg_sources()
    zpath = os.path.join(
        tempfile.gettempdir(), f"{_PKG_NAME}_pyfiles_{_pkg_fingerprint(paths)}.zip"
    )
    if not os.path.exists(zpath):
        tmp = zpath + f".tmp{os.getpid()}"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
            for full in paths:
                z.write(full, os.path.relpath(full, _PKG_ROOT))
        os.replace(tmp, zpath)  # atomic: concurrent sessions never see a partial zip
    sc.addPyFile(zpath)
    _SHIPPED.add(key)


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
