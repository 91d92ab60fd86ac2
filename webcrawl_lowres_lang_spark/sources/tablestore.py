"""The Iceberg seam: every persistent engine table (URL-seen set, crawl
ledger/frontier snapshots, phash-representative side table) reads and
writes through these functions and NOWHERE else.

In this sandbox the backing store is an append-only parquet directory per
table — the documented Iceberg stand-in (same layout assumptions: no
row-level MERGE, appends of pre-deduplicated keys, bucket partitioning ≅
Iceberg's ``bucket(n, col)`` transform, snapshot dirs per round ≅ Iceberg
snapshots). On a cluster with an Iceberg catalog the swap is confined to
this module: ``read_table`` → ``spark.table(name)``, ``append_table`` →
``df.writeTo(name).append()``, ``overwrite_table`` →
``df.writeTo(name).createOrReplace()``, ``table_exists`` → catalog
``tableExists`` — callers never change (north rule: "over Iceberg tables",
resumable from snapshot checkpoints).

Reference analog: the SQLite tables at sql.py:147-159 (the reference's
single-file store) play this role; here the identifier is a path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def table_exists(path: str) -> bool:
    """True if the table has committed data FILES — a ``col=val`` partition
    subdir counts only if it actually holds at least one .parquet file (an
    interrupted write can leave a parquet-less partition dir, and reading
    that fails schema inference)."""
    _recover_interrupted_rewrite(path)
    if not os.path.isdir(path):
        return False
    for n in os.listdir(path):
        if n.endswith(".parquet"):
            return True
        sub = os.path.join(path, n)
        if "=" in n and os.path.isdir(sub):
            if any(m.endswith(".parquet") for m in os.listdir(sub)):
                return True
    return False


def table_version(path: str) -> list[tuple[str, int]]:
    """The table's version of record: the sorted (relative path, size) list
    of its data files, the stand-in for Iceberg's current snapshot id. Any
    append, overwrite or rewrite changes it. Files and dirs whose names
    start with ``_`` or ``.`` are skipped, as Spark's reader skips them (an
    interrupted write's ``_temporary`` dir is not part of the table)."""
    _recover_interrupted_rewrite(path)
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for n in files:
            if n.endswith(".parquet") and not n.startswith(("_", ".")):
                full = os.path.join(root, n)
                out.append((os.path.relpath(full, path), os.path.getsize(full)))
    return sorted(out)


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """Read a table (the path may carry a glob over snapshot subdirs —
    the Iceberg equivalent reads the single partitioned table instead)."""
    return spark.read.parquet(path)


def append_table(df: DataFrame, path: str, partition_by: tuple[str, ...] = ()) -> None:
    w = df.write.mode("append")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def overwrite_table(df: DataFrame, path: str, partition_by: tuple[str, ...] = ()) -> None:
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def _recover_interrupted_rewrite(path: str) -> None:
    """Startup recovery for ``rewrite_table``'s non-atomic window: a crash
    between its two renames leaves the table absent at ``path`` while the
    pre-rewrite data sits intact in ``path.rewrite.old``. Restoring the old
    dir loses only the (never-committed) rewrite — the same visibility a
    failed Iceberg snapshot commit has. Called by ``table_exists``, which
    every reader consults first, so recovery happens before any read."""
    old = path + ".rewrite.old"
    if not os.path.isdir(path) and os.path.isdir(old):
        os.rename(old, path)


def rewrite_table(df: DataFrame, path: str, partition_by: tuple[str, ...] = ()) -> None:
    """Replace a table with a plan that READS the same table (row-level
    DELETE's copy-on-write shape): surviving rows are written to a side
    dir first, then swapped in — Spark cannot overwrite a path it is
    scanning. The Iceberg equivalent is ``DELETE FROM`` (rewrite affected
    files + atomic snapshot commit); this is that seam's stand-in.

    NOT atomic: a crash between the two renames leaves ``path`` absent and
    the data in ``.rewrite.old`` — ``_recover_interrupted_rewrite`` (run by
    ``table_exists``) restores it on the next access. Stale ``.tmp``/
    ``.old`` leftovers from earlier crashes are cleared up front so a prior
    failure can never wedge the next rewrite."""
    import shutil

    tmp = path + ".rewrite.tmp"
    old = path + ".rewrite.old"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(tmp)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
