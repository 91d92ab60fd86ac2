"""Partition-invariant seeded pseudo-randomness (SURVEY.md C15).

The reference uses ``random.sample`` / ``random.randint`` on a single
process (``queries.py:14,27,42-44``), so its runs are reproducible only
because it is single-threaded. ``F.rand(seed)`` is NOT a valid Spark
replacement: its stream is keyed by partition index, so the values a row
sees change whenever the partition count changes — crawl ordering would
differ between local[8] and local[32], violating the north rule's
"identical seeds → identical ordering" requirement.

Instead, every random draw is a pure function of (seed, row key):
``xxhash64`` of the key columns with the seed folded in, mapped to a
uniform double / bounded int. Same row → same draw at any parallelism,
any partitioning, any cluster size.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 2^64 as float for uniform mapping; xxhash64 returns signed int64.
_TWO63 = float(2**63)
_TWO64 = float(2**64)


def hash64(seed: int, *cols: Column | str) -> Column:
    """Signed-64-bit hash of (seed, cols...) — the determinism kernel.

    Spark's ``xxhash64`` accepts a seed via an extra literal column: we
    fold the seed in as the first hashed value, which is equivalent for
    our purposes (stable, well-mixed, partition-invariant).
    """
    cs = [F.lit(int(seed))] + [F.col(c) if isinstance(c, str) else c for c in cols]
    return F.xxhash64(*cs)


def hrand(seed: int, *cols: Column | str) -> Column:
    """Uniform double in [0, 1), derived from ``hash64`` — replaces
    ``F.rand`` wherever partition-invariance matters."""
    h = hash64(seed, *cols)
    # map signed int64 -> [0,1): (h + 2^63) / 2^64, all in double math
    return (h.cast("double") + F.lit(_TWO63)) / F.lit(_TWO64)


def quantize9(col: Column) -> Column:
    """Quantize a double to 9dp with pure float64 ops: floor(x*1e9+0.5)/1e9.

    Used instead of F.round wherever the sequential parity oracle must
    reproduce the value bit-exactly in Python (IEEE float64 ops are
    identical on both sides; JVM BigDecimal HALF_UP rounding is not)."""
    return F.floor(col * F.lit(1e9) + F.lit(0.5)).cast("double") / F.lit(1e9)


def quantize9_py(x: float) -> float:
    """Python twin of :func:`quantize9` — same IEEE float64 operations."""
    import math

    return math.floor(x * 1e9 + 0.5) / 1e9


def salt(seed: int, buckets: int, *cols: Column | str) -> Column:
    """Stable salt bucket in [0, buckets) for skew-defusing repartitioning
    (north rule: 'salted repartitioning for host skew')."""
    return F.pmod(hash64(seed, *cols), F.lit(buckets)).cast("int")
