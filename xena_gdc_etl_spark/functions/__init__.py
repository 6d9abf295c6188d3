"""Column-expression helpers shared across operators.

All hashing used for dedup/LSH is md5-derived so results are engine-portable
(identical in Spark and any oracle) and stable across runs/partitionings —
never Spark-internal ``hash``/``xxhash64``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_hash60(col: Column | str, seed: str = "") -> Column:
    """Deterministic 60-bit integer hash: first 15 hex chars of
    md5(seed || value), base-16 decoded. Portable and partition-invariant.
    """
    c = F.col(col) if isinstance(col, str) else col
    seeded = F.concat(F.lit(seed), c) if seed else c
    return F.conv(F.substring(F.md5(seeded), 1, 15), 16, 10).cast("bigint")

