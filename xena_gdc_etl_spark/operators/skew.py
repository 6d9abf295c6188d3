"""Skew mitigation for hot join keys.

AQE's skew-join splitting (enabled in session.py) handles most skew at
runtime, but it only kicks in for sort-merge joins and after a shuffle has
already materialized the hot partition. Salting attacks the skew *before*
the shuffle: the skewed (big) side scatters each hot key across ``n_salts``
sub-keys, the small side replicates each row ``n_salts`` times, and the join
key becomes (key, salt) — no partition ever holds a whole hot key. Classic
MapReduce-era technique; use when one key holds >~1 partition's worth of
rows and the other side is too big to broadcast outright.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SALT = "__salt"


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: Sequence[str],
    how: str = "inner",
    n_salts: int = 16,
) -> DataFrame:
    """Join ``big`` ⋈ ``small`` on ``on`` with the hot-key scatter above.

    The big side's salt is a deterministic hash of the whole row PLUS the
    scan partition id (stable across task retries — a retried task
    re-scans the same split; no RNG), so the same row always lands in the
    same sub-partition while IDENTICAL rows in different partitions still
    scatter. Caveat: byte-identical duplicate rows WITHIN one scan
    partition share a salt by construction — a hot key whose rows are
    both identical and co-located keeps that residual clump (project a
    distinguishing column into the frame before salting if that shape is
    real). The small side grows ``n_salts``× — keep it the
    dimension/mapping side. Result rows are identical to the unsalted
    join.
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left (small side must not grow nulls)")
    if n_salts < 1:
        # n_salts=0 would make the big-side pmod NULL / the small-side
        # sequence [0, -1] and the inner join silently return zero rows
        raise ValueError(f"n_salts must be >= 1, got {n_salts}")
    salted_big = big.withColumn(
        _SALT,
        F.pmod(
            F.xxhash64(*[F.col(c) for c in big.columns], F.spark_partition_id()),
            F.lit(n_salts),
        ),
    )
    salted_small = small.withColumn(
        _SALT, F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    ).withColumn(_SALT, F.col(_SALT).cast("bigint"))
    return salted_big.join(salted_small, [*on, _SALT], how).drop(_SALT)


def heavy_hitters(
    df: DataFrame, key_cols: Sequence[str], k: int = 20
) -> DataFrame:
    """Exact top-``k`` heaviest keys with their share of total rows — the
    skew PROFILE that decides whether :func:`salted_join` (or a
    ``max_group_size`` cap) is needed before a key becomes a hot
    partition. Run it on a join/groupBy key before shipping the job.

    Scale shape: one map-side-partial groupBy collapses the table to one
    row per distinct key; the top-k is ``orderBy().limit(k)``, which Spark
    plans as TakeOrderedAndProject — per-partition top-k heaps merged on
    the driver, NO global sort shuffle; the denominator is a 1-row
    aggregate broadcast-joined on. Ties at rank ``k`` break by key
    ascending (deterministic, oracle-mirrored).
    """
    keys = [F.col(c) for c in key_cols]
    # counts feeds two differently-shaped subtrees (top-k and the total);
    # seam(eager=False) so the table is scanned and aggregated ONCE
    # regardless of exchange-reuse behavior (persist, not lazy
    # localCheckpoint, whose .rdd conversion executes stages at
    # construction under AQE — see dedup.containment_pairs); registered
    # for bounded eviction + release (operators/seams.py).
    from xena_gdc_etl_spark.operators.seams import seam

    counts = seam(
        df.groupBy(*keys).agg(F.count(F.lit(1)).alias("cnt")),
        eager=False,
    )
    total = counts.agg(F.sum("cnt").alias("__total"))
    topk = counts.orderBy(F.col("cnt").desc(), *key_cols).limit(k)
    return topk.join(F.broadcast(total)).select(
        *key_cols,
        F.col("cnt").cast("bigint").alias("cnt"),
        F.round(F.col("cnt") / F.col("__total"), 6).alias("share"),
    )
