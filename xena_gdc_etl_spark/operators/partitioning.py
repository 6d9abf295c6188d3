"""Fill-aware, plan-only parallelism probe for the pre-explode spread.

The dedup/text/similarity operators inflate rows 100-300× (shingling,
tokenizing, per-subspace PQ encode) and must run at cluster parallelism —
but a 100 TB scan whose input splits already fill the cluster must never
pay a pre-explode shuffle. Two previous probes were wrong:

- ``df.rdd.getNumPartitions()`` counts parquet BYTE-RANGE slices, not
  populated partitions: a compact single-row-group file splits into
  up-to-``minPartitionNum`` ranges that all report as partitions while
  every row materializes in the one slice holding the row group — the
  probe said "filled", and the explode ran at parallelism 1.
- Worse, with AQE enabled ``.rdd`` on a frame whose plan contains
  exchanges forces ``AdaptiveSparkPlanExec`` to materialize the upstream
  shuffle stages as real jobs that the subsequent query does not reuse.

This probe touches only the optimized logical plan (no ``.rdd``, no job):

1. Descend from the root through partition-preserving nodes (Project /
   Filter / SubqueryAlias / Generate). If the first partition-DETERMINING
   node is an explicit Repartition / RepartitionByExpression /
   RebalancePartitions with a known width ≥ the target parallelism, trust
   it — round-robin/hash repartition output genuinely holds rows in every
   partition, whatever their size.
2. Otherwise fall back to the plan's size estimate
   (``optimizedPlan().stats().sizeInBytes()``): spread when the frame is
   estimated under ``SPREAD_BYTES_PER_CORE`` × parallelism. Bytes are
   fill-aware where slice counts are not — the single-row-group pathology
   only exists for small files (a parquet writer starts a new row group
   every ~128 MB), so a scan big enough to beat the threshold has enough
   row groups to populate its splits.

The cost asymmetry motivates erring toward spreading: a false spread
shuffles < parallelism × 16 MiB of un-exploded rows (trivial); a false
skip runs a 100-300× explode on one core. Every consumer of this helper
aggregates order-invariantly (min-hash, ±1 sums, counts), so the
conditional partitioning cannot change results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Per-core byte threshold for the "underfilled" verdict. 16 MiB of
# compressed parquet per core ≈ one small row group; scans denser than
# this fill their splits with real rows. Read at call time, so tests
# override it with monkeypatch.setattr and lanes with
# ``scripts/lanes.py --set partitioning.SPREAD_BYTES_PER_CORE=...``.
SPREAD_BYTES_PER_CORE = 16 * 1024 * 1024

# Catalyst reports ``spark.sql.defaultSizeInBytes`` (Long.MaxValue by
# default) for relations it cannot estimate — JDBC scans, stat-less DSv2
# relations. Such a sentinel would always beat the per-core threshold and
# silently disable the spread for exactly the sources most likely to arrive
# in a handful of partitions. Anything ≥ 1 EiB is not a real size estimate:
# treat it as UNKNOWN and keep the documented err-toward-spreading posture.
SIZE_UNKNOWN_SENTINEL = 1 << 60

# Nodes that neither add nor move partitions: safe to descend through
# when looking for the node that determines the frame's partitioning.
_PARTITION_PRESERVING = {"Project", "Filter", "SubqueryAlias", "Generate"}
_REPARTITION_NODES = {
    "Repartition",
    "RepartitionByExpression",
    "RebalancePartitions",
}


def explicit_partition_width(df: DataFrame) -> int | None:
    """Width of the explicit repartition governing ``df``'s output
    partitioning, or None when partitioning is scan-/shuffle-determined.

    Plan-only: walks the optimized logical plan root chain; never
    converts to RDD, never runs a job.
    """
    node = df._jdf.queryExecution().optimizedPlan()
    while node.nodeName() in _PARTITION_PRESERVING:
        children = node.children()
        if children.size() != 1:
            return None
        node = children.head()
    if node.nodeName() in _REPARTITION_NODES:
        try:
            if node.nodeName() == "Repartition" and not node.shuffle():
                # coalesce(k): k is only an UPPER bound — coalesce cannot
                # raise the upstream partition count, so a 1-partition scan
                # under .coalesce(32) would report width 32 while every row
                # still sits in one task. Width unknown → size fallback.
                return None
            return int(node.numPartitions())
        except Exception:
            return None  # RebalancePartitions with no explicit width
    return None


def estimated_size_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for the frame (compressed bytes for
    scans, propagated through projections). Plan-only, no job."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def local_rows_df(spark, rows: list, schema, rows_per_slice: int = 50_000):
    """Driver-side rows → DataFrame with size-proportional slicing.

    ``createDataFrame(list)`` slices the backing RDD to
    defaultParallelism regardless of size, so a 50-row driver-computed
    label map becomes a core-count-partition RDD whose every consumption
    (a broadcast build, a limit+collect) schedules one task per core —
    pure fixed cost on the query path (guide §5). One slice per
    ~``rows_per_slice`` rows keeps small frames single-task while a
    genuinely large driver product still parallelizes."""
    n = max(
        1,
        min(
            (len(rows) + rows_per_slice - 1) // rows_per_slice,
            spark.sparkContext.defaultParallelism,
        ),
    )
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, n), schema)


def collect_at_most(df: DataFrame, cap: int, pandas: bool = False):
    """The one driver-shortcut probe: ONE ``limit(cap + 1)`` action is
    both the size check and the collect. Returns the rows (a pandas frame
    with ``pandas=True``) when ``df`` has at most ``cap``, else ``None``.
    ``toPandas`` runs a limit as one job at any partition count;
    ``collect`` scans incrementally, one job per partition wave."""
    small = df.limit(cap + 1)
    rows = small.toPandas() if pandas else small.collect()
    return rows if len(rows) <= cap else None


def spread(
    df: DataFrame,
    parallelism: int | None = None,
    min_bytes: int = 0,
) -> DataFrame:
    """Repartition ``df`` to ``parallelism`` iff the plan says it is
    underfilled (see module docstring); identity on frames that already
    fill the cores.

    ``min_bytes``: identity when the KNOWN size estimate is below this
    floor — checked first, so it also wins over an explicit Repartition
    narrower than ``parallelism``. The default 0 keeps the module's
    err-toward-spreading posture — a 100-300× explode consumer must
    spread even a tiny frame.
    Constant-fan-out consumers (the broadcast-matmul Arrow family, where
    per-row work is microseconds and output ≈ input) pass a floor: for
    them a sub-floor frame costs more in the repartition exchange + one
    Python task round-trip per core than the single-task compute it
    saves (measured: the 0.6 MiB sf0.1 embedding frame's assign runs
    0.71 s unspread vs 1.00 s spread on 32 cores). UNKNOWN sizes never
    hit the floor — they keep the spread."""
    par = parallelism or df.sparkSession.sparkContext.defaultParallelism
    size = estimated_size_bytes(df)
    if size < min_bytes:
        return df
    width = explicit_partition_width(df)
    if width is not None:
        return df if width >= par else df.repartition(par)
    if par * SPREAD_BYTES_PER_CORE <= size < SIZE_UNKNOWN_SENTINEL:
        return df
    return df.repartition(par)
