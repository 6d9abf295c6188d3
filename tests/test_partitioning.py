"""Tests for the fill-aware, plan-only pre-explode spread probe
(operators/partitioning.py) — the round-7 verdict's #3: partition COUNTS
(parquet byte-range slices) are not a fill signal, and ``.rdd`` probes
force AQE shuffle materialization.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from xena_gdc_etl_spark.operators import partitioning as pt
from xena_gdc_etl_spark.plans import shuffle_count


def test_single_row_group_file_still_spreads(spark, tmp_path):
    """The round-7 pathology: a compact SINGLE-row-group parquet file
    split into >= parallelism empty byte-range slices fooled the old
    ``getNumPartitions() >= par`` probe into skipping the spread, running
    the 100-300x explode at parallelism 1. The fill-aware probe must
    still engage."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "one_rg.parquet")
    n = 4000
    tbl = pa.table(
        {"doc_id": list(range(n)), "text": ["lorem ipsum dolor sit amet " * 3] * n}
    )
    pq.write_table(tbl, path, row_group_size=n)  # exactly one row group
    assert pq.ParquetFile(path).num_row_groups == 1

    par = spark.sparkContext.defaultParallelism
    old = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.files.maxPartitionBytes",
            "spark.sql.files.openCostInBytes",
        )
    }
    try:
        # force the scan to split the file into many byte-range slices,
        # as a large minPartitionNum does on a real cluster
        spark.conf.set("spark.sql.files.maxPartitionBytes", "2048")
        spark.conf.set("spark.sql.files.openCostInBytes", "0")
        df = spark.read.parquet(path)
        # the old probe's signal: slice count says "filled"...
        assert df.rdd.getNumPartitions() >= par
        # ...but every row sits in the one slice holding the row group,
        # and the new probe (bytes, not slices) spreads anyway
        spread = pt.spread(df)
        assert shuffle_count(spread) == shuffle_count(df) + 1
        assert spread.count() == n
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_probe_is_plan_only_no_job(spark):
    """Probing a frame whose plan contains exchanges must not launch a
    job (the old ``.rdd`` probe materialized all upstream shuffle stages
    under AQE)."""
    agg = (
        spark.range(2000)
        .groupBy((F.col("id") % 7).alias("g"))
        .agg(F.count("*").alias("n"))
    )
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    pt.explicit_partition_width(agg)
    pt.estimated_size_bytes(agg)
    pt.spread(agg)  # plan construction only — nothing executed
    after = tracker.getJobIdsForGroup(None)
    assert sorted(after) == sorted(before)


def test_explicit_repartition_is_trusted(spark):
    par = spark.sparkContext.defaultParallelism
    wide = spark.range(1000).repartition(par + 4)
    narrow = spark.range(1000).coalesce(1)
    assert pt.explicit_partition_width(wide) == par + 4
    # coalesce is NOT a trusted width (its k is only an upper bound):
    # the probe falls through to the size estimate
    assert pt.explicit_partition_width(narrow) is None
    # projections/filters on top don't hide the repartition
    assert (
        pt.explicit_partition_width(
            wide.select((F.col("id") * 2).alias("x")).filter("x > 4")
        )
        == par + 4
    )
    assert shuffle_count(pt.spread(wide)) == shuffle_count(wide)
    assert shuffle_count(pt.spread(narrow)) == shuffle_count(narrow) + 1


def test_coalesce_width_not_trusted(spark):
    """Round-8 advisor (medium): coalesce(k) emits a Repartition node with
    shuffle=false whose k is an UPPER bound — a 1-partition frame under
    .coalesce(par+4) reported width par+4 and skipped the spread, running
    the explode on one core. The probe must ignore coalesce widths and
    fall through to the size estimate (small frame → spread fires)."""
    par = spark.sparkContext.defaultParallelism
    # NB: .repartition(k).coalesce(m) gets COLLAPSED by Catalyst into one
    # shuffle Repartition, so build the bare coalesce the pathology uses:
    # a narrow scan (here range with few splits) under a wide coalesce.
    inflated = spark.range(0, 1000, 1, numPartitions=2).coalesce(par + 4)
    node = inflated._jdf.queryExecution().optimizedPlan()
    assert node.nodeName() == "Repartition" and not node.shuffle()
    assert pt.explicit_partition_width(inflated) is None
    assert shuffle_count(pt.spread(inflated)) == shuffle_count(inflated) + 1
    # a REAL shuffle repartition of the same width is still trusted
    real = spark.range(1000).repartition(par + 4)
    assert shuffle_count(pt.spread(real)) == shuffle_count(real)


def test_statless_source_sentinel_spreads(spark, monkeypatch):
    """Round-8 advisor (low): sources without stats (JDBC, some DSv2)
    report the defaultSizeInBytes sentinel (~Long.MaxValue), which always
    beats the per-core threshold and silently disabled the spread for
    exactly the sources likeliest to arrive in one partition. A size at
    or above SIZE_UNKNOWN_SENTINEL must be treated as unknown → spread."""
    df = spark.range(1000)
    monkeypatch.setattr(pt, "estimated_size_bytes", lambda _df: 1 << 62)
    assert shuffle_count(pt.spread(df)) == shuffle_count(df) + 1
    # a plausibly-huge but REAL estimate below the sentinel still skips
    monkeypatch.setattr(pt, "estimated_size_bytes", lambda _df: 1 << 50)
    assert shuffle_count(pt.spread(df)) == shuffle_count(df)


def test_large_scan_skips_spread(spark, sf_dir, monkeypatch):
    """A scan estimated over the per-core threshold never pays the
    shuffle — the 100 TB contract. Locally every test scan is tiny, so
    shrink the threshold to put the fixture 'over' it."""
    monkeypatch.setattr(pt, "SPREAD_BYTES_PER_CORE", 1)
    df = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    assert shuffle_count(pt.spread(df)) == shuffle_count(df)


def test_small_scan_spreads(spark, sf_dir):
    df = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    assert pt.estimated_size_bytes(df) > 0
    assert shuffle_count(pt.spread(df)) == shuffle_count(df) + 1


def test_spread_shuffles_only_consumed_columns(spark, sf_dir):
    """The spread never shuffles full rows when the caller projects:
    Catalyst's ColumnPruning pushes a Project BELOW the Repartition, so
    only the columns the downstream plan consumes cross the wire (the
    round-8 verdict's 'spread the slim projection' concern is satisfied
    by the optimizer, pinned here so a regression is loud)."""
    df = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out = pt.spread(df).select("doc_id", F.length("text").alias("L"))
    plan = out._jdf.queryExecution().optimizedPlan()
    rep = plan
    while rep.nodeName() != "Repartition":
        assert rep.children().size() == 1, "no Repartition in spread plan"
        rep = rep.children().head()
    below = rep.children().head()
    assert below.nodeName() == "Project"
    pruned_cols = below.output().size()
    assert pruned_cols < len(df.columns), (
        "spread shuffled the full row; column pruning below Repartition "
        "regressed"
    )


def test_spread_min_bytes_floor(spark):
    # below the floor a KNOWN-size frame stays unspread (constant-fan-out
    # consumers); at/above it the normal underfill logic applies; UNKNOWN
    # sizes (RDD-backed) keep the err-toward-spreading posture
    small = spark.range(1000).selectExpr("id")  # ~8 KB known stats
    assert pt.spread(small, 8, min_bytes=1 << 20) is small
    spread_any = pt.spread(small, 8)  # no floor -> underfilled -> spread
    assert spread_any is not small
    rdd_backed = spark.createDataFrame([(i,) for i in range(10)], "id long")
    assert pt.spread(rdd_backed, 8, min_bytes=1 << 60) is not rdd_backed


def test_spread_min_bytes_floor_wins_over_narrow_repartition(spark):
    # the floor is checked before the explicit-width branch: a sub-floor
    # frame under a Repartition narrower than the target stays as is
    narrow = spark.range(1000).repartition(1)
    assert pt.explicit_partition_width(narrow) == 1
    assert pt.spread(narrow, 8, min_bytes=1 << 20) is narrow
    # without the floor the narrow width still triggers the spread
    assert pt.explicit_partition_width(pt.spread(narrow, 8)) == 8


def test_local_rows_df_slices_by_size(spark):
    # tiny driver products must not fan out to a partition per core
    tiny = pt.local_rows_df(spark, [(1, 2), (3, 4)], "a long, b long")
    assert tiny.rdd.getNumPartitions() == 1
    assert sorted(tuple(r) for r in tiny.collect()) == [(1, 2), (3, 4)]
    big = pt.local_rows_df(
        spark, [(i,) for i in range(120_000)], "a long", rows_per_slice=50_000
    )
    assert 1 < big.rdd.getNumPartitions() <= spark.sparkContext.defaultParallelism
    assert big.count() == 120_000
    # exact multiples of rows_per_slice take no extra slice
    for n_rows, n_slices in ((50_000, 1), (100_000, 2)):
        exact = pt.local_rows_df(
            spark, [(i,) for i in range(n_rows)], "a long", rows_per_slice=50_000
        )
        assert exact.rdd.getNumPartitions() == n_slices
    empty = pt.local_rows_df(spark, [], "a long")
    assert empty.count() == 0
