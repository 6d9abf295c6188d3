"""The Lloyd-round cell mean has two plans — d avg columns (codegen, the
default at fixture widths) and an Arrow (sum, count) partial (O(1) plan
size in d, the default at real embedding widths) — selected by
IVF_MEAN_ARROW_MIN_DIM. These tests pin (a) numeric equivalence of the
two paths at d=64, (b) the auto selection on both sides of the
threshold, and (c) the plan shapes: the column path's aggregate
expression count is bounded by the threshold because any wider dim
routes to the Arrow partial (the round-10 verdict's plan-size cliff).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from xena_gdc_etl_spark.operators import similarity as sim

K, D = 4, 64


def _vectors(spark, dim: int, rows: int = 96):
    return spark.range(rows).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                ((F.col("id") * (i + 3)) % 11).cast("double") - F.lit(5.0)
                for i in range(dim)
            ]
        ).alias("embedding"),
    )


def _centroids(spark, dim: int, k: int = K):
    return spark.createDataFrame(
        [(c, [float((c + j) % 5) - 2.0 for j in range(dim)]) for c in range(k)],
        "centroid_id long, embedding array<double>",
    )


def _canon(df):
    """(centroid_id, n_members, round-6 centroid csv) rows, sorted — the
    same canonical form the kmeans_round driver gate compares on."""
    out = df.select(
        "centroid_id",
        "n_members",
        F.concat_ws(
            ",",
            F.transform(
                "embedding",
                lambda x: F.format_string("%.6f", F.round(x, 6) + F.lit(0.0)),
            ),
        ).alias("csv"),
    ).collect()
    return sorted((r.centroid_id, r.n_members, r.csv) for r in out)


def test_step_paths_equivalent_d64(spark):
    vecs = _vectors(spark, D)
    cents = _centroids(spark, D)
    col = sim.ivf_train_step(vecs, cents, dim=D, mean_path="column")
    arw = sim.ivf_train_step(vecs, cents, dim=D, mean_path="arrow")
    assert _canon(col) == _canon(arw)


def test_train_paths_equivalent_d64(spark):
    vecs = _vectors(spark, D)

    def canon_train(path):
        got = sim.ivf_train(vecs, k=K, iterations=2, mean_path=path)
        rows = got.select(
            "centroid_id",
            F.concat_ws(
                ",",
                F.transform(
                    "embedding",
                    lambda x: F.format_string(
                        "%.6f", F.round(x, 6) + F.lit(0.0)
                    ),
                ),
            ).alias("csv"),
        ).collect()
        return sorted((r.centroid_id, r.csv) for r in rows)

    assert canon_train("column") == canon_train("arrow")


def test_empty_cell_keeps_previous_on_arrow_path(spark):
    # one far-away centroid attracts nothing; the arrow path must keep it
    # (n_members=0, previous vector) exactly like the column path
    vecs = spark.createDataFrame(
        [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [-1.0, 0.0, 0.0, 0.0])],
        "centroid_id long, embedding array<double>",
    )
    got = {
        r.centroid_id: (r.n_members, list(r.embedding))
        for r in sim.ivf_train_step(
            vecs, cents, dim=4, mean_path="arrow"
        ).collect()
    }
    assert got[0] == (8, [1.0, 0.0, 0.0, 0.0])
    assert got[1] == (0, [-1.0, 0.0, 0.0, 0.0])


def test_auto_selects_column_below_threshold(spark):
    vecs = _vectors(spark, D, rows=16)
    cents = _centroids(spark, D)
    plan = sim.ivf_train_step(vecs, cents, dim=D)._jdf.queryExecution().toString()
    # applyInPandas (the arrow fold) must NOT appear below the threshold
    assert "FlatMapGroupsInPandas" not in plan


def test_auto_selects_arrow_above_threshold(spark):
    d = sim.IVF_MEAN_ARROW_MIN_DIM * 2  # 512 at the documented default
    vecs = _vectors(spark, d, rows=16)
    cents = _centroids(spark, d, k=2)
    plan = sim.ivf_train_step(vecs, cents, dim=d)._jdf.queryExecution().toString()
    assert "FlatMapGroupsInPandas" in plan
    # the plan-size cliff is gone: no per-dimension aggregate expressions
    # (the column path would put d=512 avg() calls in this string)
    assert plan.count("avg(") < 10


def test_column_expression_count_is_bounded():
    # the documented contract: auto never builds more aggregate columns
    # than the threshold — any wider dim routes to the arrow partial
    assert sim.IVF_MEAN_ARROW_MIN_DIM == 256


def test_bad_mean_path_rejected(spark):
    vecs = _vectors(spark, 4, rows=8)
    cents = _centroids(spark, 4, k=2)
    with pytest.raises(ValueError, match="mean_path"):
        sim.ivf_train_step(vecs, cents, dim=4, mean_path="vectorized").collect()


def test_auto_threshold_is_row_count_aware(spark):
    # measured crossover anchors (BASELINE §mean-dim-r18): ≈160 at 2k
    # rows, 320 at 100k rows, log-interpolated between. d=192 sits
    # between the anchors, so the SAME dim routes arrow on a small frame
    # (threshold 160) and column on a larger one (threshold > 192).
    d = 192
    cents = _centroids(spark, d, k=2)
    small = sim.ivf_train_step(_vectors(spark, d, rows=16), cents, dim=d)
    big = sim.ivf_train_step(_vectors(spark, d, rows=100_000), cents, dim=d)
    assert "FlatMapGroupsInPandas" in small._jdf.queryExecution().toString()
    assert "FlatMapGroupsInPandas" not in big._jdf.queryExecution().toString()


def test_arrow_mean_min_dim_anchored_and_clamped():
    # clamped at the measured anchors, monotone between them
    assert sim._arrow_mean_min_dim(1) == 160.0
    assert sim._arrow_mean_min_dim(2_000) == 160.0
    assert sim._arrow_mean_min_dim(100_000) == 320.0
    assert sim._arrow_mean_min_dim(10**9) == 320.0
    mid = sim._arrow_mean_min_dim(14_142)  # geometric midpoint
    assert 235 < mid < 245
