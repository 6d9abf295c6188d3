"""The Lloyd-round cell mean has one plan: an Arrow (sum, count) partial
whose size does not grow with d. These tests pin (a) its numbers against
a NumPy reference Lloyd round (rounded-6 cosine argmax, smallest-id
tiebreak, then the element-wise mean; empty cells keep their previous
centroid) at d=64 and d=512, and over two ``ivf_train`` rounds, and
(b) the plan shape: one pandas fold and no per-dimension aggregate at
either width (the plan-size cliff the per-dimension ``avg`` plan had).
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import numpy as np
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


def _centroid_rows(dim: int, k: int = K) -> list:
    return [(c, [float((c + j) % 5) - 2.0 for j in range(dim)]) for c in range(k)]


def _centroids(spark, dim: int, k: int = K):
    return spark.createDataFrame(
        _centroid_rows(dim, k), "centroid_id long, embedding array<double>"
    )


def _csv(values) -> str:
    """Spark's ``format_string('%.6f', round(x, 6) + 0.0)``: HALF_UP on
    the double's shortest decimal form, -0.0 folded to 0.0."""
    q = Decimal("0.000001")
    return ",".join(
        "%.6f" % (float(Decimal(repr(float(x))).quantize(q, ROUND_HALF_UP)) + 0.0)
        for x in values
    )


def _canon(df, with_n: bool = True):
    """(centroid_id[, n_members], round-6 centroid csv) rows, sorted — the
    same canonical form the kmeans_round driver gate compares on."""
    out = df.select(
        "centroid_id",
        *(["n_members"] if with_n else []),
        F.concat_ws(
            ",",
            F.transform(
                "embedding",
                lambda x: F.format_string("%.6f", F.round(x, 6) + F.lit(0.0)),
            ),
        ).alias("csv"),
    ).collect()
    return sorted(tuple(r) for r in out)


def _numpy_step(vm: np.ndarray, cents: dict) -> dict:
    """One reference Lloyd round: centroid id -> (n_members, vector)."""
    ids = sorted(cents)
    cm = np.array([cents[c] for c in ids], dtype=np.float64)
    vn = vm / np.linalg.norm(vm, axis=1, keepdims=True)
    cn = cm / np.linalg.norm(cm, axis=1, keepdims=True)
    # argmax keeps the first maximum: ids are sorted, so ties → smallest id
    nearest = np.argmax(np.round(vn @ cn.T, 6), axis=1)
    out = {}
    for i, c in enumerate(ids):
        members = vm[nearest == i]
        out[c] = (
            (len(members), members.sum(axis=0) / len(members))
            if len(members)
            else (0, cm[i])
        )
    return out


def _matrix(vecs) -> np.ndarray:
    rows = sorted(vecs.collect())
    return np.array([r.embedding for r in rows], dtype=np.float64)


def test_step_matches_numpy_reference(spark):
    for dim in (D, 512):
        vecs = _vectors(spark, dim)
        want = _numpy_step(_matrix(vecs), dict(_centroid_rows(dim)))
        got = sim.ivf_train_step(vecs, _centroids(spark, dim))
        assert _canon(got) == sorted(
            (c, n, _csv(v)) for c, (n, v) in want.items()
        ), dim


def test_train_matches_numpy_reference(spark):
    vecs = _vectors(spark, D)
    vm = _matrix(vecs)
    cents = {c: vm[c] for c in range(K)}  # init: the K smallest ids
    for _ in range(2):
        cents = {c: v for c, (_, v) in _numpy_step(vm, cents).items()}
    got = sim.ivf_train(vecs, k=K, iterations=2)
    assert _canon(got, with_n=False) == sorted(
        (c, _csv(v)) for c, v in cents.items()
    )


def test_empty_cell_keeps_previous_on_arrow_path(spark):
    # one far-away centroid attracts nothing; the fold has no row for it,
    # so it keeps (n_members=0, previous vector)
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
        for r in sim.ivf_train_step(vecs, cents).collect()
    }
    assert got[0] == (8, [1.0, 0.0, 0.0, 0.0])
    assert got[1] == (0, [-1.0, 0.0, 0.0, 0.0])


def _assert_plan_is_one_fold(spark, dim: int) -> None:
    vecs = _vectors(spark, dim, rows=16)
    cents = _centroids(spark, dim, k=2)
    plan = sim.ivf_train_step(vecs, cents)._jdf.queryExecution().toString()
    assert "FlatMapGroupsInPandas" in plan, dim
    # no per-dimension aggregate expressions (a per-dimension plan would
    # put d avg() calls in this string)
    assert plan.count("avg(") < 10, dim


def test_auto_selects_arrow_above_threshold(spark):
    # d=512: the width where the per-dimension avg() plan hit its
    # plan-size cliff still plans as one applyInPandas fold
    _assert_plan_is_one_fold(spark, 512)


def test_column_expression_count_is_bounded(spark):
    # the plan does not grow with d: at the fixture width it is the same
    # single fold as at d=512
    _assert_plan_is_one_fold(spark, D)
