"""Distributed logistic regression as an aggregate-only driver loop.

The pattern that makes iterative algorithms survive 100 TB (same contract
as the k-means trainers in operators/similarity.py): per round, ONE scan
of the data folds into a fixed-size aggregate — an Arrow-batched partial
gradient per partition, summed JVM-side — and the driver holds only the
weight vector (d+1 floats). Nothing data-sized ever reaches the driver;
rounds are fixed (no data-dependent stopping), init is zeros, so training
is deterministic for a fixed partitioning.

This is deliberately NOT an MLlib wrapper, but it IS MLlib's trainer
shape (cached features + a treeAggregate-style gradient fold per round)
re-expressed DataFrame-first. The current weights travel to executors in
a broadcast, NEVER as plan literals: an earlier version folded them into
a Catalyst ``avg`` expression, which changed the generated whole-stage
source every round and paid ~one janino compile per iteration — on any
corpus small enough to aggregate in milliseconds, 20 recompiles WERE the
wall clock. With broadcast weights the round plan is byte-identical, so
codegen compiles once and every subsequent round is a cache hit.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from xena_gdc_etl_spark.operators.partitioning import collect_at_most

__all__ = ["logistic_train", "logistic_train_step", "logistic_predict", "loss"]


def _sigmoid(z: Column) -> Column:
    return 1.0 / (1.0 + F.exp(-z))


def _dot(weights: list[float], feature_cols: Sequence[str], bias: float) -> Column:
    if len(weights) != len(feature_cols):
        # zip would silently truncate and score from a feature subset
        raise ValueError(
            f"{len(weights)} weights for {len(feature_cols)} feature "
            "columns — the lists must align one-to-one"
        )
    z = F.lit(float(bias))
    for w, c in zip(weights, feature_cols):
        z = z + F.lit(float(w)) * F.col(c)
    return z


def _effective_driver_cap(driver_max_rows: int, d: int) -> int:
    """Byte-budget row cap for the driver-side GD fold: the
    ``driver_max_rows`` knob is calibrated for d=3 ((d+1)=4 doubles per
    row, 2M rows ≈ 64 MB), so scale by 4/(d+1) to hold the collect's
    byte size constant as the feature list widens — d=100 would
    otherwise pull rows×101 doubles (≈1.6 GB at the default cap) into
    one toPandas."""
    return (driver_max_rows * 4) // (d + 1) if driver_max_rows else 0


def logistic_train(
    df: DataFrame,
    feature_cols: Sequence[str],
    label_col: str,
    iterations: int = 20,
    lr: float = 1.0,
    driver_max_rows: int = 2_000_000,
) -> tuple[list[float], float]:
    """Full-batch gradient descent; returns (weights, bias).

    Two execution paths, same numpy math on the same (X, y) values:

    - the input fits the driver BUDGET: ONE slim collect — d+1 doubles
      per row — then every round folds in-driver. Full-batch GD over a
      handful of floats per row is a driver-sized problem once the
      corpus has been reduced to features; 20 sequential Spark jobs
      would each pay the job-scheduling floor just to move d+1 floats
      (the same small-frame economics as the prefix-scan fallback in
      operators/prefix.py). The budget is in BYTES, not rows:
      ``driver_max_rows`` is calibrated for d=3 (2M × 4 doubles ≈ 64 MB)
      and the effective row cap scales as ``4/(d+1)`` so a wide feature
      list cannot balloon the collect (d=100 would otherwise pull
      ≈1.6 GB). The path probe IS that collect, bounded to cap+1 rows
      (``partitioning.collect_at_most``) — a fitting input is collected
      by its own probe, and the distributed path never pays a full input
      scan just to pick the path; it learns the true n from its own
      first gradient aggregate.
    - otherwise (the 100 TB path): one job per round — an Arrow-batched
      partial gradient per partition (numpy sigmoid + BLAS ``errᵀ·X``
      under the *broadcast* weights) folds into a d+2-column JVM ``sum``
      aggregate; the driver receives d+1 floats. The round plan never
      embeds the weights, so its generated code is identical every round
      (one codegen compile for the whole loop — see module docstring).

    Pass ``driver_max_rows=0`` to force the distributed path (tests do,
    to pin both paths). ``label_col`` must be 0/1 numeric; features and
    label must be non-null (a null would poison the whole-batch BLAS
    fold as NaN rather than being skipped per-column).
    """
    feature_cols = list(feature_cols)
    d = len(feature_cols)
    spark = df.sparkSession
    base = df.select(
        F.col(label_col).cast("double").alias("__y"),
        *[
            F.col(c).cast("double").alias(f"__x{i}")
            for i, c in enumerate(feature_cols)
        ],
    )
    gcols = [f"g{i}" for i in range(d)]
    xcols = [f"__x{i}" for i in range(d)]
    effective_cap = _effective_driver_cap(driver_max_rows, d)
    # one bounded probe-and-collect: a 100 TB input pays ~cap rows here,
    # not a full count — the distributed path's first gradient aggregate
    # supplies the true n. A zero cap still probes one row, so an empty
    # input fails here on either path.
    pdf = collect_at_most(base, effective_cap, pandas=True)
    if pdf is not None and pdf.empty:
        raise ValueError("logistic_train: input has no rows")
    if pdf is not None:
        # the same loop _reference_train pins the distributed path
        # against — shared, not re-implemented, so the two can't diverge
        return _gd_loop(
            pdf[xcols].to_numpy(dtype=np.float64),
            pdf["__y"].to_numpy(dtype=np.float64),
            iterations,
            lr,
        )
    schema = StructType(
        [StructField("n", LongType()), StructField("g_b", DoubleType())]
        + [StructField(g, DoubleType()) for g in gcols]
    )
    w = np.zeros(d, dtype=np.float64)
    b = 0.0
    for _ in range(iterations):
        bc = spark.sparkContext.broadcast((w.copy(), float(b)))

        def _partial(
            batches: Iterator[pd.DataFrame], _bc=bc
        ) -> Iterator[pd.DataFrame]:
            wv, bv = _bc.value
            n = 0
            gb = 0.0
            g = np.zeros(len(wv), dtype=np.float64)
            for pdf in batches:
                if pdf.empty:
                    continue
                x = pdf[xcols].to_numpy(dtype=np.float64)
                yv = pdf["__y"].to_numpy(dtype=np.float64)
                err = 1.0 / (1.0 + np.exp(-(x @ wv + bv))) - yv
                n += len(err)
                gb += float(err.sum())
                g += err @ x
            if n:
                yield pd.DataFrame(
                    [[n, gb, *g.tolist()]], columns=["n", "g_b", *gcols]
                )

        row = (
            base.mapInPandas(_partial, schema=schema)
            .agg(
                F.sum("n").alias("n"),
                F.sum("g_b").alias("g_b"),
                *[F.sum(g).alias(g) for g in gcols],
            )
            .collect()[0]
        )
        bc.destroy()
        n_total = row["n"]
        if not n_total:
            raise ValueError("logistic_train: input has no rows")
        b -= lr * row["g_b"] / n_total
        w = w - lr * np.array([row[g] for g in gcols]) / n_total
    return [float(v) for v in w], float(b)


def logistic_train_step(
    df: DataFrame,
    feature_cols: Sequence[str],
    label_col: str,
    weights: Sequence[float],
    bias: float,
    lr: float = 1.0,
) -> DataFrame:
    """ONE full-batch GD round under FROZEN weights, as a DataFrame —
    the per-round body of :func:`logistic_train` factored so the
    trainer's numerics can be oracle-gated (the iterated trainer stays
    rows-only; a single round under fixed state is plain arithmetic):

        err  = sigmoid(w·x + b) − y
        b'   = b − lr · avg(err)
        w_j' = w_j − lr · avg(err · x_j)

    Returns (coef, new_value) rows — 'bias' plus one per feature,
    rounded at 6. Entirely JVM-side: the error is a scan-stage Column
    expression under literal weights and the gradient is ONE partial
    aggregate (d+1 avg columns); no Python, no shuffle beyond the 1-row
    agg. A unit test pins ``logistic_train(iterations=1)`` ==
    step-from-zeros (tests/test_logreg.py).
    """
    feature_cols = list(feature_cols)
    weights = [float(w) for w in weights]
    err = _sigmoid(_dot(weights, feature_cols, bias)) - F.col(
        label_col
    ).cast("double")
    agg = df.agg(
        F.avg(err).alias("__gb"),
        *[
            F.avg(err * F.col(c)).alias(f"__g{i}")
            for i, c in enumerate(feature_cols)
        ],
    )
    updates = [
        F.struct(
            F.lit("bias").alias("coef"),
            F.round(F.lit(float(bias)) - lr * F.col("__gb"), 6).alias(
                "new_value"
            ),
        )
    ] + [
        F.struct(
            F.lit(c).alias("coef"),
            F.round(F.lit(weights[i]) - lr * F.col(f"__g{i}"), 6).alias(
                "new_value"
            ),
        )
        for i, c in enumerate(feature_cols)
    ]
    return agg.select(F.explode(F.array(*updates)).alias("u")).select(
        "u.coef", "u.new_value"
    )


def logistic_predict(
    df: DataFrame,
    weights: Sequence[float],
    bias: float,
    feature_cols: Sequence[str],
    out_col: str = "p",
) -> DataFrame:
    """Score rows under trained weights — a pure projection (scan-stage
    codegen, no shuffle)."""
    return df.withColumn(
        out_col, F.round(_sigmoid(_dot(list(weights), feature_cols, bias)), 6)
    )


def loss(
    df: DataFrame,
    weights: Sequence[float],
    bias: float,
    feature_cols: Sequence[str],
    label_col: str,
) -> float:
    """Mean log-loss under the given weights (one aggregate job) — the
    convergence diagnostic; epsilon-clamped for numerical safety."""
    eps = 1e-12
    y = F.col(label_col).cast("double")
    p = _sigmoid(_dot(list(weights), feature_cols, bias))
    p = F.least(F.greatest(p, F.lit(eps)), F.lit(1.0 - eps))
    return df.agg(
        F.avg(-(y * F.log(p) + (1.0 - y) * F.log(1.0 - p)))
    ).collect()[0][0]


def _reference_train(
    rows: list[tuple[Sequence[float], float]],
    iterations: int = 20,
    lr: float = 1.0,
) -> tuple[list[float], float]:
    """Driver-side reference implementation (same numpy math on one
    in-memory matrix) used by tests to pin the distributed trainer's
    numerics on small single-partition inputs — identical array ops on
    identical arrays, so the pin can be near-bitwise."""
    x = np.array([list(f) for f, _ in rows], dtype=np.float64)
    yv = np.array([y for _, y in rows], dtype=np.float64)
    return _gd_loop(x, yv, iterations, lr)


def _gd_loop(
    x: "np.ndarray", yv: "np.ndarray", iterations: int, lr: float
) -> tuple[list[float], float]:
    """The one in-memory GD loop: shared by logistic_train's driver path
    and the test reference so their numerics are the same code, not two
    hand-synced copies."""
    n = len(yv)
    w = np.zeros(x.shape[1], dtype=np.float64)
    b = 0.0
    for _ in range(iterations):
        err = 1.0 / (1.0 + np.exp(-(x @ w + b))) - yv
        b -= lr * float(err.sum()) / n
        w = w - lr * (err @ x) / n
    return [float(v) for v in w], float(b)
