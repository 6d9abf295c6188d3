"""Distributed logistic-regression trainer: numerics pinned against the
driver-side reference implementation, convergence, and plan shape.
"""

from __future__ import annotations

from xena_gdc_etl_spark.operators import logreg

ROWS = [
    ([0.1, 0.9], 1.0),
    ([0.2, 0.8], 1.0),
    ([0.15, 0.85], 1.0),
    ([0.9, 0.1], 0.0),
    ([0.8, 0.2], 0.0),
    ([0.85, 0.15], 0.0),
]


def _df(spark, n_partitions=1):
    df = spark.createDataFrame(
        [(x[0], x[1], y) for x, y in ROWS], ["f0", "f1", "y"]
    )
    return df.coalesce(n_partitions)


def test_matches_reference_implementation_driver_path(spark):
    # rows ≤ driver_max_rows ⇒ the one-collect path; the collected matrix
    # IS the reference's matrix and both run the same numpy ops on it
    w, b = logreg.logistic_train(_df(spark, 1), ["f0", "f1"], "y", iterations=15)
    wr, br = logreg._reference_train(ROWS, iterations=15)
    assert all(abs(a - c) < 1e-12 for a, c in zip(w, wr))
    assert abs(b - br) < 1e-12


def test_matches_reference_implementation_distributed_path(spark):
    # driver_max_rows=0 forces the per-round Arrow partial-gradient jobs;
    # single partition => the partial sees the same matrix the reference
    # holds (pin to 1e-12: Arrow round-trip and one-row JVM sum are exact)
    w, b = logreg.logistic_train(
        _df(spark, 1), ["f0", "f1"], "y", iterations=5, driver_max_rows=0
    )
    wr, br = logreg._reference_train(ROWS, iterations=5)
    assert all(abs(a - c) < 1e-12 for a, c in zip(w, wr))
    assert abs(b - br) < 1e-12


def test_partitioning_invariance(spark):
    # the distributed gradient is a sum of per-partition partials divided
    # by the global count — re-partitioning only re-associates the float
    # sum, so 1-partition and 3-partition training agree to fp-association
    # tolerance (and both agree with the driver path the same way)
    w1, b1 = logreg.logistic_train(
        _df(spark, 1), ["f0", "f1"], "y", iterations=4, driver_max_rows=0
    )
    w3, b3 = logreg.logistic_train(
        _df(spark, 3), ["f0", "f1"], "y", iterations=4, driver_max_rows=0
    )
    wd, bd = logreg.logistic_train(_df(spark, 3), ["f0", "f1"], "y", iterations=4)
    assert all(abs(a - c) < 1e-9 for a, c in zip(w1, w3))
    assert abs(b1 - b3) < 1e-9
    assert all(abs(a - c) < 1e-9 for a, c in zip(wd, w3))
    assert abs(bd - b3) < 1e-9


def test_driver_cap_scales_with_feature_width():
    # the driver-collect budget is bytes, not rows: the d=3-calibrated
    # knob (2M rows ≈ 64 MB) must shrink as the feature list widens so a
    # wide model cannot pull gigabytes into one toPandas
    cap = logreg._effective_driver_cap
    assert cap(2_000_000, 3) == 2_000_000
    assert cap(2_000_000, 7) == 1_000_000
    assert cap(2_000_000, 99) == 80_000
    assert cap(0, 3) == 0  # driver_max_rows=0 forces distributed


def test_tiny_cap_takes_distributed_path_and_matches(spark):
    # cap smaller than the input: the bounded probe must route to the
    # distributed trainer (not collect), and numerics still match
    w, b = logreg.logistic_train(
        _df(spark, 1), ["f0", "f1"], "y", iterations=4, driver_max_rows=2
    )
    wr, br = logreg._reference_train(ROWS, iterations=4)
    assert all(abs(a - c) < 1e-9 for a, c in zip(w, wr))
    assert abs(b - br) < 1e-9


def test_driver_path_is_one_job(spark, job_ids):
    """The path probe IS the driver-path collect: one bounded toPandas,
    not a count probe followed by a second full collect (3 jobs)."""
    import random

    rnd = random.Random(0)
    df = spark.createDataFrame(
        [(rnd.random(), rnd.random(), float(i % 2)) for i in range(200)],
        ["f0", "f1", "y"],
    )
    (w, b), ids = job_ids(
        lambda: logreg.logistic_train(df, ["f0", "f1"], "y", iterations=3)
    )
    assert len(ids) == 1, ids
    rows = [([r.f0, r.f1], r.y) for r in df.collect()]
    wr, br = logreg._reference_train(rows, iterations=3)
    assert all(abs(a - c) < 1e-9 for a, c in zip(w, wr))
    assert abs(b - br) < 1e-9


def test_empty_input_raises_value_error_on_both_paths(spark):
    import pytest

    empty = spark.createDataFrame([], "f0 double, f1 double, y double")
    for cap in (2_000_000, 0):
        with pytest.raises(ValueError, match="no rows"):
            logreg.logistic_train(
                empty, ["f0", "f1"], "y", iterations=2, driver_max_rows=cap
            )


def test_loss_decreases_and_separates(spark):
    df = _df(spark, 2)
    w0, b0 = [0.0, 0.0], 0.0
    w, b = logreg.logistic_train(df, ["f0", "f1"], "y", iterations=25)
    assert logreg.loss(df, w, b, ["f0", "f1"], "y") < logreg.loss(
        df, w0, b0, ["f0", "f1"], "y"
    )
    scored = {
        (round(r.f0, 2), round(r.f1, 2)): r.p
        for r in logreg.logistic_predict(df, w, b, ["f0", "f1"]).collect()
    }
    # positives score above every negative
    pos = [p for (f0, _), p in scored.items() if f0 < 0.5]
    neg = [p for (f0, _), p in scored.items() if f0 >= 0.5]
    assert min(pos) > max(neg)


def test_scoring_is_pure_codegen_projection(spark):
    # the SCORING half stays JVM-only: no Python UDFs, no shuffle — a
    # literal-weighted sigmoid projection (the TRAINER's per-round job is
    # deliberately an Arrow-batched mapInPandas partial so its plan never
    # embeds the weights; plan stability across rounds is what keeps the
    # 20-round loop at one codegen compile)
    from xena_gdc_etl_spark.plans import python_udf_count, shuffle_count

    df = _df(spark, 2)
    scored = logreg.logistic_predict(df, [0.5, -0.5], 0.1, ["f0", "f1"])
    assert python_udf_count(scored) == 0
    assert shuffle_count(scored) == 0


def test_registered_query_scores_every_doc(spark, sf_dir):
    from xena_gdc_etl_spark.workload import QUERIES

    out = QUERIES["quality_logreg"](spark, sf_dir)
    rows = out.collect()
    assert len(rows) > 0
    assert all(0.0 <= r.p_en <= 1.0 for r in rows)
    # the EN stopword-ratio feature must be informative: mean score of
    # English docs exceeds mean score of the rest
    en = [r.p_en for r in rows if r.is_en == 1]
    other = [r.p_en for r in rows if r.is_en == 0]
    assert en and other
    assert sum(en) / len(en) > sum(other) / len(other)


def test_train_step_is_the_trainer_round_body(spark):
    """logistic_train(iterations=1) must equal logistic_train_step run
    from the trainer's own init (zeros) — the factored step IS the round
    body, so the oracle-gated logreg_round query really gates the
    trainer's numerics."""
    w, b = logreg.logistic_train(
        _df(spark, 1), ["f0", "f1"], "y", iterations=1, lr=0.5
    )
    stepped = {
        r.coef: r.new_value
        for r in logreg.logistic_train_step(
            _df(spark, 1), ["f0", "f1"], "y", [0.0, 0.0], 0.0, lr=0.5
        ).collect()
    }
    assert abs(stepped["bias"] - round(b, 6)) < 1e-9
    assert abs(stepped["f0"] - round(w[0], 6)) < 1e-9
    assert abs(stepped["f1"] - round(w[1], 6)) < 1e-9


def test_train_step_no_python_one_aggregate(spark):
    """The step is scan-stage Column math + one partial aggregate — no
    Python eval anywhere in its plan."""
    from xena_gdc_etl_spark.plans import formatted_plan, python_udf_count

    df = logreg.logistic_train_step(
        _df(spark, 2), ["f0", "f1"], "y", [0.5, -0.5], 0.1
    )
    assert python_udf_count(df) == 0
    assert "ArrowEvalPython" not in formatted_plan(df)
