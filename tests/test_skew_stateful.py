"""Salted-join equivalence: the salted join returns the plain join's rows."""

from __future__ import annotations

from xena_gdc_etl_spark.operators.skew import salted_join


def test_salted_join_equals_plain_join(spark):
    # one pathologically hot key (90% of rows) + a long tail
    big = spark.createDataFrame(
        [(0 if i % 10 else i % 7, i) for i in range(5000)], ["k", "v"]
    )
    small = spark.createDataFrame([(i, f"dim{i}") for i in range(7)], ["k", "name"])
    plain = {tuple(r) for r in big.join(small, "k").collect()}
    salted = {tuple(r) for r in salted_join(big, small, ["k"], n_salts=8).collect()}
    assert salted == plain


def test_salted_join_left_keeps_unmatched(spark):
    big = spark.createDataFrame([(1, "a"), (99, "b")], ["k", "v"])
    small = spark.createDataFrame([(1, "dim")], ["k", "name"])
    rows = {(r.k, r.v, r.name) for r in salted_join(big, small, ["k"], how="left").collect()}
    assert rows == {(1, "a", "dim"), (99, "b", None)}
