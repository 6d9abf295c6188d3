"""scripts/lanes.py: one row schema, the rotated cell order, and the
routing assertion that a variant (or a repeated trial) returns the same
(rows, xor)."""

from __future__ import annotations

import importlib.util
import itertools
import os

import pytest

from xena_gdc_etl_spark.operators import partitioning as pt

VARIANT = "xena_gdc_etl_spark.operators.partitioning.SPREAD_BYTES_PER_CORE=1"
ROW_KEYS = {
    "query", "data", "variant", "trials", "min_s", "q1_s", "median_s",
    "q3_s", "build_s", "build_jobs", "exec_jobs", "stages", "tasks",
    "shuffle_bytes", "catalyst_ms", "rows", "xor",
}


def _lanes():
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts", "lanes.py",
    )
    spec = importlib.util.spec_from_file_location("lanes", path)
    lanes = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(lanes)
    return lanes


def test_lane_variant_matches_default_and_is_restored(spark, sf_dir, monkeypatch):
    # doc_repetition spreads its documents scan by default; at 1 byte per
    # core the same scan counts as filled and is not spread.
    lanes = _lanes()
    default = pt.SPREAD_BYTES_PER_CORE
    data = [("sf0.001", sf_dir)]
    real = lanes.consume
    seen = []

    def recording(df):
        seen.append(pt.SPREAD_BYTES_PER_CORE)
        return real(df)

    monkeypatch.setattr(lanes, "consume", recording)
    rows = lanes.run(spark, ["doc_repetition"], data, [VARIANT], trials=2)
    # round-robin with the start rotated per trial; each request warms
    # and runs under its own constant: trial 1 default then variant,
    # trial 2 variant then default
    assert seen == [default] * 2 + [1] * 4 + [default] * 2
    assert [r["variant"] for r in rows] == [None, VARIANT]
    assert all(set(r) == ROW_KEYS and r["trials"] == 2 for r in rows)
    assert all(
        r["min_s"] <= r["q1_s"] <= r["median_s"] <= r["q3_s"] for r in rows
    )
    assert rows[0]["rows"] > 0
    assert (rows[0]["rows"], rows[0]["xor"]) == (rows[1]["rows"], rows[1]["xor"])
    assert rows[0]["shuffle_bytes"] > rows[1]["shuffle_bytes"]
    assert pt.SPREAD_BYTES_PER_CORE == default

    def variant_differs(df):
        consumed, (n, x) = real(df)
        return consumed, (n, x ^ (pt.SPREAD_BYTES_PER_CORE == 1))

    monkeypatch.setattr(lanes, "consume", variant_differs)
    with pytest.raises(lanes.Mismatch, match="!= default"):
        lanes.run(spark, ["doc_repetition"], data, [VARIANT], trials=1)
    assert pt.SPREAD_BYTES_PER_CORE == default

    calls = itertools.count()

    def second_trial_differs(df):  # warm, trial 1, warm, trial 2
        consumed, (n, x) = real(df)
        return consumed, (n, x ^ (next(calls) == 3))

    monkeypatch.setattr(lanes, "consume", second_trial_differs)
    with pytest.raises(lanes.Mismatch, match="!= first trial"):
        lanes.run(spark, ["doc_repetition"], data, trials=2)


def test_lane_variant_must_name_an_attribute():
    lanes = _lanes()
    with pytest.raises(ValueError, match="no such module attribute"):
        lanes.parse_variant("partitioning.NO_SUCH_CONSTANT=1")
    assert lanes.parse_variant("similarity.SPREAD_MIN_MATMUL_BYTES=0")[1:] == (
        "SPREAD_MIN_MATMUL_BYTES", 0,
    )
