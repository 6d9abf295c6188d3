"""``sources.parquet_source.read_parquet``: the schema ``spark.read.parquet``
infers, read from one footer on the driver, with no Spark job."""

from __future__ import annotations

import datetime as dt
import decimal

import pytest
from pyspark.errors import AnalysisException

from xena_gdc_etl_spark.sources.parquet_source import footer_schema, read_parquet


def _same_as_spark(spark, path, job_ids):
    df, ids = job_ids(lambda: read_parquet(spark, path))
    assert ids == []
    assert df.schema == spark.read.parquet(path).schema
    assert footer_schema(spark, path) == df.schema
    return df


def test_read_parquet_gdc_fixtures(spark, tmp_path, job_ids):
    """The GDC-side parquet inputs (manifest, clinical with a struct
    column, biospecimen, survival, case→sample) read job-free with
    Spark's schema, and the rows are the same."""
    from perfbench.fixtures import write_gdc_raw

    plan = write_gdc_raw(str(tmp_path), 3, 1, 3, 5)
    pdir = tmp_path / plan["projects"][0]
    names = ["manifest", "clinical", "biospecimen", "survival", "case_samples"]
    for name in names:
        path = str(pdir / f"{name}.parquet")
        df = _same_as_spark(spark, path, job_ids)
        assert sorted(df.collect()) == sorted(spark.read.parquet(path).collect())


def test_read_parquet_multi_file_nested_types(spark, tmp_path, job_ids):
    """A Spark-written directory of several part files with struct, array,
    map, decimal and timestamp columns (non-nullable ones included)."""
    path = str(tmp_path / "nested.parquet")
    spark.createDataFrame(
        [
            (i, (i, f"n{i}"), [i, i + 1], {f"k{i}": float(i)},
             decimal.Decimal(f"{i}.25"), dt.datetime(2024, 1, i + 1, 3, 4, 5))
            for i in range(6)
        ],
        "id int not null, s struct<a: int, b: string>, arr array<int>, "
        "m map<string, double>, d decimal(12, 2), ts timestamp",
    ).repartition(3).write.mode("overwrite").parquet(path)
    df = _same_as_spark(spark, path, job_ids)
    assert sorted(df.collect()) == sorted(spark.read.parquet(path).collect())


def test_read_parquet_falls_through_off_the_simple_layout(spark, tmp_path):
    """A partitioned directory keeps Spark's inferred partition columns,
    and a directory with no data file raises Spark's own error."""
    part = str(tmp_path / "part.parquet")
    spark.createDataFrame([(1, "x"), (2, "y")], "v int, p string").write.partitionBy(
        "p"
    ).parquet(part)
    assert footer_schema(spark, part) is None
    assert read_parquet(spark, part).schema == spark.read.parquet(part).schema

    empty = tmp_path / "empty.parquet"
    empty.mkdir()
    (empty / "_SUCCESS").write_text("")
    assert footer_schema(spark, str(empty)) is None
    with pytest.raises(AnalysisException) as ours:
        read_parquet(spark, str(empty))
    with pytest.raises(AnalysisException) as spark_own:
        spark.read.parquet(str(empty))
    assert ours.value.getCondition() == spark_own.value.getCondition()
