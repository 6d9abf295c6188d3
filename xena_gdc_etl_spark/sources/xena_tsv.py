"""Xena-matrix TSV reader/writer — the one place that knows the format.

The reference's on-disk interchange format is a wide tab-separated matrix
with the row index in the first column (written by ``to_csv(sep='\\t')``
throughout /root/reference/xena_gdc_etl/xena_dataset.py, read back by
``pd.read_csv(sep='\\t', index_col=0)`` in utils.py:122 and main.py:28).

Every read takes its schema from the file's header line (``tsv_header``)
on the driver, so no job infers types over the data. Reading converts
wide → the engine's long format; writing pivots long → wide. The wide
shape is an EDGE format only: fine for export of bounded matrices, wrong
as an internal representation at scale.

A write's header is its sample list. When the driver already knows it —
passed in, or declared in the sample column's field metadata under
``SAMPLES_KEY`` — the write fires no job before its own; otherwise a
bounded collect finds it. With a known header the emptiness check runs
after the write, on the driver, over the one written part file.
"""

from __future__ import annotations

import csv
import glob
import gzip
import os
import shutil

from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from xena_gdc_etl_spark.operators.matrix import melt_long

# the one read/write dialect: tab-separated, a header line, "NA" for null
_DIALECT = {"sep": "\t", "header": True, "nullValue": "NA"}

# Field-metadata key under which a long frame's sample column declares
# its sample set — the export header — the way Spark ML declares a
# nominal column's values in its field metadata.
SAMPLES_KEY = "xena_samples"


def tsv_header(path: str) -> list[str]:
    """Column names of a TSV's first line, made safe the way Spark's CSV
    header inference does it: an empty name becomes ``_c<i>`` and a
    case-insensitive duplicate gets its index appended. A directory (a
    Spark output) gives the header of its first ``part-*`` file; ``.gz``
    files are read through gzip, as Spark's reader decompresses them. An
    empty file or directory gives ``[]``."""
    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "part-*")))
        if not parts:
            return []
        path = parts[0]
    opener = gzip.open if path.endswith(".gz") else open
    with opener(path, "rt", encoding="utf-8", newline="") as fh:
        row = next(csv.reader(fh, delimiter="\t"), [])
    lowered = [name.lower() for name in row]
    return [
        f"_c{i}" if not name
        else f"{name}{i}" if lowered.count(name.lower()) > 1
        else name
        for i, name in enumerate(row)
    ]


def tsv_reader(spark: SparkSession, header: list[str]) -> DataFrameReader:
    """A reader in the Xena dialect whose schema is ``header``, every
    column a string."""
    schema = StructType([StructField(name, StringType()) for name in header])
    return spark.read.schema(schema).options(**_DIALECT)


def read_wide_tsv(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """Read TSV files or Spark output directories as they are, every
    column a string, with the first non-empty header as the schema. Rows
    of later files map onto it by position, as Spark's CSV reader does."""
    paths = [paths] if isinstance(paths, str) else paths
    header = next(filter(None, map(tsv_header, paths)), [])
    return tsv_reader(spark, header).csv(paths)


def read_xena_tsv(
    spark: SparkSession,
    path: str,
    with_ordinal: bool = False,
) -> DataFrame:
    """Read a Xena TSV as the engine-native long form (sample, feature,
    value): ``feature`` is the first column's values, the samples are the
    remaining column names, and every value is a double. A cell that does
    not parse as a number fails the read (``FAILFAST``) instead of
    turning into a null. A file whose header names no sample column
    raises ``ValueError``; a header-only file gives an empty frame.

    ``with_ordinal=True`` additionally carries ``__col_idx`` — each cell's
    original FILE column position — so downstream keep-first dedup
    (``postprocess_rename_dedup(order_col='__col_idx')``) can reproduce the
    reference's ``columns.duplicated()`` file-order semantics exactly.
    The ordinal map is tiny (one row per column header, already
    driver-side) and joins in broadcast.
    """
    header = tsv_header(path)
    if len(header) < 2:
        raise ValueError(f"read_xena_tsv: {path} has no sample columns")
    value_cols = header[1:]
    schema = StructType(
        [StructField(header[0], StringType())]
        + [StructField(name, DoubleType()) for name in value_cols]
    )
    wide = (
        spark.read.schema(schema).options(**_DIALECT, mode="FAILFAST").csv(path)
    )
    # Rename the id column BEFORE melting: Xena matrices commonly head
    # their index column "sample", which would collide with the melted
    # sample-name column and make every later reference ambiguous.
    wide = wide.withColumnRenamed(header[0], "__feature_id")
    melted = melt_long(
        wide, "__feature_id", value_cols, feature_name="sample",
        value_name="value",
    )
    out = melted.withColumnRenamed("__feature_id", "feature").select(
        "sample", "feature", "value"
    )
    if with_ordinal:
        from pyspark.sql.functions import broadcast

        ordinals = spark.createDataFrame(
            [(c, i) for i, c in enumerate(value_cols)],
            "sample string, __col_idx int",
        )
        out = out.join(broadcast(ordinals), "sample", "left").select(
            "sample", "feature", "value", "__col_idx"
        )
    return out


def declared_samples(long_df: DataFrame, sample_col: str = "sample") -> list | None:
    """The sample set ``sample_col``'s field metadata declares (under
    ``SAMPLES_KEY``), or ``None`` when it declares none."""
    fields = [f for f in long_df.schema.fields if f.name == sample_col]
    return fields[0].metadata.get(SAMPLES_KEY) if fields else None


def write_xena_tsv(
    long_df: DataFrame,
    path: str,
    sample_col: str = "sample",
    feature_col: str = "feature",
    value_col: str = "value",
    max_columns: int = 50_000,
    feature_header: str | None = None,
    samples: list[str] | None = None,
) -> None:
    """Export a long matrix as a Xena-style TSV directory (features as the
    index column, one column per sample — the reference's matrix layout).
    Pivot width = number of samples; exporting is only sane for bounded
    sample sets, which is exactly the reference's use case (TCGA cohorts
    top out near 11k samples; pan-cancer ~12.6k).

    The sample list is the output HEADER, in the order given. It comes
    from the first of:

    - ``samples``, when the caller knows it (``merge_xena`` passes the
      sorted union of its inputs' headers);
    - the set ``sample_col`` declares in its field metadata
      (``declared_samples``; ``read_landed_matrix`` declares the sorted
      samples of the landed files, and transforms carry it through);
    - a bounded collect of the distinct sorted values
      (``partitioning.collect_at_most``), which costs a scan and 3 jobs.

    A known header fires no job before the write, and a sample without
    rows becomes an all-NA column. More than ``max_columns`` samples — a
    driver-OOM-by-collect otherwise — raise ``ValueError`` naming the
    knob before anything is written, as does an empty sample set. A known
    header cannot tell beforehand whether the frame has rows, so the
    driver checks the written part file afterwards: a matrix with no data
    row is removed and raises the same ``ValueError``.

    ``feature_header`` renames the output's first (index) column; the
    reference preserves the input matrix's index header (e.g.
    'Ensembl_ID') through ``set_index``/``to_csv``, so postprocessing
    passes the original name through here.
    """
    from pyspark.sql import functions as F

    from xena_gdc_etl_spark.operators.partitioning import collect_at_most

    known = samples if samples is not None else declared_samples(long_df, sample_col)
    if known is None:
        sample_rows = collect_at_most(
            long_df.select(sample_col).distinct().orderBy(sample_col), max_columns
        )
        samples = None if sample_rows is None else [r[0] for r in sample_rows]
    else:
        samples = known if len(known) <= max_columns else None
    if samples is None:
        raise ValueError(
            f"write_xena_tsv: the distinct {sample_col!r} set (the output "
            f"header) has more than {max_columns} rows — a pivot this wide "
            "is not driver-sized (and not a sane TSV); export a bounded "
            "cohort or raise max_columns"
        )
    empty = ValueError(
        f"write_xena_tsv: {path}: the long frame has no {sample_col!r} "
        "values, and a matrix without sample columns cannot be read back"
    )
    if not samples:
        raise empty
    wide = (
        long_df.groupBy(feature_col)
        .pivot(sample_col, [str(s) for s in samples])
        .agg(F.first(value_col))
    )
    if feature_header:
        wide = wide.withColumnRenamed(feature_col, feature_header)
    write_wide_tsv(wide, path)
    if known is not None and not _has_data_row(path):
        shutil.rmtree(path, ignore_errors=True)
        raise empty


def _has_data_row(path: str) -> bool:
    """Whether a written TSV directory holds a line after its header."""
    for part in glob.glob(os.path.join(path, "part-*")):
        with open(part, "rb") as fh:
            if fh.readline() and fh.readline():
                return True
    return False


def write_wide_tsv(wide_df: DataFrame, path: str) -> None:
    """Write an already-wide DataFrame as a Xena-style TSV directory,
    verbatim — no pivot, no per-cell aggregation, column order and row
    multiplicity preserved. This is the row-form postprocess sink: the
    reference's ``drop_duplicates()`` keeps BOTH rows when two samples
    rename onto the same case but differ in any value, and a pivot with
    ``F.first`` would silently collapse them (round-9 advisor finding)."""
    wide_df.coalesce(1).write.options(**_DIALECT).mode("overwrite").csv(path)
