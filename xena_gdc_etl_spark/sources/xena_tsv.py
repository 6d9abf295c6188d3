"""Xena-matrix TSV reader/writer.

The reference's on-disk interchange format is a wide tab-separated matrix
with the row index in the first column (written by ``to_csv(sep='\\t')``
throughout /root/reference/xena_gdc_etl/xena_dataset.py, read back by
``pd.read_csv(sep='\\t', index_col=0)`` in utils.py:122 and main.py:28).

Reading converts wide → the engine's long format; writing pivots long →
wide. The wide shape is an EDGE format only: fine for export of bounded
matrices, wrong as an internal representation at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from xena_gdc_etl_spark.operators.matrix import melt_long


def read_xena_tsv(
    spark: SparkSession,
    path: str,
    id_col: str | None = None,
    long: bool = True,
    with_ordinal: bool = False,
) -> DataFrame:
    """Read a Xena TSV. With ``long=True`` returns the engine-native long
    form (sample, feature, value) where ``feature`` is the first column's
    values and samples are the remaining column names.

    ``with_ordinal=True`` additionally carries ``__col_idx`` — each cell's
    original FILE column position — so downstream keep-first dedup
    (``postprocess_rename_dedup(order_col='__col_idx')``) can reproduce the
    reference's ``columns.duplicated()`` file-order semantics exactly.
    The ordinal map is tiny (one row per column header, already
    driver-side) and joins in broadcast.
    """
    wide = spark.read.options(
        sep="\t", header=True, inferSchema=True, nullValue="NA"
    ).csv(path)
    if not long:
        return wide
    first = id_col or wide.columns[0]
    value_cols = [c for c in wide.columns if c != first]
    # Rename the id column BEFORE melting: Xena matrices commonly head
    # their index column "sample", which would collide with the melted
    # sample-name column and make every later reference ambiguous.
    wide = wide.withColumnRenamed(first, "__feature_id")
    melted = melt_long(
        wide, "__feature_id", value_cols, feature_name="sample",
        value_name="value",
    )
    out = melted.withColumnRenamed("__feature_id", "feature").select(
        "sample", "feature", "value"
    )
    if with_ordinal:
        from pyspark.sql import functions as F
        from pyspark.sql.functions import broadcast

        ordinals = spark.createDataFrame(
            [(c, i) for i, c in enumerate(value_cols)],
            "sample string, __col_idx int",
        )
        out = out.join(broadcast(ordinals), "sample", "left").select(
            "sample", "feature", "value", "__col_idx"
        )
    return out


def write_xena_tsv(
    long_df: DataFrame,
    path: str,
    sample_col: str = "sample",
    feature_col: str = "feature",
    value_col: str = "value",
    max_columns: int = 50_000,
    feature_header: str | None = None,
) -> None:
    """Export a long matrix as a Xena-style TSV directory (features as the
    index column, one column per sample — the reference's matrix layout).
    Pivot width = number of samples; exporting is only sane for bounded
    sample sets, which is exactly the reference's use case (TCGA cohorts
    top out near 11k samples; pan-cancer ~12.6k). The distinct sample list
    becomes the output HEADER, so it is collected driver-side by the
    bounded probe (``partitioning.collect_at_most``): an over-wide pivot
    — a driver-OOM-by-collect otherwise — fails with an actionable
    ``ValueError`` naming the ``max_columns`` knob.

    ``feature_header`` renames the output's first (index) column; the
    reference preserves the input matrix's index header (e.g.
    'Ensembl_ID') through ``set_index``/``to_csv``, so postprocessing
    passes the original name through here.
    """
    from pyspark.sql import functions as F

    from xena_gdc_etl_spark.operators.partitioning import collect_at_most

    sample_rows = collect_at_most(
        long_df.select(sample_col).distinct().orderBy(sample_col), max_columns
    )
    if sample_rows is None:
        raise ValueError(
            f"write_xena_tsv: the distinct {sample_col!r} set (the output "
            f"header) has more than {max_columns} rows — a pivot this wide "
            "is not driver-sized (and not a sane TSV); export a bounded "
            "cohort or raise max_columns"
        )
    samples = [r[0] for r in sample_rows]
    wide = (
        long_df.groupBy(feature_col)
        .pivot(sample_col, [str(s) for s in samples])
        .agg(F.first(value_col))
    )
    if feature_header:
        wide = wide.withColumnRenamed(feature_col, feature_header)
    wide.coalesce(1).write.options(sep="\t", header=True, nullValue="NA").mode(
        "overwrite"
    ).csv(path)


def write_wide_tsv(wide_df: DataFrame, path: str) -> None:
    """Write an already-wide DataFrame as a Xena-style TSV directory,
    verbatim — no pivot, no per-cell aggregation, column order and row
    multiplicity preserved. This is the row-form postprocess sink: the
    reference's ``drop_duplicates()`` keeps BOTH rows when two samples
    rename onto the same case but differ in any value, and a pivot with
    ``F.first`` would silently collapse them (round-9 advisor finding)."""
    wide_df.coalesce(1).write.options(
        sep="\t", header=True, nullValue="NA"
    ).mode("overwrite").csv(path)
