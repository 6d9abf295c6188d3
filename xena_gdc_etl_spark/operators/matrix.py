"""Long-format matrix model and matrix algebra.

The reference's "Xena matrix" is a wide sample×feature pandas frame built by
concatenating one column per sample file
(/root/reference/xena_gdc_etl/xena_dataset.py:165 ``merge_sample_cols``) and
merged across matrices by pandas.concat on axis 0/1
(/root/reference/xena_gdc_etl/utils.py:65 ``merge``). Wide frames don't scale
(100k+ columns, no pruning), so the native representation here is LONG format
``(sample_id, feature_id, value)``: partitionable, prunable, and every matrix
operation becomes a shuffle-friendly groupBy/join. ``pivot_wide``/``melt_long``
exist at the edges for Xena-TSV parity.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def merge_sample_cols(
    df: DataFrame,
    sample_col: str,
    feature_col: str,
    value_col: str,
    log2tf: bool = True,
    out_value: str = "value",
) -> DataFrame:
    """Build a long-format Xena matrix from per-observation rows.

    Parity with /root/reference/xena_gdc_etl/xena_dataset.py:165
    ``merge_sample_cols``: observations from the same (sample, feature) are
    AVERAGED (the reference averages repeat files per sample vial), then the
    matrix is transformed by log2(x + 1) when ``log2tf``.

    Scale: single hash-aggregate with map-side partial avg; no pivot, no
    collect. AQE coalesces post-shuffle partitions.
    """
    value = F.avg(F.col(value_col))
    if log2tf:
        value = F.log2(value + F.lit(1.0))
    return (
        df.groupBy(F.col(sample_col).alias("sample"), F.col(feature_col).alias("feature"))
        .agg(value.alias(out_value))
    )


def union_matrices(frames: Sequence[DataFrame]) -> DataFrame:
    """Row-wise matrix merge (pandas.concat axis=0 in the reference:
    /root/reference/xena_gdc_etl/utils.py:99-109 for segment/SNV/phenotype
    types, and /root/reference/xena_gdc_etl/xena_dataset.py:43 ``merge_cnv``).

    unionByName with allowMissingColumns mirrors pandas' outer-concat column
    alignment (missing columns become null). Pure narrow op — no shuffle.
    """
    if not frames:
        raise ValueError("union_matrices needs at least one frame")
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    return out


def join_matrices(
    frames: Sequence[DataFrame],
    on: str | Sequence[str] = "sample",
    how: str = "full",
) -> DataFrame:
    """Column-wise matrix merge (pandas.concat axis=1 on the row index in the
    reference: /root/reference/xena_gdc_etl/utils.py:92-99). Full-outer join
    on the index key keeps rows present in any input, like pandas' index
    alignment.
    """
    if not frames:
        raise ValueError("join_matrices needs at least one frame")
    keys = [on] if isinstance(on, str) else list(on)
    out = frames[0]
    for f in frames[1:]:
        out = out.join(f, on=keys, how=how)
    return out


def coalesce_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    how: str = "full",
) -> DataFrame:
    """Join two frames; for overlapping non-key columns take the LEFT value
    when non-null, else the right — the reference's clinical-over-biospecimen
    priority merge on "bcr_patient_barcode" (README.rst "For
    conflict/overlapping columns, non-empty value from the clinical data has
    the priority"; /root/reference/xena_gdc_etl/xena_dataset.py:1232
    GDCPhenoset).
    """
    keys = [on] if isinstance(on, str) else list(on)
    overlap = [
        c for c in left.columns if c in set(right.columns) and c not in keys
    ]
    lhs = left
    rhs = right
    for c in overlap:
        lhs = lhs.withColumnRenamed(c, f"__l_{c}")
        rhs = rhs.withColumnRenamed(c, f"__r_{c}")
    joined = lhs.join(rhs, on=keys, how=how)
    for c in overlap:
        # backtick-quoted references: flattened struct columns carry
        # literal dots ('project.project_id'), which an unquoted F.col
        # would parse as a struct-field access and fail to resolve
        joined = joined.withColumn(
            c,
            F.coalesce(F.col(f"`__l_{c}`"), F.col(f"`__r_{c}`")),
        ).drop(f"__l_{c}", f"__r_{c}")
    return joined


def pivot_wide(
    long_df: DataFrame,
    sample_col: str = "sample",
    feature_col: str = "feature",
    value_col: str = "value",
    features: Sequence[str] | None = None,
) -> DataFrame:
    """Long → wide (feature rows, one column per sample is the Xena layout;
    here we pivot features into columns per sample row — the export edge).
    Pass ``features`` to avoid the extra distinct-collect pivot pass.
    Only for bounded pivots (export); the engine's native form stays long.
    """
    pivot = long_df.groupBy(sample_col)
    p = pivot.pivot(feature_col, list(features)) if features else pivot.pivot(feature_col)
    return p.agg(F.first(value_col))


def melt_long(
    wide_df: DataFrame,
    id_col: str,
    value_cols: Sequence[str],
    feature_name: str = "feature",
    value_name: str = "value",
) -> DataFrame:
    """Wide → long via stack (the inverse edge: ingesting wide Xena TSVs)."""
    pairs = ", ".join(f"'{c}', `{c}`" for c in value_cols)
    expr = f"stack({len(value_cols)}, {pairs}) as ({feature_name}, {value_name})"
    return wide_df.select(F.col(id_col), F.expr(expr))


def matrix_equal(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
) -> DataFrame:
    """Order-insensitive matrix equality — the ``xge xena-eql`` CLI
    (/root/reference/xena_gdc_etl/main.py:27 sorts both axes then
    assert_frame_equal). Returns a 1-row frame with the mismatched cell/row
    counts; equal iff mismatches == 0. Distributed full-outer join compare,
    no sort needed.
    """
    value_cols = [c for c in left.columns if c not in keys]
    lhs = left.select(*keys, *[F.col(c).alias(f"__l_{c}") for c in value_cols])
    rhs = right.select(*keys, *[F.col(c).alias(f"__r_{c}") for c in value_cols])
    joined = lhs.join(rhs, on=list(keys), how="full")
    mismatch = F.lit(False)
    for c in value_cols:
        l, r = F.col(f"__l_{c}"), F.col(f"__r_{c}")
        both_null = l.isNull() & r.isNull()
        mismatch = mismatch | F.coalesce(l != r, F.lit(True)) & ~both_null
    return joined.agg(
        F.count(F.lit(1)).alias("compared_rows"),
        # coalesce: sum over zero rows is null, but "no rows compared" is
        # zero mismatches, not unknown
        F.coalesce(F.sum(F.when(mismatch, 1).otherwise(0)), F.lit(0))
        .cast("bigint")
        .alias("mismatched_rows"),
    )
