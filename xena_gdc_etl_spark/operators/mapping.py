"""Field-mapping / catalog summary operators.

Covers gdc.py's metadata-shaping helpers: two-field mapping
(/root/reference/xena_gdc_etl/gdc.py:655 ``map_two_fields``), the updated-file
impact summary (gdc.py:615 ``gdc_check_new``), project catalog info
(gdc.py:434 ``get_project_info``), list-aggregation of repeated fields
(gdc.py:156 ``format_multiple_data``), and postprocessing's rename-and-dedup
(/root/reference/xena_gdc_etl/postprocessing.py:65).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast


def field_map(
    df: DataFrame,
    input_col: str,
    output_col: str,
    as_string: bool = True,
) -> DataFrame:
    """input value → sorted distinct set of output values (gdc.py:655 builds
    ``{input: set(outputs)}``). collect_set + array_sort keeps it
    deterministic; ``as_string`` concat_ws's for stable hashing/export.
    """
    agg = F.array_sort(F.collect_set(F.col(output_col)))
    if as_string:
        agg = F.concat_ws(",", agg)
    return df.groupBy(F.col(input_col)).agg(agg.alias("mapped"))


def check_new(
    files: DataFrame,
    id_col: str,
    ids: Sequence,
    summary_cols: Sequence[str],
) -> DataFrame:
    """Summarize projects/types impacted by a list of updated file ids
    (gdc.py:615): filter by id membership, project the summary fields,
    distinct. The IN-list predicate pushes to the scan.
    """
    return (
        files.filter(F.col(id_col).isin(list(ids)))
        .select(*summary_cols)
        .distinct()
    )


def rename_by_mapping(
    df: DataFrame,
    mapping: DataFrame,
    value_col: str,
    map_from: str,
    map_to: str,
) -> DataFrame:
    """Replace values via a mapping table, keeping unmapped values as-is —
    postprocessing.py:80-98 renames sample ids to case ids using the GDC
    sample→case map. Broadcast left join + coalesce (the mapping table is a
    dim table; the big side never shuffles).
    """
    m = mapping.select(
        F.col(map_from).alias("__from"), F.col(map_to).alias("__to")
    ).distinct()
    return (
        df.join(broadcast(m), on=df[value_col] == F.col("__from"), how="left")
        .withColumn(value_col, F.coalesce(F.col("__to"), F.col(value_col)))
        .drop("__from", "__to")
    )


def dedup_rows(df: DataFrame, subset: Sequence[str] | None = None) -> DataFrame:
    """Drop duplicate rows (postprocessing.py:100-102 ``drop_duplicates``).
    Hash-based distinct — map-side partial dedup then shuffle on the hash.
    """
    return df.dropDuplicates(subset=list(subset) if subset else None)


# Projects the reference postprocesses WITHOUT a GDC fetch, by trimming a
# fixed-length suffix off every sample id (postprocessing.py:121-145).
SUFFIX_TRIM_PROJECTS = {
    "BEATAML1.0-COHORT": 1,
    "CMI-MPC": 4,
    "CMI-MBC": 4,
}


def trim_sample_suffix(
    long_df: DataFrame, n: int, sample_col: str = "sample"
) -> DataFrame:
    """Strip the last ``n`` characters from every sample id — the
    reference's special-project rename (postprocessing.py:121-145: BEATAML
    strips 1 char, CMI-MPC/CMI-MBC strip 4). Pure column expression; no
    dedup in the reference for these projects, none here."""
    return long_df.withColumn(
        sample_col,
        F.expr(
            f"substring({sample_col}, 1, length({sample_col}) - {int(n)})"
        ),
    )


def postprocess_rename_dedup(
    long_df: DataFrame,
    data_type: str,
    sample_to_case: DataFrame,
    sample_col: str = "sample",
    feature_col: str = "feature",
    value_col: str = "value",
    order_col: str | None = None,
) -> DataFrame:
    """Sample→case rename + duplicate removal on a long-form matrix — the
    reference's ``postprocess`` (postprocessing.py:65) re-expressed over
    (sample, feature, value) rows so it scales past driver memory.

    - Rename: broadcast left join against the (sample, case) map; unmapped
      ids pass through (``rename_by_mapping``) — the reference's iterative
      per-column/per-row rename loop collapses into one hash join.
    - Dedup, dtypes whose registry entry sets ``sample_columns``
      (postprocessing.py:83-88 ``columns.duplicated()`` keep-first): two
      original sample columns that renamed onto the same case keep ONE
      value per (feature, case). The
      reference keeps the first in FILE column order. Pass ``order_col`` —
      a column carrying each cell's ORIGINAL file column ordinal (e.g.
      ``read_xena_tsv(..., with_ordinal=True)``'s ``__col_idx``) — to
      reproduce that keep-first exactly; without it the deterministic
      stand-in is the lexicographically smallest ORIGINAL sample id.
    - Dedup, row form (postprocessing.py:96-101 ``drop_duplicates()``):
      full-row duplicates collapse. In long form identical (sample, feature,
      value) cells ARE the full-row duplicate — distinct() reproduces the
      reference exactly: rows that renamed onto the same case but differ in
      any value stay (both survive drop_duplicates there too).
    """
    renamed = rename_by_mapping(
        long_df.withColumn("__orig", F.col(sample_col)),
        sample_to_case,
        sample_col,
        map_from=sample_col,
        map_to="case",
    )
    from xena_gdc_etl_spark.gdc_pipelines import DTYPE_SPECS

    if getattr(DTYPE_SPECS.get(data_type), "sample_columns", False):
        from pyspark.sql import Window

        order = (
            [F.col(order_col), F.col("__orig")] if order_col else ["__orig"]
        )
        w = Window.partitionBy(feature_col, sample_col).orderBy(*order)
        return (
            renamed.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(sample_col, feature_col, value_col)
        )
    return renamed.select(sample_col, feature_col, value_col).distinct()
