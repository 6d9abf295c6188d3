"""End-to-end dataset pipeline — the engine's ``XenaDataset`` family.

The reference orchestrates each dataset as download → transform → metadata
(xena_gdc_etl/xena_dataset.py:308 ``XenaDataset``, :728 ``GDCOmicset``,
:1232 ``GDCPhenoset``, :1417 ``GDCSurvivalset``). The Spark version keeps
the same three-step surface but swaps the I/O model: the "download" step
resolves a DataFrame from any source (parquet dir, Xena TSV) instead of
fetching per-sample files, the transform is the registered per-dtype plan
(gdc_pipelines), and the sink writes a Xena TSV plus the JSON metadata
sidecar. The dtype's kind in the registry picks both the transform and the
sink: the matrix kind pivots into a Xena matrix headed by the dtype's
index name, every other kind is a row-stacked table written verbatim.
``merge_xena`` unions per-project files of one dtype through the same
choice. Everything between source and sink is a single lazy plan —
Catalyst sees the whole pipeline.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from xena_gdc_etl_spark.filters import FilterSpec
from xena_gdc_etl_spark.gdc_pipelines import (
    DTYPE_SPECS,
    dtypes_of,
    supported_dtypes,
    transform_maf_dtype,
    transform_matrix_dtype,
    transform_segment_dtype,
)
from xena_gdc_etl_spark.metadata import build_metadata, write_metadata
from xena_gdc_etl_spark.operators.matrix import union_matrices
from xena_gdc_etl_spark.sources.parquet_source import read_parquet
from xena_gdc_etl_spark.sources.xena_tsv import (
    read_wide_tsv,
    read_xena_tsv,
    tsv_header,
    write_wide_tsv,
    write_xena_tsv,
)


def _pivots(dtype: str) -> bool:
    """Matrix-kind dtypes, and any dtype outside the registry, pivot."""
    spec = DTYPE_SPECS.get(dtype)
    return spec is None or spec.kind == "matrix"


def write_dataset(
    dtype: str, frame: DataFrame, out: str, samples: list[str] | None = None
) -> None:
    """Write ``frame`` to ``out`` with the sink of ``dtype``'s kind: the
    matrix kind pivots long (sample, feature, value) rows into a Xena
    matrix whose first column is headed by the dtype's index name (the
    reference's ``set_index``/``to_csv``), with ``samples`` as its header
    when given (see ``write_xena_tsv``); every other kind is a
    row-stacked table written verbatim. A dtype outside the registry is
    written as a matrix headed ``feature``."""
    if _pivots(dtype):
        index_name = getattr(DTYPE_SPECS.get(dtype), "index_name", None)
        write_xena_tsv(frame, out, feature_header=index_name, samples=samples)
    else:
        write_wide_tsv(frame, out)


def merge_xena(spark: SparkSession, paths: list[str], dtype: str, out: str) -> None:
    """Merge Xena files of one dtype into ``out`` (the reference's
    ``merge-xena`` and panTCGA merge). Matrix-kind files are unioned as
    long (sample, feature, value) rows, which covers both reference merge
    axes, and pivot under the sorted union of the inputs' header names,
    so the write fires no header collect; the rows are hash-partitioned
    by feature once, which serves both of the pivot's aggregates. The
    tables of every other kind are row-unioned onto the first file's
    header (the reference's axis=0 concat)."""
    if not _pivots(dtype):
        write_dataset(dtype, read_wide_tsv(spark, paths), out)
        return
    frame = union_matrices([read_xena_tsv(spark, p) for p in paths])
    samples = sorted({name for p in paths for name in tsv_header(p)[1:]})
    write_dataset(dtype, frame.repartition("feature"), out, samples=samples)


def _projects_str(projects: str | list[str]) -> str:
    return ",".join(projects) if isinstance(projects, list) else projects


def _export(ds, frame: DataFrame, name: str | None) -> str:
    """Write dataset ``ds``'s ``frame`` with its dtype's sink into the
    reference layout ``<root>/<projects>/Xena_Matrices/<name>``
    (xena_dataset.py:460), ``name`` defaulting to
    ``<projects>.<xena_dtype>.tsv``, and put its JSON metadata sidecar next
    to it; returns the matrix path."""
    projects = _projects_str(ds.projects)
    name = name or f"{projects}.{ds.xena_dtype}.tsv"
    out = os.path.join(ds.root_dir, projects, "Xena_Matrices", name)
    write_dataset(ds.xena_dtype, frame, out)
    meta = build_metadata(ds.projects, ds.xena_dtype, out, ds.gdc_release)
    write_metadata(meta, out)
    return out


@dataclass
class XenaDatasetSpark:
    """One dataset = (projects, dtype, source) with transform + export.

    Mirrors the reference's constructor surface (projects, xena_dtype,
    root_dir) and its ``filter`` hook (``GDCOmicset.gdc_filter``): the
    FilterSpec compiles into the scan as a pushdown predicate rather than
    into an API query string.
    """

    projects: str | list[str]
    xena_dtype: str
    root_dir: str = "."
    gdc_filter: FilterSpec = field(default_factory=FilterSpec)
    gdc_release: str = ""

    def __post_init__(self) -> None:
        if self.xena_dtype not in supported_dtypes():
            raise ValueError(
                f"Unsupported dtype {self.xena_dtype!r}; see supported_dtypes()"
            )

    # -- step 1: source resolution (the reference's "download") ------------
    def load(self, spark: SparkSession, source_path: str) -> DataFrame:
        """Resolve raw data (long-format parquet) and apply the dataset's
        declarative filter — pushed into the scan, the engine-side analog of
        the GDC API filtering server-side."""
        return self.gdc_filter.apply(read_parquet(spark, source_path))

    # -- step 2: per-dtype transform ---------------------------------------
    def transform(self, raw: DataFrame) -> DataFrame:
        kind = DTYPE_SPECS[self.xena_dtype].kind
        if kind == "matrix":
            return transform_matrix_dtype(raw, self.xena_dtype)
        if kind == "segment":
            return transform_segment_dtype(raw, self.xena_dtype)
        return transform_maf_dtype(raw, self.xena_dtype)

    # -- step 3: sink + metadata sidecar -----------------------------------
    def export(self, matrix: DataFrame, name: str | None = None) -> str:
        return _export(self, matrix, name)

    # -- one-call pipeline --------------------------------------------------
    def run(self, spark: SparkSession, source_path: str) -> str:
        """download → transform → export, as the reference's CLI does per
        dataset (main.py etl subcommand)."""
        return self.export(self.transform(self.load(spark, source_path)))


@dataclass
class GDCPhenosetSpark:
    """Phenotype dataset — the reference's ``GDCPhenoset``
    (xena_gdc_etl/xena_dataset.py:1232) re-expressed:
    case-level clinical merges onto sample-level biospecimen with
    clinical-over-biospecimen priority on overlapping columns
    (:1385 ``transform``), nested fields flatten into dotted columns
    (``pandas.json_normalize`` → ``flatten_structs``), and list-valued leaf
    paths drop (``get_to_drops``, utils.py:235 → ``drop_list_columns``).

    Scale: clinical is per-case (orders of magnitude smaller than
    per-sample data at cohort size) so the merge broadcasts it; everything
    else is pure projection.
    """

    projects: str | list[str]
    xena_dtype: str = "GDC_phenotype"  # clinical | biospecimen | GDC_phenotype
    root_dir: str = "."
    gdc_release: str = ""

    def __post_init__(self) -> None:
        valid = dtypes_of("phenotype")
        if self.xena_dtype not in valid:
            raise ValueError(
                f"xena_dtype must be one of {valid}, got {self.xena_dtype!r}"
            )

    def load(
        self, spark: SparkSession, clinical_path: str, biospecimen_path: str | None = None
    ) -> tuple[DataFrame, DataFrame | None]:
        clin = read_parquet(spark, clinical_path)
        bio = read_parquet(spark, biospecimen_path) if biospecimen_path else None
        return clin, bio

    def transform(
        self,
        clinical: DataFrame,
        biospecimen: DataFrame | None = None,
        sample_col: str = "sample",
        case_col: str = "case_id",
    ) -> DataFrame:
        from pyspark.sql import functions as F

        from xena_gdc_etl_spark.operators.matrix import coalesce_join
        from xena_gdc_etl_spark.operators.nested import (
            drop_list_columns,
            flatten_structs,
        )

        clin = drop_list_columns(flatten_structs(clinical, sep="."))
        if self.xena_dtype in ("clinical", "raw_phenotype") or biospecimen is None:
            return clin
        bio = drop_list_columns(flatten_structs(biospecimen, sep="."))
        if self.xena_dtype == "biospecimen":
            return bio
        # GDC_phenotype: per-sample biospecimen rows enriched with case-level
        # clinical; clinical wins on overlap (coalesce_join takes the LEFT
        # value, so clinical is the left side; right-outer keeps every
        # sample). Broadcast the small per-case side — the per-sample big
        # side never shuffles.
        key = case_col if case_col in clin.columns else sample_col
        if key == case_col and case_col in bio.columns:
            merged = coalesce_join(
                F.broadcast(clin), bio, on=case_col, how="right"
            )
        else:
            merged = coalesce_join(clin, bio, on=sample_col, how="full")
        return merged

    def export(self, matrix: DataFrame, name: str | None = None) -> str:
        return _export(self, matrix, name)

    def run(
        self,
        spark: SparkSession,
        clinical_path: str,
        biospecimen_path: str | None = None,
    ) -> str:
        clin, bio = self.load(spark, clinical_path, biospecimen_path)
        return self.export(self.transform(clin, bio))


@dataclass
class GDCSurvivalsetSpark:
    """Survival dataset — the reference's ``GDCSurvivalset``
    (xena_gdc_etl/xena_dataset.py:1417): the per-case
    survival table becomes the 4-column Xena survival matrix
    (sample, OS, OS.time, _PATIENT; :1520 ``transform``) with one row per
    sample of each case. ``survival_matrix`` broadcasts the per-case side
    onto the case→sample map, so the big side never shuffles.
    """

    projects: str | list[str]
    root_dir: str = "."
    gdc_release: str = ""
    xena_dtype: str = "survival"

    def transform(
        self,
        survival: DataFrame,
        case_samples: DataFrame,
        case_key: str = "case_id",
    ) -> DataFrame:
        from xena_gdc_etl_spark.operators.survival import survival_matrix

        return survival_matrix(survival, case_samples, case_key)

    def export(self, matrix: DataFrame, name: str | None = None) -> str:
        # Xena's header spells it "OS.time" (xena_dataset.py:1545); the
        # engine keeps OS_time internally (dots in Spark names fight column
        # resolution) and renames only at the sink.
        renamed = matrix.withColumnRenamed("OS_time", "OS.time")
        return _export(self, renamed, name)

    def run(
        self,
        spark: SparkSession,
        survival_path: str,
        case_samples_path: str,
        case_key: str = "case_id",
    ) -> str:
        surv = read_parquet(spark, survival_path)
        samples = read_parquet(spark, case_samples_path)
        return self.export(self.transform(surv, samples, case_key))
