"""Batch ETL orchestration — the reference's top-level ``gdc2xena`` driver
(xena_gdc_etl/gdc2xena.py:40) re-expressed for the Spark engine.

The reference iterates projects × dtypes, builds the matching dataset kind
(GDCOmicset / GDCPhenoset / GDCSurvivalset), runs download → transform →
metadata per dataset, records failures to a timestamped ``etl_*.err`` log
plus ``unfinished.json`` (gdc2xena.py:79-110), and continues past errors so
one bad dataset never kills a 30-project import. This module keeps that
contract; the dtype's kind in the registry (``gdc_pipelines.DTYPE_SPECS``)
picks the dataset class, and the per-dataset work is the Spark pipeline
classes, so the loop stays a thin driver — all heavy lifting is
cluster-side plans.

Source resolution is injectable: the sandbox has no GDC network access, so
``gdc2xena`` takes a ``sources`` callable mapping (project, dtype) to the
landed input paths for that dataset. The default resolver uses the
reference's on-disk layout (``<root>/<project>/Raw_Data/...``).
"""

from __future__ import annotations

import json
import logging
import os
import re
import shutil
import time
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xena_gdc_etl_spark.gdc_pipelines import DTYPE_SPECS
from xena_gdc_etl_spark.sources.xena_tsv import SAMPLES_KEY, tsv_header, tsv_reader

# The uuid of a landed file's path (``target_path`` names files
# ``<uuid>.<ext>``). The extension is OPTIONAL: a download with no
# Content-Disposition filename lands as the bare uuid, and a
# dot-requiring pattern would extract '' and the manifest join would
# silently drop every row of that file.
_UUID = re.compile(r"([^/.]+)(?:\.[^/]*)?$")


@dataclass
class DatasetResult:
    """Outcome of one (project, dtype) dataset in a batch run."""

    project: str
    dtype: str
    status: str  # "done" | "error"
    path: str | None = None
    error: str | None = None


def default_sources(root_dir: str) -> Callable[[str, str], dict]:
    """Resolver for the reference's directory layout: every dataset's
    landed inputs live under ``<root>/<project>/Raw_Data``."""

    def resolve(project: str, dtype: str) -> dict:
        raw = os.path.join(root_dir, project, "Raw_Data")
        kind = getattr(DTYPE_SPECS.get(dtype), "kind", None)
        if kind == "survival":
            return {
                "survival": os.path.join(raw, "survival.parquet"),
                "case_samples": os.path.join(raw, "case_samples.parquet"),
                "raw_dir": raw,
            }
        if kind == "phenotype":
            bio = os.path.join(raw, "biospecimen.parquet")
            return {
                "clinical": os.path.join(raw, "clinical.parquet"),
                "biospecimen": bio if os.path.exists(bio) else None,
                "raw_dir": raw,
            }
        return {
            "source": os.path.join(raw, f"{dtype}.parquet"),
            "raw_dir": raw,
        }

    return resolve


def _run_one(
    spark: SparkSession,
    project: str,
    dtype: str,
    root_dir: str,
    src: dict,
    gdc_release: str,
) -> str:
    """Build + run the dataset kind the reference's loop would pick
    (gdc2xena.py:86-92: survival / clinical / omic)."""
    from xena_gdc_etl_spark.pipeline import (
        GDCPhenosetSpark,
        GDCSurvivalsetSpark,
        XenaDatasetSpark,
    )

    # routed by the registry kind (reference gdc2xena.py:86-92)
    kind = getattr(DTYPE_SPECS.get(dtype), "kind", None)
    if kind == "survival":
        ds = GDCSurvivalsetSpark(
            projects=project, root_dir=root_dir, gdc_release=gdc_release
        )
        return ds.run(spark, src["survival"], src["case_samples"])
    if kind == "phenotype":
        ds = GDCPhenosetSpark(
            projects=project,
            xena_dtype=dtype,
            root_dir=root_dir,
            gdc_release=gdc_release,
        )
        return ds.run(spark, src["clinical"], src.get("biospecimen"))
    ds = XenaDatasetSpark(
        projects=project,
        xena_dtype=dtype,
        root_dir=root_dir,
        gdc_release=gdc_release,
    )
    return ds.run(spark, src["source"])


def gdc2xena(
    spark: SparkSession,
    root_dir: str,
    projects: list[str],
    xena_dtypes: list[str],
    sources: Callable[[str, str], dict] | None = None,
    gdc_release: str = "",
    delete_raw_data: bool = False,
) -> list[DatasetResult]:
    """Import every (project, dtype) dataset; never stop on one failure.

    Reference contract (gdc2xena.py:40-110): per-dataset errors are logged
    with traceback to ``<root>/etl_<timestamp>.err`` and accumulated into
    ``<root>/unfinished.json`` (project → [failed dtypes]); successful
    datasets land a matrix + metadata sidecar under
    ``<root>/<project>/Xena_Matrices``; ``delete_raw_data`` removes a
    dataset's raw directory after its matrix lands.
    """
    os.makedirs(root_dir, exist_ok=True)
    resolve = sources or default_sources(root_dir)
    err_path = os.path.join(
        root_dir, "etl_" + time.strftime("%Y%m%d-%H%M%S") + ".err"
    )
    logger = logging.getLogger("xena-gdc-etl-spark.gdc2xena")
    logger.setLevel(logging.WARNING)
    logger.propagate = False
    handler = logging.FileHandler(err_path, mode="w")
    handler.setFormatter(
        logging.Formatter(
            "%(asctime)-15s [%(levelname)s]: %(message)s",
            datefmt="%Y-%m-%d %H:%M:%S",
        )
    )
    logger.addHandler(handler)

    results: list[DatasetResult] = []
    unfinished: dict[str, list[str]] = {}
    try:
        for i, project in enumerate(projects, 1):
            print(f"Importing [{i}/{len(projects)}] projects: {project}")
            raw_dirs: "set[str]" = set()
            project_clean = True
            for dtype in xena_dtypes:
                try:
                    src = resolve(project, dtype)
                    out = _run_one(
                        spark, project, dtype, root_dir, src, gdc_release
                    )
                    if src.get("raw_dir"):
                        raw_dirs.add(src["raw_dir"])
                    results.append(
                        DatasetResult(project, dtype, "done", path=out)
                    )
                except Exception as exc:  # noqa: BLE001 - per-dataset isolation
                    unfinished.setdefault(project, []).append(dtype)
                    with open(
                        os.path.join(root_dir, "unfinished.json"), "w"
                    ) as f:
                        json.dump(unfinished, f)
                    msg = f"No {dtype} data for cohort {project}."
                    logger.warning(msg, exc_info=True)
                    print(msg)
                    project_clean = False
                    results.append(
                        DatasetResult(
                            project,
                            dtype,
                            "error",
                            error=f"{type(exc).__name__}: {exc}"[:500],
                        )
                    )
            # Raw data is deleted AFTER the project's whole dtype loop —
            # the raw directory is SHARED across a project's dtypes
            # (deleting after the first success starved every later
            # dtype) — and only when every dtype succeeded, so a failed
            # dataset can be retried from the landed files.
            if delete_raw_data and project_clean and raw_dirs:
                print("Deleting raw data ...")
                for rd in raw_dirs:
                    shutil.rmtree(rd, ignore_errors=True)
    finally:
        handler.close()
        logger.removeHandler(handler)
    done = sum(1 for r in results if r.status == "done")
    print(f"Imported {done}/{len(results)} datasets.")
    return results


def read_landed_matrix(
    spark: SparkSession,
    manifest: DataFrame,
    status: DataFrame,
    feature_col: str,
    value_col: str,
    uuid_col: str = "uuid",
    sample_col: str = "sample",
) -> DataFrame:
    """Parse files landed by ``download_files`` into the long
    (sample, feature, value) table the dtype transforms consume.

    The reference merges per-sample TSVs driver-side one file at a time
    (xena_dataset.py ``GDCOmicset.transform`` read-and-merge loop); here
    the landed files are one distributed CSV scan — every file is a scan
    split, so parse parallelism is the cluster, not a Python loop.

    - The scan reads the landed files' parent directories, not each file
      (``download_files`` lands into one). Spark lists one directory on
      the driver; more than 32 explicit paths would run a parallel
      listing job on every read.
    - The schema is the header of the first non-empty landed file (all
      columns strings, read in the Xena dialect, so ``NA`` is null), so
      no job infers it over the files.
    - A ``_metadata.file_name`` filter keeps exactly the status's landed
      files. Spark applies it while listing, so failed downloads' stale
      files, orphaned ``.part`` tmps and unrelated files are pruned before
      the scan, and no job runs for it. Files in subdirectories are not
      read.

    The file→sample mapping joins through the manifest (uuid → sample) on
    the uuid embedded in the landed filename (``target_path`` names files
    ``<uuid>.<ext>``); the manifest is tiny and broadcasts.

    The ``sample`` column declares the sorted samples of the landed files
    in its field metadata (``xena_tsv.SAMPLES_KEY``), read from the
    manifest, which is collected once here. Transforms carry the
    declaration through, and ``write_xena_tsv`` takes it as the export
    header, so the export fires no header collect and scans the landed
    files once. A landed file is a column: a header-only one exports as
    an all-NA column. Filtering samples out after this leaves them in
    the header.
    """
    paths = [r.path for r in status.select("path").collect() if r.path]
    if not paths:
        raise ValueError("no successfully downloaded files to parse")
    landed = {_UUID.search(p).group(1) for p in paths}
    samples = sorted(
        {
            r[1]
            for r in manifest.select(uuid_col, sample_col).collect()
            if r[0] in landed and r[1] is not None
        }
    )
    header = next(filter(None, map(tsv_header, sorted(paths))), [])
    raw = tsv_reader(spark, header).csv(
        sorted({os.path.dirname(p) for p in paths})
    )
    raw = raw.filter(
        raw.metadataColumn("_metadata")
        .getField("file_name")
        .isin([os.path.basename(p) for p in paths])
    ).withColumn(
        "__uuid",
        F.regexp_extract(F.input_file_name(), _UUID.pattern, 1),
    )
    uuid_to_sample = manifest.select(
        F.col(uuid_col).alias("__uuid"), F.col(sample_col).alias("sample")
    )
    return (
        raw.join(F.broadcast(uuid_to_sample), "__uuid")
        .select(
            F.col("sample").alias("sample", metadata={SAMPLES_KEY: samples}),
            F.col(feature_col).alias("feature"),
            F.col(value_col).cast("double").alias("value"),
        )
    )


def etl_download_transform(
    spark: SparkSession,
    manifest: DataFrame,
    download_dir: str,
    dtype: str,
    project: str,
    root_dir: str = ".",
    feature_col: str = "feature",
    value_col: str = "value",
    md5_col: str | None = None,
    fetcher=None,
    gdc_release: str = "",
) -> tuple[str, DataFrame]:
    """The reference ``etl`` flow end-to-end (main.py:19 → gdc2xena:
    download THEN transform) for one matrix dataset: fan the manifest out
    to executors, parse the landed per-sample files, run the dtype's
    matrix recipe, and export TSV + metadata. Returns (matrix_path,
    download_status) — the status table is the job's download audit.
    """
    from xena_gdc_etl_spark.pipeline import XenaDatasetSpark
    from xena_gdc_etl_spark.sources.download import download_files

    ds = XenaDatasetSpark(
        projects=project,
        xena_dtype=dtype,
        root_dir=root_dir,
        gdc_release=gdc_release,
    )
    # already an eager local checkpoint: the failure check and the path
    # list read it without re-running the downloads
    status = download_files(
        manifest, download_dir, md5_col=md5_col, fetcher=fetcher
    )
    failed = status.filter(F.col("error").isNotNull()).count()
    if failed:
        print(f"{failed} download(s) failed; continuing with the rest.")
    long_raw = read_landed_matrix(
        spark, manifest, status, feature_col, value_col
    )
    out = ds.export(ds.transform(long_raw))
    return out, status
