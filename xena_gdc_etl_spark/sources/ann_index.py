"""Durable ANN index artifacts: save/load IVF centroids and PQ codebooks.

The workload's session-scoped caches (shared IVF assignment, shared pair
frames) simulate what a deployment does for real: train the quantizers
ONCE, persist them, and let every consumer — batch dedup, ANN serving,
the next day's incremental run — load kilobytes of
state instead of retraining. This module is that persistence seam.

Layout under ``<path>/``:

- ``centroids.parquet``  — (centroid_id bigint, embedding array<float/double>)
- ``codebooks.parquet``  — (subspace int, code int, center array<double>),
  the flattened m×k PQ codebooks
- ``_index.json``        — format version, dims, m/k, row counts; written
  LAST so its presence marks a complete index (same sentinel discipline
  as parquet_sink's ``_manifest.json``)

Both tables are kilobyte-scale (index state, not corpus state), so the
single-file coalesce(1) writes below are deliberate — readers broadcast
them anyway.
"""

from __future__ import annotations


import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xena_gdc_etl_spark.sources.artifact import (
    begin_save as _begin_save,
    check_format as _check_format,
    endorse as _endorse,
    local_artifact_paths,
    open_manifest as _open_manifest,
)

INDEX_FORMAT_VERSION = 1
_SENTINEL = "_index.json"

# The path resolver moved to sources/artifact.py (the shared durable-
# artifact discipline, round-13 factoring); this alias keeps the
# historical import site working for the other artifact modules.
_local_index_paths = local_artifact_paths


def save_ann_index(
    centroids: DataFrame,
    path: str,
    codebooks: "list[np.ndarray] | None" = None,
    centroid_id: str = "centroid_id",
    vec_col: str = "embedding",
) -> dict:
    """Persist the trained quantizer state; returns the manifest dict.

    ``centroids`` is the (centroid_id, embedding) frame ``ivf_train``
    returns; ``codebooks`` the list of m (k, dsub) arrays ``pq_train``
    returns (optional — an IVF-only index omits the PQ half).

    Crash-consistency contract: the sentinel marks a COMPLETE index, so a
    re-save over an existing index first REMOVES the old sentinel (before
    any parquet write — otherwise a crash mid-overwrite would leave the
    stale sentinel endorsing new/partial tables) and the new manifest is
    written to a temp file and atomically renamed into place. ``path``
    must be a local filesystem path or a local ``file://`` URI: the
    sentinel uses local ``open()``/``os`` while the tables go through
    Spark writers — Spark is handed an explicit ``file://`` URI so that
    ``fs.defaultFS`` (HDFS in a cluster deployment) can never redirect
    the table half away from the sentinel half; remote schemes
    (``hdfs://``, ``s3a://``) are rejected loudly rather than splitting
    the index across filesystems.
    """
    # validate BEFORE begin_save removes the sentinel: an empty
    # codebook list would crash at manifest construction AFTER the old
    # index's sentinel was already removed, destroying a valid artifact
    # on bad input
    if codebooks is not None and len(codebooks) == 0:
        raise ValueError(
            "save_ann_index: codebooks=[] — pass None for an IVF-only "
            "index or a non-empty codebook list for IVF-PQ"
        )
    path, spark_uri = _begin_save(path, _SENTINEL, "save_ann_index")
    spark = centroids.sparkSession
    cdf = centroids.select(
        F.col(centroid_id).cast("bigint").alias("centroid_id"),
        F.col(vec_col).alias("embedding"),
    )
    cdf.coalesce(1).write.mode("overwrite").parquet(
        spark_uri + "/centroids.parquet"
    )
    # count the WRITTEN kilobyte table, not cdf: the centroid frame
    # usually comes straight off the iterative k-means trainer, and
    # cdf.count() would re-execute every Lloyd round just to count k
    # rows (the token_stats read-back rationale)
    n_centroids = spark.read.parquet(
        spark_uri + "/centroids.parquet"
    ).count()
    manifest: dict = {
        "format_version": INDEX_FORMAT_VERSION,
        "n_centroids": int(n_centroids),
        "pq": None,
    }
    if codebooks is not None:
        rows = [
            (int(sub), int(code), [float(x) for x in center])
            for sub, book in enumerate(codebooks)
            for code, center in enumerate(np.asarray(book))
        ]
        bdf = spark.createDataFrame(
            rows, "subspace int, code int, center array<double>"
        )
        bdf.coalesce(1).write.mode("overwrite").parquet(
            spark_uri + "/codebooks.parquet"
        )
        manifest["pq"] = {
            "m": len(codebooks),
            "k": int(np.asarray(codebooks[0]).shape[0]),
            "dsub": int(np.asarray(codebooks[0]).shape[1]),
        }
    return _endorse(path, _SENTINEL, manifest)


def load_ann_index(
    spark: SparkSession, path: str
) -> "tuple[DataFrame, list[np.ndarray] | None, dict]":
    """Load (centroids frame, codebooks or None, manifest). Fails loudly
    on a missing/incomplete index (no sentinel), a future format, or a
    non-local path (same local-filesystem / file:// contract as save)."""
    local, spark_uri, manifest = _open_manifest(
        path,
        _SENTINEL,
        "load_ann_index",
        absent_msg=(
            f"{path} is not a complete ANN index (missing {_SENTINEL}; "
            "a crashed save leaves no sentinel by design)"
        ),
    )
    # forward_only: this reader migrates older layouts, refuses newer
    _check_format(
        manifest, INDEX_FORMAT_VERSION, "load_ann_index", forward_only=True
    )
    centroids = spark.read.parquet(spark_uri + "/centroids.parquet")
    codebooks = None
    if manifest.get("pq"):
        m = manifest["pq"]["m"]
        rows = spark.read.parquet(
            spark_uri + "/codebooks.parquet"
        ).collect()  # bounded: m×k rows of small arrays — index state
        by_sub: dict[int, list] = {}
        for r in rows:
            by_sub.setdefault(r.subspace, []).append((r.code, r.center))
        codebooks = [
            np.array(
                [c for _, c in sorted(by_sub[sub], key=lambda t: t[0])],
                dtype=np.float64,
            )
            for sub in range(m)
        ]
    return centroids, codebooks, manifest
