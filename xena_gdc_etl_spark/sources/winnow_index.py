"""Durable held-out WINNOW FINGERPRINT artifact: the frozen side of
standing decontamination.

winnow_contamination probes training docs against the held-out suite's
fingerprint set. The held-out suite changes rarely (an eval-suite
freeze), while training docs arrive continuously — so the fingerprint
set is exactly the build-once → persist → consume shape the other
sources/ artifacts follow (ann_index, token_stats, minhash_index,
dedup_state). This module freezes the one-column (fp bigint) DISTINCT
set with the parameters that make fingerprints comparable stamped in a
written-last sentinel:

- ``k`` (token k-gram width) and ``w`` (winnowing window): fingerprints
  selected under different (k, w) are different hash spaces AND a
  different guarantee (any shared >= k+w-1 token run shares a
  fingerprint) — probing across a mix silently changes recall, so the
  loader refuses it.
- ``n_fps`` for a cheap completeness check.

The set is eval-suite-scaled (distinct winnowed hashes — ~2/(w+1) of
the suite's gram count), so it broadcasts in probes; it is still
written at input parallelism, never coalesced, because "eval suite"
can mean millions of documents in a contamination audit.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xena_gdc_etl_spark.sources.artifact import (
    begin_save,
    check_format,
    check_params,
    endorse,
    open_manifest,
)

WINNOW_FORMAT_VERSION = 1
_SENTINEL = "_winnow.json"


def save_winnow_fingerprints(
    heldout: DataFrame,
    path: str,
    k: int = 5,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict:
    """Fingerprint the held-out docs (``text.winnow_fingerprint_set`` —
    the same selector both probes use) and persist the distinct set;
    returns the manifest. Same crash-consistency contract as the other
    artifacts: stale sentinel removed first, table written, manifest
    written last via atomic rename."""
    from xena_gdc_etl_spark.operators.text import winnow_fingerprint_set

    path, spark_uri = begin_save(
        path, _SENTINEL, "save_winnow_fingerprints"
    )
    fps = winnow_fingerprint_set(
        heldout, id_col=id_col, text_col=text_col, k=k, w=w
    )
    fps.write.mode("overwrite").parquet(spark_uri + "/fingerprints.parquet")
    n_fps = (
        heldout.sparkSession.read.parquet(spark_uri + "/fingerprints.parquet")
        .count()
    )
    manifest = {
        "format_version": WINNOW_FORMAT_VERSION,
        "k": int(k),
        "w": int(w),
        "n_fps": int(n_fps),
    }
    return endorse(path, _SENTINEL, manifest)


def load_winnow_fingerprints(
    spark: SparkSession, path: str, k: int = 5, w: int = 4
) -> "tuple[DataFrame, dict]":
    """Load a fingerprint artifact, refusing a (k, w) mismatch — the
    probe's verbatim-span guarantee is parameterized by both."""
    path, spark_uri, manifest = open_manifest(
        path, _SENTINEL, "load_winnow_fingerprints"
    )
    check_format(
        manifest, WINNOW_FORMAT_VERSION, "load_winnow_fingerprints"
    )
    check_params(
        manifest,
        {"k": int(k), "w": int(w)},
        "load_winnow_fingerprints",
        "fingerprints selected under different (k, w) are a different "
        "hash space and a different span guarantee",
    )
    return spark.read.parquet(spark_uri + "/fingerprints.parquet"), manifest
