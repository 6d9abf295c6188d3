"""Partition-aware parquet sink.

The reference ends every pipeline by writing a matrix file to a directory
tree (XenaDataset.transform → matrix TSV). The engine's sink is parquet,
laid out for the *next* reader: hive-partitioned by the columns queries
filter on (partition pruning), optionally sorted within files (row-group
min/max pruning), with a file-size cap so a 100 TB write never produces
unsplittable multi-GB files.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] = (),
    sort_within: Sequence[str] = (),
    max_records_per_file: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write parquet partitioned by ``partition_by``.

    ``sort_within`` clusters rows inside each task's files so parquet
    row-group statistics stay selective for range predicates.
    ``max_records_per_file`` bounds file size without an extra shuffle.
    """
    out = df
    if sort_within:
        out = out.sortWithinPartitions(*sort_within)
    writer = out.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", int(max_records_per_file))
    writer.parquet(path)


def write_manifest(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] = (),
    max_partitions: int = 100_000,
) -> dict:
    """Dataset manifest (the training-data "dataset card" sidecar): per
    partition-key tuple, the row count and an order-insensitive xxhash64
    content digest, plus global totals — written as ``_manifest.json``
    next to the data.

    One aggregate job over the frame (map-side partial; the digest folds
    per-row hashes with a WRAPPING SUM — ``sum(hash) mod 2^64``,
    accumulated in DECIMAL(38,0) so partials never overflow — which is
    partition- and order-independent but, unlike the bit-XOR fold it
    replaced, sensitive to even multiplicities: XOR cancels paired
    duplicates, so swapping two identical rows for two copies of a
    different row left count AND digest unchanged — a real blind spot for
    pre-dedup corpora. Residual collision model: multisets whose 64-bit
    hash SUMS coincide mod 2^64 still collide (e.g. engineered
    {h1+δ, h2−δ} swaps), i.e. this is an integrity check against
    loss/truncation/corruption, not an adversarial MAC.) Re-running the
    manifest on a re-written dataset is the cheap way to verify a 100 TB
    copy landed intact — no file listing, no byte comparison.

    More than ``max_partitions`` distinct partition-key tuples raise a
    ``ValueError``. The check is the bounded collect of the keyed
    aggregate itself, so an over-wide key is rejected after the aggregate
    job has run, not before it.
    """
    import os

    from pyspark.sql import functions as F

    from xena_gdc_etl_spark.operators.partitioning import collect_at_most

    keys = list(partition_by)
    # decimal(38,0) partial sums: |hash| ≤ 2^63 ≈ 9.2e18, so even 10^19
    # rows stay under the 38-digit cap — no overflow at any real scale
    row_hash = F.xxhash64(*[F.col(c) for c in df.columns]).cast("decimal(38,0)")
    aggs = [F.count(F.lit(1)).alias("rows"), F.sum(row_hash).alias("digest")]
    if keys:
        # the manifest is driver-sized by construction ONLY if the
        # partition key space is — fail loudly instead of OOMing the
        # driver when someone passes a high-cardinality key
        grouped = collect_at_most(df.groupBy(*keys).agg(*aggs), max_partitions)
        if grouped is None:
            raise ValueError(
                f"write_manifest: >{max_partitions} distinct partition-key "
                "tuples; a manifest this wide is not driver-sized — "
                "partition on a coarser key or raise max_partitions"
            )
    else:
        grouped = df.agg(*aggs).collect()
    parts = [
        {
            # partition-key values to JSON-safe forms: date/timestamp/
            # decimal keys (the canonical hive layouts) are not JSON
            # serializable and would TypeError after the full aggregate
            # job already ran
            **{k: _json_safe(r[k]) for k in keys},
            "rows": r["rows"],
            "digest": None if r["digest"] is None else int(r["digest"]) % (1 << 64),
        }
        for r in grouped
    ]
    parts.sort(key=lambda p: tuple(str(p[k]) for k in keys))
    manifest = {
        "columns": df.columns,
        "partition_by": keys,
        "total_rows": sum(p["rows"] for p in parts),
        "partitions": parts,
    }
    # the shared artifact discipline, not a bare open(): endorse() writes
    # to a temp file and atomically renames, so a crash mid-dump can
    # never leave a truncated _manifest.json that readers parse as a
    # (wrong) prefix; local_artifact_paths rejects remote schemes that
    # would silently split the manifest from the data
    from xena_gdc_etl_spark.sources.artifact import (
        endorse,
        local_artifact_paths,
    )

    local, _uri = local_artifact_paths(path, "write_manifest")
    os.makedirs(local, exist_ok=True)
    return endorse(local, "_manifest.json", manifest)


def _json_safe(v):
    """Partition-key value → JSON-serializable (str for date/timestamp/
    decimal; identity for str/int/float/bool/None)."""
    if v is None or isinstance(v, (str, int, float, bool)):
        return v
    return str(v)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: Sequence[str],
    num_buckets: int,
    sort_by: Sequence[str] = (),
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Write a bucketed parquet table (hash-clustered on ``bucket_by``).

    Bucketing is the pre-paid shuffle: two tables bucketed on the same key
    with the same bucket count sort-merge-join with ZERO exchanges, and
    aggregations on the bucket key skip their shuffle too. At 100 TB this
    is the difference between re-shuffling the fact table per query and
    never shuffling it again. Bucketed layout needs the session catalog
    (``saveAsTable``) — plain ``.parquet(path)`` writes lose the bucket
    metadata.
    """
    writer = (
        df.write.mode(mode)
        .format("parquet")
        .bucketBy(int(num_buckets), *bucket_by)
    )
    if sort_by:
        writer = writer.sortBy(*sort_by)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)
