"""GTF → Xena probeMap generation and validation.

The reference ships pre-built probeMap resource files
(xena_gdc_etl/resources/gencode.v22.annotation.gene.probeMap and the v36
twin) plus a regeneration script
(/root/reference/xena_gdc_etl/resources/gencode-v22_to_probeMap.sh): an
awk one-liner that keeps GTF ``gene`` rows and extracts ``gene_id`` /
``gene_name`` from the attribute blob into the 6-column probeMap TSV
(id, gene, chrom, chromStart, chromEnd, strand).

Spark twin: a GENCODE GTF is a ~1.5 GB splittable text file — the parse
distributes as a plain CSV-ish read (tab sep, '#' comment lines skipped
by filter) with two ``regexp_extract`` columns, all JVM-side codegen. At
cluster scale the same job handles a directory of GTFs at once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PROBEMAP_COLUMNS = ("id", "gene", "chrom", "chromStart", "chromEnd", "strand")

_GTF_COLS = [
    "seqname",
    "source",
    "feature",
    "start",
    "end",
    "score",
    "strand",
    "frame",
    "attribute",
]


def gtf_to_probemap(
    spark: SparkSession, gtf_path: str, feature: str = "gene"
) -> DataFrame:
    """Distributed twin of gencode-v22_to_probeMap.sh: GTF rows with
    ``feature == 'gene'`` → (id, gene, chrom, chromStart, chromEnd,
    strand), gene_id/gene_name pulled out of the attribute column with
    the same ``gene_id "…";`` grammar the awk match() uses."""
    raw = spark.read.options(sep="\t", comment="#", header=False).csv(gtf_path)
    if len(raw.columns) != len(_GTF_COLS):
        raise ValueError(
            f"gtf_to_probemap: expected 9 tab-separated GTF columns, got "
            f"{len(raw.columns)} in {gtf_path!r}"
        )
    gtf = raw.toDF(*_GTF_COLS)
    return (
        gtf.filter(F.col("feature") == feature)
        .select(
            F.regexp_extract("attribute", r'gene_id\s+"([^"]+)"', 1).alias(
                "id"
            ),
            F.regexp_extract(
                "attribute", r'gene_name\s+"([^"]+)"', 1
            ).alias("gene"),
            F.col("seqname").alias("chrom"),
            F.col("start").cast("long").alias("chromStart"),
            F.col("end").cast("long").alias("chromEnd"),
            F.col("strand"),
        )
        .filter(F.col("id") != "")
    )


def validate_probemap(df: DataFrame) -> dict:
    """Structural validation for a probeMap frame (ours or a loaded
    reference resource file): exact column set, non-null/non-empty ids,
    id uniqueness, start ≤ end, strand ∈ {+,-}. Returns the violation
    counts (all zeros = valid) from ONE aggregate pass + one distinct
    count — no collect of the data itself."""
    if tuple(df.columns) != PROBEMAP_COLUMNS:
        raise ValueError(
            f"probeMap columns must be {PROBEMAP_COLUMNS}, got {df.columns}"
        )
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            (F.col("id").isNull() | (F.col("id") == "")).cast("long")
        ).alias("null_ids"),
        F.sum(
            (F.col("chromStart") > F.col("chromEnd")).cast("long")
        ).alias("inverted_spans"),
        F.sum((~F.col("strand").isin("+", "-")).cast("long")).alias(
            "bad_strands"
        ),
        F.count_distinct("id").alias("distinct_ids"),
    ).collect()[0]
    return {
        "n": row["n"],
        "null_ids": row["null_ids"] or 0,
        "inverted_spans": row["inverted_spans"] or 0,
        "bad_strands": row["bad_strands"] or 0,
        "duplicate_ids": row["n"] - row["distinct_ids"],
    }


def write_probemap(df: DataFrame, path: str) -> None:
    """Write the probeMap as a headered TSV directory (the resource file
    layout, sans the single-file constraint — downstream consumers read
    it back with spark.read / pandas.read_csv on the part files)."""
    df.coalesce(1).write.options(sep="\t", header=True).mode(
        "overwrite"
    ).csv(path)


def read_probemap(spark: SparkSession, path: str) -> DataFrame:
    """Read a probeMap TSV (a reference resource file or our output)."""
    df = spark.read.options(sep="\t", header=True).csv(path)
    return df.select(
        "id",
        "gene",
        "chrom",
        F.col("chromStart").cast("long").alias("chromStart"),
        F.col("chromEnd").cast("long").alias("chromEnd"),
        "strand",
    )
