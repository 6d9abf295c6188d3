"""Dtype registry — the one description of every dataset type the engine
writes, and the per-kind transforms.

The reference binds each ``xena_dtype`` to a transform recipe
(xena_gdc_etl/xena_dataset.py:927-1022 ``_RAWS2MATRIX_FUNCS``)
and a metadata template (constants.py:43 ``METADATA_TEMPLATE``, filled
from constants.py:71 ``METADATA_VARIABLES``). Here one :class:`DtypeSpec`
per dtype carries both: its template family and variables, and the
postprocess sample-column flag. Everything else is a function of the
family (``FAMILIES``): the kind (matrix, segment, maf, phenotype or
survival), whether values are log2(x+1)-transformed, the index header and
the STAR summary rows to drop. Every layer reads this registry — the
dataset pipelines pick their transform and sink by kind, ``build_metadata``
renders the family's template, ``gdc2xena`` routes by kind and postprocess
reads the sample-column flag.

The matrix recipe runs over LONG-format input (sample, feature, value) —
the scalable shape of "one column per sample file". ``raw_long`` frames
come from any source (parquet fact tables, melted TSVs); the per-dtype
semantics are identical.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xena_gdc_etl_spark.operators.matrix import merge_sample_cols
from xena_gdc_etl_spark.operators.snv import (
    rename_columns,
    trim_barcode,
    with_vaf,
)

# STAR count matrices carry four summary pseudo-genes that the reference
# drops with ``remove=True`` (xena_dataset.py:237).
STAR_SUMMARY_ROWS = (
    "N_unmapped",
    "N_multimapping",
    "N_noFeature",
    "N_ambiguous",
)

# Template family → (kind, log2(x+1) step, index header), each a function
# of the family: its template (resources/template.<family>.meta.json)
# names the table shape in ``type`` and says in its wrangling text whether
# values were log2(x+1)-transformed, and a family's files share one
# feature id.
FAMILIES = {
    "rna": ("matrix", True, "Ensembl_ID"),
    "mirna": ("matrix", True, "miRNA_ID"),
    "mirna_isoform": ("matrix", True, "isoform_coords"),
    "ascat": ("matrix", False, "Ensembl_ID"),
    "absolute": ("matrix", False, "Ensembl_ID"),
    "methylation": ("matrix", False, "Composite Element REF"),
    "protein": ("matrix", False, "peptide_target"),
    "cnv": ("segment", False, "sample"),
    "snv": ("maf", False, "sample"),
    "clinical": ("phenotype", False, "sample"),
    "survival": ("survival", False, "sample"),
}


@dataclass(frozen=True)
class DtypeSpec:
    """One registered dtype: its metadata template family and variables,
    and whether postprocess reads it with samples as column names (the
    reference's ``sample_columns`` list, postprocessing.py:78)."""

    name: str
    family: str
    variables: dict = field(default_factory=dict)
    sample_columns: bool = False

    @property
    def kind(self) -> str:
        return FAMILIES[self.family][0]

    @property
    def log2tf(self) -> bool:
        return FAMILIES[self.family][1]

    @property
    def index_name(self) -> str:
        return FAMILIES[self.family][2]

    @property
    def drop_features(self) -> tuple:
        return STAR_SUMMARY_ROWS if self.family == "rna" else ()


def _probe_map(platform: str, num: str) -> dict:
    return {"probe_map": f"{platform}.hg38.manifest.gencode.v36.probeMap", "platform_num": num}


# Columns: name, template family, template variables, sample_columns.
DTYPE_SPECS: dict[str, DtypeSpec] = {
    spec.name: spec
    for spec in [
        DtypeSpec("star_counts", "rna", {"gdc_type": "STAR - Counts"}, True),
        DtypeSpec("star_tpm", "rna", {"gdc_type": "STAR - TPM", "unit": "tpm"}, True),
        DtypeSpec("star_fpkm", "rna", {"gdc_type": "STAR - FPKM", "unit": "fpkm"}, True),
        DtypeSpec("star_fpkm-uq", "rna", {"gdc_type": "STAR - FPKM-UQ", "unit": "fpkm-uq"}, True),
        DtypeSpec("mirna", "mirna", {"gdc_type": "miRNA Expression Quantification"}, True),
        DtypeSpec(
            "mirna_isoform", "mirna_isoform", {"gdc_type": "Isoform Expression Quantification"}
        ),
        DtypeSpec("segment_cnv_ascat-ngs", "cnv", {"gdc_type": "Copy Number Segment (AscatNGS)"}),
        DtypeSpec("segment_cnv_DNAcopy", "cnv", {"gdc_type": "Copy Number Segment (DNAcopy)"}),
        DtypeSpec(
            "masked_cnv_DNAcopy", "cnv", {"gdc_type": "Masked Copy Number Segment (DNAcopy)"}
        ),
        DtypeSpec(
            "allele_cnv_ascat2", "cnv", {"gdc_type": "Allele-specific Copy Number Segment (ASCAT2)"}
        ),
        DtypeSpec(
            "allele_cnv_ascat3", "cnv", {"gdc_type": "Allele-specific Copy Number Segment (ASCAT3)"}
        ),
        DtypeSpec("somaticmutation_wxs", "snv", {"gdc_type": "Ensemble Somatic Variant (WXS)"}),
        DtypeSpec(
            "somaticmutation_targeted",
            "snv",
            {"gdc_type": "Ensemble Somatic Variant (Targeted Sequencing)"},
        ),
        DtypeSpec(
            "gene-level_ascat-ngs", "ascat", {"gdc_type": "Gene Level Copy Number (AscatNGS)"}, True
        ),
        DtypeSpec("gene-level_ascat2", "ascat", {"gdc_type": "Gene Level Copy Number (ASCAT2)"}),
        DtypeSpec("gene-level_ascat3", "ascat", {"gdc_type": "Gene Level Copy Number (ASCAT3)"}),
        DtypeSpec(
            "gene-level_absolute", "absolute", {"gdc_type": "Gene Level Copy Number (ABSOLUTE)"}
        ),
        DtypeSpec("methylation_epic", "methylation", _probe_map("EPIC", "epic"), True),
        DtypeSpec("methylation_epic_v2", "methylation", _probe_map("EPIC", "epic v2"), True),
        DtypeSpec("methylation27", "methylation", _probe_map("HM27", "27")),
        DtypeSpec("methylation450", "methylation", _probe_map("HM450", "450")),
        DtypeSpec(
            "protein",
            "protein",
            {"gdc_type": "Protein Expression Quantification", "platform": "rppa"},
        ),
        # phenotype and survival tables (reference gdc2xena.py:86-92)
        DtypeSpec("clinical", "clinical"),
        DtypeSpec("biospecimen", "clinical"),
        DtypeSpec("raw_phenotype", "clinical"),
        DtypeSpec("GDC_phenotype", "clinical"),
        DtypeSpec("survival", "survival"),
    ]
}

# Reference column renames for segment CNV matrices (xena_dataset.py:76-78).
SEGMENT_RENAMES = {"Chromosome": "Chrom", "Copy_Number": "value", "Segment_Mean": "value"}

# Reference column renames for MAF matrices (xena_dataset.py:144-155).
MAF_RENAMES = {
    "Hugo_Symbol": "gene",
    "Chromosome": "chrom",
    "Start_Position": "start",
    "End_Position": "end",
    "Reference_Allele": "ref",
    "Tumor_Seq_Allele2": "alt",
    "Tumor_Sample_Barcode": "sampleid",
    "HGVSp_Short": "Amino_Acid_Change",
    "Consequence": "effect",
}


def dtypes_of(*kinds: str) -> list[str]:
    """The registered dtypes of ``kinds``, in registry order."""
    return [name for name, spec in DTYPE_SPECS.items() if spec.kind in kinds]


def supported_dtypes() -> list[str]:
    """The omics dtypes — parity with ``GDCOmicset.get_supported_dtype()``."""
    return sorted(dtypes_of("matrix", "segment", "maf"))


def transform_matrix_dtype(
    raw_long: DataFrame,
    dtype: str,
    sample_col: str = "sample",
    feature_col: str = "feature",
    value_col: str = "value",
) -> DataFrame:
    """Run the dtype's matrix recipe over long-format raw data: drop summary
    features, average repeats, apply log2(x+1) when the dtype calls for it.

    The rows are hash-partitioned by feature before the average. That one
    exchange satisfies the average's (sample, feature) grouping and both
    aggregates of the export's pivot (by (feature, sample), then by
    feature), so a matrix write runs one shuffle instead of two.
    """
    spec = DTYPE_SPECS[dtype]
    if spec.kind != "matrix":
        raise ValueError(f"{dtype} is a {spec.kind} dtype; use its dedicated transform")
    df = raw_long
    if spec.drop_features:
        df = df.filter(~F.col(feature_col).isin(*spec.drop_features))
    return merge_sample_cols(
        df.repartition(feature_col), sample_col, feature_col, value_col, log2tf=spec.log2tf
    )


def transform_segment_dtype(segments: DataFrame, dtype: str) -> DataFrame:
    """Segment-CNV recipe: row-stacked segments with reference renames
    (merge_cnv, xena_dataset.py:43)."""
    spec = DTYPE_SPECS[dtype]
    if spec.kind != "segment":
        raise ValueError(f"{dtype} is not a segment dtype")
    return rename_columns(segments, SEGMENT_RENAMES)


def transform_maf_dtype(
    maf: DataFrame,
    dtype: str,
    alt_count_col: str = "t_alt_count",
    depth_col: str = "t_depth",
    barcode_col: str = "Tumor_Sample_Barcode",
) -> DataFrame:
    """MAF recipe: VAF, drop count columns, barcode trim, Xena renames
    (snv_maf_matrix, xena_dataset.py:81)."""
    spec = DTYPE_SPECS[dtype]
    if spec.kind != "maf":
        raise ValueError(f"{dtype} is not a maf dtype")
    out = with_vaf(maf, alt_count_col, depth_col)
    if barcode_col in out.columns:
        out = trim_barcode(out, barcode_col, 16)
    return rename_columns(out, MAF_RENAMES)
