"""Matrix metadata generation — template-field parity with the reference.

The reference renders a JSON sidecar per matrix from Jinja2 templates
(xena_gdc_etl/xena_dataset.py ``metadata()``; templates in
xena_gdc_etl/resources/template.*.meta.json) with per-dtype variables
(constants.py:71 ``METADATA_VARIABLES``), a per-dtype template choice
(constants.py:43 ``METADATA_TEMPLATE``) and cohort display names
(constants.py:6 ``GDC_XENA_COHORT``). Here the dtype's template family and
variables come from the dtype registry (``gdc_pipelines.DTYPE_SPECS``),
and each family is a stdlib builder producing the identical key set
(cohort/url/dataSubType/label/type/wrangler/version/unit/...), so a
sidecar produced by this engine carries the fields a Xena loader expects.
"""

from __future__ import annotations

import json
import os
import time

from xena_gdc_etl_spark.gdc_pipelines import DTYPE_SPECS

GDC_API_DATA_URL = "https://api.gdc.cancer.gov/data/"
WRANGLER = "Xena GDC ETL script"

# Xena cohort display names (constants.py:6 GDC_XENA_COHORT) — intentional
# constants parity, not code translation.
GDC_XENA_COHORT = {
    "TCGA-BRCA": "GDC TCGA Breast Cancer (BRCA)",
    "TCGA-LUAD": "GDC TCGA Lung Adenocarcinoma (LUAD)",
    "TCGA-UCEC": "GDC TCGA Endometrioid Cancer (UCEC)",
    "TCGA-LGG": "GDC TCGA Lower Grade Glioma (LGG)",
    "TCGA-HNSC": "GDC TCGA Head and Neck Cancer (HNSC)",
    "TCGA-PRAD": "GDC TCGA Prostate Cancer (PRAD)",
    "TCGA-LUSC": "GDC TCGA Lung Squamous Cell Carcinoma (LUSC)",
    "TCGA-THCA": "GDC TCGA Thyroid Cancer (THCA)",
    "TCGA-SKCM": "GDC TCGA Melanoma (SKCM)",
    "TCGA-OV": "GDC TCGA Ovarian Cancer (OV)",
    "TCGA-STAD": "GDC TCGA Stomach Cancer (STAD)",
    "TCGA-COAD": "GDC TCGA Colon Cancer (COAD)",
    "TCGA-BLCA": "GDC TCGA Bladder Cancer (BLCA)",
    "TCGA-GBM": "GDC TCGA Glioblastoma (GBM)",
    "TCGA-LIHC": "GDC TCGA Liver Cancer (LIHC)",
    "TCGA-KIRC": "GDC TCGA Kidney Clear Cell Carcinoma (KIRC)",
    "TCGA-CESC": "GDC TCGA Cervical Cancer (CESC)",
    "TCGA-KIRP": "GDC TCGA Kidney Papillary Cell Carcinoma (KIRP)",
    "TCGA-SARC": "GDC TCGA Sarcoma (SARC)",
    "TCGA-ESCA": "GDC TCGA Esophageal Cancer (ESCA)",
    "TCGA-PAAD": "GDC TCGA Pancreatic Cancer (PAAD)",
    "TCGA-PCPG": "GDC TCGA Pheochromocytoma & Paraganglioma (PCPG)",
    "TCGA-READ": "GDC TCGA Rectal Cancer (READ)",
    "TCGA-TGCT": "GDC TCGA Testicular Cancer (TGCT)",
    "TCGA-LAML": "GDC TCGA Acute Myeloid Leukemia (LAML)",
    "TCGA-THYM": "GDC TCGA Thymoma (THYM)",
    "TCGA-ACC": "GDC TCGA Adrenocortical Cancer (ACC)",
    "TCGA-MESO": "GDC TCGA Mesothelioma (MESO)",
    "TCGA-UVM": "GDC TCGA Ocular melanomas (UVM)",
    "TCGA-KICH": "GDC TCGA Kidney Chromophobe (KICH)",
    "TCGA-UCS": "GDC TCGA Uterine Carcinosarcoma (UCS)",
    "TCGA-CHOL": "GDC TCGA Bile Duct Cancer (CHOL)",
    "TCGA-DLBC": "GDC TCGA Large B-cell Lymphoma (DLBC)",
}

_GDC_DOCS = "https://docs.gdc.cancer.gov/Data/Bioinformatics_Pipelines/"


def _render_family(family: str, v: dict) -> dict:
    """The per-family fields the reference's Jinja templates emit
    (resources/template.<family>.meta.json), rendered as plain dicts."""
    label = v.get("gdc_type", "")
    if family == "rna":
        unit = v.get("unit")
        return {
            "dataSubType": "gene expression RNAseq",
            ":probeMap": "gencode.v36.annotation.gtf.gene.probemap",
            "label": label,
            "colNormalization": True,
            "wrangling_procedure": (
                "Data from the same sample but from different vials/portions/"
                "analytes/aliquotes is averaged; all data is then log2(x+1) "
                "transformed."
            ),
            "PLATFORM": "Illumina",
            "type": "genomicMatrix",
            "unit": f"log2({unit}+1)" if unit else "log2(count+1)",
            "description": (
                "More information on the GDC pipeline used to generate this "
                f"data: {_GDC_DOCS}Expression_mRNA_Pipeline/"
            ),
        }
    if family in ("mirna", "mirna_isoform"):
        sub = (
            "stem loop expression"
            if family == "mirna"
            else "miRNA isoform expression RNAseq"
        )
        wrangle = (
            "RPM Data from the same sample but from different vials/portions/"
            "analytes/aliquotes is averaged; "
            + (
                ""
                if family == "mirna"
                else "data from different samples is combined into "
                "genomicMatrix; "
            )
            + "all data is then log2(x+1) transformed."
        )
        return {
            "dataSubType": sub,
            "label": label,
            "colNormalization": True,
            "wrangling_procedure": wrangle,
            "PLATFORM": "Illumina",
            "type": "genomicMatrix",
            "unit": "log2(RPM+1)",
            "description": (
                "More information on the GDC pipeline used to generate this "
                f"data: {_GDC_DOCS}miRNA_Pipeline/"
            ),
        }
    if family == "cnv":
        return {
            "start_index": 1,
            "dataSubType": "copy number",
            "label": label,
            "colNormalization": "normal2",
            "wrangling_procedure": (
                "Chromosome location and segment mean data are presented."
            ),
            "assembly": "hg38",
            "type": "genomicSegment",
            "unit": "copy number",
            "description": (
                "More information on the GDC pipeline used to generate this "
                f"data: {_GDC_DOCS}CNV_Pipeline/#ascat-pipelines"
            ),
        }
    if family in ("ascat", "absolute"):
        anchor = (
            "#ascat-pipelines" if family == "ascat" else "#absolute-copy-number"
        )
        return {
            "dataSubType": "copy number (gene-level)",
            ":probeMap": "gencode.v36.annotation.gtf.gene.probemap",
            "label": label,
            "colNormalization": "normal2",
            "wrangling_procedure": "Loaded data directly into Xena",
            "type": "genomicMatrix",
            "unit": "copy number",
            "description": (
                "More information on the GDC pipeline used to generate this "
                f"data: {_GDC_DOCS}CNV_Pipeline/{anchor}"
            ),
        }
    if family == "snv":
        return {
            "start_index": 1,
            "dataSubType": "somatic mutation (SNPs and small INDELs)",
            "label": label,
            "wrangling_procedure": (
                "Hugo_Symbol, Chromosome, Start_Position, End_Position, "
                "Reference_Allele, Tumor_Seq_Allele2, HGVSp_Short and "
                "Consequence data are renamed accordingly and presented; "
                "dna_vaf data is added and is calculated by "
                "t_alt_count / t_depth."
            ),
            "assembly": "hg38",
            "PLATFORM": "Illumina",
            "type": "mutationVector",
            "description": (
                "More information on the GDC pipeline used to generate this "
                f"data: {_GDC_DOCS}DNA_Seq_Variant_Calling_Pipeline/"
                "#somatic-variant-calling-workflow"
            ),
        }
    if family == "methylation":
        num = v.get("platform_num", "")
        return {
            "min": 0.0,
            "max": 1.0,
            "dataSubType": "DNA methylation",
            ":probeMap": v.get("probe_map", ""),
            "label": f"Illumina Human Methylation {num}",
            "wrangling_procedure": (
                "Beta_value from the same sample but from different vials/"
                "portions/analytes/aliquotes is averaged; beta_value from "
                "different samples is combined into genomicMatrix."
            ),
            "PLATFORM": f"Illumina Human Methylation {num}",
            "type": "genomicMatrix",
            "unit": "beta value",
            "description": (
                "More information on the GDC pipeline used to generate this "
                f"data: {_GDC_DOCS}Methylation_LO_Pipeline/"
            ),
        }
    if family == "protein":
        return {
            "dataSubType": "protein expression",
            "label": label,
            "colNormalization": True,
            "wrangling_procedure": (
                "value from different samples are combined into genomicMatrix"
            ),
            "PLATFORM": v.get("platform", ""),
            "type": "genomicMatrix",
            "unit": "normalized RPPA value",
            "description": (
                "More information on the GDC pipeline used to generate this "
                f"data: {_GDC_DOCS}RPPA_intro/"
            ),
        }
    if family == "clinical":
        return {
            "dataSubType": "phenotype",
            "label": "Phenotype",
            "type": "clinicalMatrix",
            ":clinicalFeature": "featureSetting.tsv",
        }
    if family == "survival":
        return {
            "dataSubType": "phenotype",
            "label": "survival data",
            "type": "clinicalMatrix",
        }
    return {"label": label or family, "type": "genomicMatrix"}


def xena_cohort(project_id: str | list[str]) -> str:
    """Cohort display name — ``GDC_XENA_COHORT`` lookup with the reference's
    ``'GDC ' + projects`` fallback (xena_dataset.py:570-575)."""
    projects = (
        ",".join(project_id) if isinstance(project_id, list) else project_id
    )
    return GDC_XENA_COHORT.get(projects, "GDC " + projects)


def build_metadata(
    project_id: str | list[str],
    xena_dtype: str,
    matrix_path: str,
    gdc_release: str = "",
) -> dict:
    """Full metadata sidecar for one matrix: the reference's template
    variables (project/cohort/date/release, xena_dataset.py:553-576) plus
    the fields of the dtype's template family, rendered with its registry
    variables (templates + METADATA_VARIABLES parity).
    """
    projects = (
        ",".join(project_id) if isinstance(project_id, list) else project_id
    )
    if os.path.exists(matrix_path):
        date = time.strftime(
            "%m-%d-%Y", time.gmtime(os.path.getmtime(matrix_path))
        )
    else:
        date = time.strftime("%m-%d-%Y", time.gmtime())
    spec = DTYPE_SPECS.get(xena_dtype)
    family, variables = (spec.family, spec.variables) if spec else ("", {})
    rendered = _render_family(family, variables)
    url = (f"{gdc_release}, " if gdc_release else "") + GDC_API_DATA_URL
    meta = {
        "project_id": projects,
        "xena_cohort": xena_cohort(project_id),
        "cohort": xena_cohort(project_id),
        "xena_dtype": xena_dtype,
        "date": date,
        "version": date,
        "gdc_release": gdc_release,
        "url": url,
        "dataProducer": "Genomic Data Commons",
        "wrangler": WRANGLER,
    }
    meta.update(rendered)
    return meta


def write_metadata(metadata: dict, matrix_path: str) -> str:
    """Write ``<matrix>.json`` next to the matrix (the reference's fixed
    naming rule — 'no way to change this behavior', README.rst)."""
    out = matrix_path + ".json"
    with open(out, "w", encoding="utf-8") as f:
        json.dump(metadata, f, indent=2, sort_keys=True)
    return out
