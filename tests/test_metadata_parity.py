"""Metadata sidecar ↔ reference template parity: for representative dtypes,
the generated JSON carries exactly the fields the reference's Jinja template
(resources/template.<family>.meta.json) would render with its
METADATA_VARIABLES (constants.py:71).
"""

from __future__ import annotations

from xena_gdc_etl_spark.gdc_pipelines import DTYPE_SPECS
from xena_gdc_etl_spark.metadata import (
    GDC_XENA_COHORT,
    build_metadata,
    xena_cohort,
)


def test_cohort_map_fallback():
    assert xena_cohort("TCGA-GBM") == "GDC TCGA Glioblastoma (GBM)"
    assert xena_cohort("CPTAC-3") == "GDC CPTAC-3"  # 'GDC ' + projects
    assert len(GDC_XENA_COHORT) == 33  # constants.py:6 full map


def test_every_dtype_has_family_and_vars_cover_reference():
    # registry entries (template variables + family) must match the
    # reference inventory (METADATA_VARIABLES / METADATA_TEMPLATE)
    for dtype in ("star_tpm", "methylation450", "protein", "somaticmutation_wxs"):
        assert DTYPE_SPECS[dtype].variables
        assert DTYPE_SPECS[dtype].family


def test_rna_template_fields(tmp_path):
    m = build_metadata("TCGA-BRCA", "star_tpm", str(tmp_path / "x.tsv"), "r40")
    # template.rna.meta.json rendered with {'gdc_type': 'STAR - TPM', 'unit': 'tpm'}
    assert m["label"] == "STAR - TPM"
    assert m["unit"] == "log2(tpm+1)"
    assert m[":probeMap"] == "gencode.v36.annotation.gtf.gene.probemap"
    assert m["colNormalization"] is True
    assert m["PLATFORM"] == "Illumina"
    assert m["type"] == "genomicMatrix"
    assert m["dataProducer"] == "Genomic Data Commons"
    assert m["wrangler"] == "Xena GDC ETL script"
    assert m["url"] == "r40, https://api.gdc.cancer.gov/data/"
    assert m["cohort"] == "GDC TCGA Breast Cancer (BRCA)"


def test_methylation_template_fields(tmp_path):
    m = build_metadata("TCGA-LUAD", "methylation450", str(tmp_path / "x.tsv"))
    assert m["min"] == 0.0 and m["max"] == 1.0
    assert m[":probeMap"] == "HM450.hg38.manifest.gencode.v36.probeMap"
    assert m["label"] == "Illumina Human Methylation 450"
    assert m["PLATFORM"] == "Illumina Human Methylation 450"
    assert m["unit"] == "beta value"
    assert m["url"] == "https://api.gdc.cancer.gov/data/"  # no release prefix


def test_snv_and_segment_template_fields(tmp_path):
    snv = build_metadata("TCGA-GBM", "somaticmutation_wxs", str(tmp_path / "a"))
    assert snv["start_index"] == 1
    assert snv["type"] == "mutationVector"
    assert snv["label"] == "Ensemble Somatic Variant (WXS)"
    assert "t_alt_count / t_depth" in snv["wrangling_procedure"]

    seg = build_metadata("TCGA-GBM", "masked_cnv_DNAcopy", str(tmp_path / "b"))
    assert seg["start_index"] == 1
    assert seg["type"] == "genomicSegment"
    assert seg["assembly"] == "hg38"
    assert seg["label"] == "Masked Copy Number Segment (DNAcopy)"


def test_key_set_matches_reference_templates(tmp_path):
    # The generated sidecar must carry EXACTLY the keys the reference's
    # Jinja template renders (minus the conditional 'notes' block, which
    # only appears when notes are passed).
    import os
    import re

    res = "/root/reference/xena_gdc_etl/resources"
    if not os.path.isdir(res):  # reference tree absent outside the sandbox
        import pytest

        pytest.skip("reference resources not available")
    cases = {
        "star_tpm": "rna",
        "mirna": "mirna",
        "masked_cnv_DNAcopy": "cnv",
        "gene-level_ascat3": "ascat",
        "gene-level_absolute": "absolute",
        "somaticmutation_wxs": "snv",
        "methylation450": "methylation",
        "protein": "protein",
        "clinical": "clinical",
        "survival": "survival",
    }
    # keys the Spark sidecar adds beyond the template on purpose (raw
    # template variables kept for programmatic consumers)
    provenance = {"project_id", "xena_cohort", "xena_dtype", "date", "gdc_release"}
    for dtype, family in cases.items():
        tpl = open(f"{res}/template.{family}.meta.json").read()
        # one key per line in every template; anchoring to line start keeps
        # ':'-prefixed keys (":probeMap") from confusing the match
        tpl_keys = set(
            re.findall(r'^\s*\{?\s*"([^"]+)"\s*:', tpl, re.M)
        ) - {"notes"}
        got = build_metadata("TCGA-GBM", dtype, str(tmp_path / dtype), "r40")
        assert set(got) == tpl_keys | provenance, (
            f"{dtype}: missing={tpl_keys - set(got)} "
            f"extra={set(got) - tpl_keys - provenance}"
        )


def test_clinical_and_description_parity(tmp_path):
    c = build_metadata("TCGA-GBM", "clinical", str(tmp_path / "c"))
    assert c[":clinicalFeature"] == "featureSetting.tsv"
    for dtype, anchor in (
        ("masked_cnv_DNAcopy", "CNV_Pipeline/#ascat-pipelines"),
        ("gene-level_absolute", "CNV_Pipeline/#absolute-copy-number"),
        ("somaticmutation_wxs", "#somatic-variant-calling-workflow"),
        ("methylation450", "Methylation_LO_Pipeline/"),
        ("protein", "RPPA_intro/"),
    ):
        m = build_metadata("TCGA-GBM", dtype, str(tmp_path / dtype))
        assert anchor in m["description"], dtype


def test_protein_and_survival_fields(tmp_path):
    p = build_metadata("TCGA-OV", "protein", str(tmp_path / "p"))
    assert p["PLATFORM"] == "rppa"
    assert p["unit"] == "normalized RPPA value"

    s = build_metadata("TCGA-OV", "survival", str(tmp_path / "s"))
    assert s["label"] == "survival data"
    assert s["type"] == "clinicalMatrix"
    assert s["dataSubType"] == "phenotype"
