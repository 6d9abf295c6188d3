"""CLI + dtype-pipeline + metadata tests. The CLI is driven as a real
subprocess (its actual surface), matching how the reference's tests drive
``xge`` (tests/test_main.py)."""

from __future__ import annotations

import glob
import json
import math
import os
import subprocess
import sys
import tempfile

import pytest
from pyspark.sql import functions as F

from xena_gdc_etl_spark.gdc_pipelines import (
    DTYPE_SPECS,
    supported_dtypes,
    transform_maf_dtype,
    transform_matrix_dtype,
    transform_segment_dtype,
)
from xena_gdc_etl_spark.metadata import build_metadata, write_metadata
from xena_gdc_etl_spark.sources.xena_tsv import read_xena_tsv, write_xena_tsv

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_cli_subprocess(
    *args: str, timeout: int = 240
) -> subprocess.CompletedProcess:
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    return subprocess.run(
        [sys.executable, "-m", "xena_gdc_etl_spark.cli", *args],
        capture_output=True,
        text=True,
        cwd=REPO,
        env=env,
        timeout=timeout,
    )


def run_cli(*args: str, timeout: int = 240) -> subprocess.CompletedProcess:
    """In-process CLI drive (see conftest.run_cli_inprocess); the real
    ``python -m`` subprocess surface stays covered by the two
    run_cli_subprocess smokes below."""
    from conftest import run_cli_inprocess

    return run_cli_inprocess(*args)


def test_supported_dtypes_cover_reference_inventory():
    # every current dtype family from the reference README/etl table
    for d in [
        "star_counts", "star_tpm", "star_fpkm", "star_fpkm-uq", "mirna",
        "mirna_isoform", "segment_cnv_ascat-ngs", "masked_cnv_DNAcopy",
        "gene-level_ascat2", "somaticmutation_wxs", "methylation27",
        "methylation450", "methylation_epic", "protein",
    ]:
        assert d in DTYPE_SPECS, d


def test_star_counts_drops_summary_rows_and_log2s(spark):
    raw = spark.createDataFrame(
        [("s1", "ENSG1", 3.0), ("s1", "N_unmapped", 99.0)],
        ["sample", "feature", "value"],
    )
    out = transform_matrix_dtype(raw, "star_counts").collect()
    assert len(out) == 1
    assert out[0].feature == "ENSG1"
    assert out[0].value == pytest.approx(2.0)  # log2(3+1)


def test_methylation_is_not_log2_transformed(spark):
    raw = spark.createDataFrame(
        [("s1", "cg0001", 0.5)], ["sample", "feature", "value"]
    )
    out = transform_matrix_dtype(raw, "methylation450").collect()
    assert out[0].value == pytest.approx(0.5)


def test_segment_dtype_renames(spark):
    seg = spark.createDataFrame(
        [("s1", "chr1", 100, 200, 2.0)],
        ["sample", "Chromosome", "Start", "End", "Copy_Number"],
    )
    out = transform_segment_dtype(seg, "segment_cnv_ascat-ngs")
    assert set(out.columns) == {"sample", "Chrom", "Start", "End", "value"}


def test_maf_dtype_vaf_and_renames(spark):
    maf = spark.createDataFrame(
        [("GENE1", "TCGA-AB-1234-01A-11D-5678", 10.0, 40.0)],
        ["Hugo_Symbol", "Tumor_Sample_Barcode", "t_alt_count", "t_depth"],
    )
    out = transform_maf_dtype(maf, "somaticmutation_wxs").collect()[0]
    assert out.dna_vaf == pytest.approx(0.25)
    assert out.sampleid == "TCGA-AB-1234-01A"  # trimmed to 16 chars
    assert out.gene == "GENE1"


def test_xena_tsv_roundtrip(spark, tmp_path):
    long_df = spark.createDataFrame(
        [("s1", "g1", 1.5), ("s2", "g1", 2.5), ("s1", "g2", 3.5)],
        ["sample", "feature", "value"],
    )
    out = str(tmp_path / "matrix.tsv")
    write_xena_tsv(long_df, out)
    back = read_xena_tsv(spark, out)
    got = {(r.sample, r.feature): r.value for r in back.collect() if r.value is not None}
    assert got == {("s1", "g1"): 1.5, ("s2", "g1"): 2.5, ("s1", "g2"): 3.5}


def test_read_xena_tsv_fires_no_jobs(spark, tmp_path, job_ids):
    """The schema comes from the header line on the driver: building the
    long frame, ordinals included, runs no Spark job (inferSchema ran
    two per file)."""
    long_df = spark.createDataFrame(
        [("s1", "g1", 1.5), ("s2", "g1", 2.5)], ["sample", "feature", "value"]
    )
    out = str(tmp_path / "matrix.tsv")
    write_xena_tsv(long_df, out)
    back, ids = job_ids(lambda: read_xena_tsv(spark, out, with_ordinal=True))
    assert ids == []
    assert sorted(back.collect()) == [("s1", "g1", 1.5, 0), ("s2", "g1", 2.5, 1)]


def test_read_xena_tsv_header_only_and_no_samples(spark, tmp_path):
    """A header-only matrix reads as an empty long frame with the usual
    schema; a header with no sample column is rejected by name."""
    only_header = tmp_path / "h.tsv"
    _write_tsv(only_header, ["feature", "S1", "S2"], [])
    back = read_xena_tsv(spark, str(only_header))
    assert back.collect() == []
    assert back.dtypes == [
        ("sample", "string"), ("feature", "string"), ("value", "double")
    ]
    no_samples = tmp_path / "n.tsv"
    _write_tsv(no_samples, ["feature"], [["g1"]])
    with pytest.raises(ValueError, match="no sample columns"):
        read_xena_tsv(spark, str(no_samples))


def test_write_xena_tsv_refuses_empty_matrix(spark, tmp_path):
    """A long frame with no rows has no sample columns to write, and an
    index-only matrix cannot be read back: the writer raises, naming the
    path, and leaves nothing behind."""
    out = str(tmp_path / "empty.tsv")
    empty = spark.createDataFrame([], "sample string, feature string, value double")
    with pytest.raises(ValueError, match="empty.tsv"):
        write_xena_tsv(empty, out)
    assert not os.path.exists(out)


def test_metadata_build_and_write(tmp_path):
    matrix = str(tmp_path / "m.tsv")
    open(matrix, "w").write("x\n")
    meta = build_metadata("TCGA-BRCA", "star_counts", matrix, "release-40")
    path = write_metadata(meta, matrix)
    loaded = json.load(open(path))
    assert loaded["project_id"] == "TCGA-BRCA"
    # GDC_XENA_COHORT display-name parity (constants.py:6)
    assert loaded["xena_cohort"] == "GDC TCGA Breast Cancer (BRCA)"
    # rendered template fields (template.rna.meta.json parity)
    assert loaded["label"] == "STAR - Counts"
    assert loaded["unit"] == "log2(count+1)"
    assert loaded["type"] == "genomicMatrix"
    assert loaded["url"].startswith("release-40, https://api.gdc.cancer.gov")
    assert loaded["gdc_release"] == "release-40"
    assert path == matrix + ".json"


def test_cli_dtypes_lists_registry():
    # real-subprocess smoke: the `python -m` entrypoint + argparse surface
    proc = run_cli_subprocess("dtypes")
    assert proc.returncode == 0
    listed = proc.stdout.split()
    assert listed == supported_dtypes()


def test_cli_metadata_writes_json(tmp_path):
    matrix = str(tmp_path / "m.tsv")
    open(matrix, "w").write("x\n")
    proc = run_cli("metadata", "-p", "TCGA-LUAD", "-t", "survival", "-m", matrix)
    assert proc.returncode == 0, proc.stderr
    meta = json.load(open(matrix + ".json"))
    assert meta["project_id"] == "TCGA-LUAD"


@pytest.mark.slow
def test_cli_xena_eql_and_merge(spark, tmp_path):
    long_df = spark.createDataFrame(
        [("s1", "g1", 1.0), ("s2", "g1", 2.0)], ["sample", "feature", "value"]
    )
    m1 = str(tmp_path / "m1.tsv")
    m2 = str(tmp_path / "m2.tsv")
    write_xena_tsv(long_df, m1)
    write_xena_tsv(long_df, m2)

    # real-subprocess smoke for the Spark-session CLI path (one JVM boot)
    eql = run_cli_subprocess("xena-eql", m1, m2)
    assert eql.returncode == 0, eql.stderr
    assert "Equal." in eql.stdout

    outdir = str(tmp_path / "merged")
    os.makedirs(outdir, exist_ok=True)
    merged = run_cli(
        "merge-xena", "-f", m1, m2, "-t", "survival", "-o", outdir, "-n", "out.tsv"
    )
    assert merged.returncode == 0, merged.stderr
    assert glob.glob(os.path.join(outdir, "out.tsv", "*.csv"))


def test_cli_xena_eql_and_merge_mixed_column_types(spark, tmp_path):
    """One all-integer sample column, one decimal and one all-NA column:
    every value column reads as double from the header, so xena-eql and
    merge-xena no longer crash on per-column inferred types
    (STACK_COLUMN_DIFF_TYPES)."""
    mixed = tmp_path / "mixed.tsv"
    _write_tsv(
        mixed,
        ["feature", "S1", "S2", "S3"],
        [["g1", 1, 1.5, "NA"], ["g2", 2, 2.5, "NA"]],
    )
    cells = {
        ("S1", "g1"): 1.0, ("S1", "g2"): 2.0, ("S2", "g1"): 1.5,
        ("S2", "g2"): 2.5, ("S3", "g1"): None, ("S3", "g2"): None,
    }
    same = str(tmp_path / "same.tsv")
    write_xena_tsv(
        spark.createDataFrame(
            [(s, f, v) for (s, f), v in cells.items()],
            "sample string, feature string, value double",
        ),
        same,
    )
    eql = run_cli("xena-eql", str(mixed), same)
    assert eql.returncode == 0, eql.stderr
    assert "Equal." in eql.stdout

    other = tmp_path / "other.tsv"
    _write_tsv(other, ["feature", "S4"], [["g1", 7], ["g2", 8]])
    outdir = str(tmp_path / "merged")
    merged = run_cli(
        "merge-xena", "-f", str(mixed), str(other), "-t", "star_counts",
        "-o", outdir, "-n", "out.tsv",
    )
    assert merged.returncode == 0, merged.stderr
    back = read_xena_tsv(spark, os.path.join(outdir, "out.tsv"))
    got = {(r.sample, r.feature): r.value for r in back.collect()}
    assert got == {**cells, ("S4", "g1"): 7.0, ("S4", "g2"): 8.0}


def test_cli_xena_eql_fails_on_non_numeric_cell(spark, tmp_path, capsys):
    """A value cell that is not a number fails the read loudly instead of
    becoming a null that could compare equal."""
    from xena_gdc_etl_spark import cli

    bad = tmp_path / "bad.tsv"
    _write_tsv(bad, ["feature", "S1"], [["g1", 1.0], ["g2", "oops"]])
    good = tmp_path / "good.tsv"
    _write_tsv(good, ["feature", "S1"], [["g1", 1.0], ["g2", "NA"]])
    with pytest.raises(Exception, match="MALFORMED_RECORD"):
        cli.main(["xena-eql", str(bad), str(good)])
    assert "Equal." not in capsys.readouterr().out


def test_xena_dataset_spark_end_to_end(spark, tmp_path):
    from xena_gdc_etl_spark.pipeline import XenaDatasetSpark
    from xena_gdc_etl_spark.filters import FilterSpec

    # long-format raw source
    raw = spark.createDataFrame(
        [("s1", "g1", 1.0), ("s1", "g1", 3.0), ("s2", "g1", 7.0),
         ("s2", "N_unmapped", 5.0), ("s1", "g2", 0.0)],
        ["sample", "feature", "value"],
    )
    src = str(tmp_path / "raw.parquet")
    raw.write.parquet(src)

    ds = XenaDatasetSpark(
        projects="TCGA-TEST", xena_dtype="star_counts", root_dir=str(tmp_path),
        gdc_filter=FilterSpec(exclude={"sample": "s999"}),
    )
    out = ds.run(spark, src)
    assert out.endswith("TCGA-TEST/Xena_Matrices/TCGA-TEST.star_counts.tsv")
    assert os.path.isdir(out)          # matrix written
    assert os.path.exists(out + ".json")  # metadata sidecar next to it

    back = read_xena_tsv(spark, out)
    vals = {(r.sample, r.feature): r.value for r in back.collect()}
    # duplicates averaged then log2(x+1): (1+3)/2=2 -> log2(3)
    assert abs(vals[("s1", "g1")] - math.log2(3.0)) < 1e-6
    # summary pseudo-genes dropped
    assert ("s2", "N_unmapped") not in vals

    meta = json.load(open(out + ".json"))
    assert meta["project_id"] == "TCGA-TEST"
    assert meta["xena_dtype"] == "star_counts"


def test_xena_dataset_spark_rejects_unknown_dtype(tmp_path):
    from xena_gdc_etl_spark.pipeline import XenaDatasetSpark

    with pytest.raises(ValueError):
        XenaDatasetSpark(projects="P", xena_dtype="nope", root_dir=str(tmp_path))


def test_write_xena_tsv_rejects_overwide_pivot(spark, tmp_path):
    """The distinct-sample collect is bounded: an over-wide pivot fails
    with an actionable error instead of OOMing the driver."""
    import pytest

    long_df = (
        spark.range(20)
        .selectExpr(
            "concat('S', id) AS sample",
            "'f1' AS feature",
            "CAST(id AS DOUBLE) AS value",
        )
    )
    with pytest.raises(ValueError, match="max_columns"):
        write_xena_tsv(long_df, str(tmp_path / "m"), max_columns=10)
    # at the limit it still writes
    write_xena_tsv(long_df, str(tmp_path / "m2"), max_columns=20)


def _write_tsv(path, header, rows):
    with open(path, "w") as fh:
        fh.write("\t".join(header) + "\n")
        for r in rows:
            fh.write("\t".join(str(v) for v in r) + "\n")


def test_cli_postprocess_sample_column_dtype(tmp_path):
    """End-to-end offline `xge-spark postprocess` on a sample-COLUMN dtype
    (reference postprocessing.py:78-88): sample columns rename to cases via
    the injected map; two columns landing on the same case keep the FIRST
    in FILE column order (columns.duplicated() semantics — the file order
    here is deliberately NOT lexicographic to pin that), and the original
    index header ('Ensembl_ID') survives to the output."""
    mdir = tmp_path / "proj" / "Matrices"
    mdir.mkdir(parents=True)
    f = mdir / "m.tsv"
    _write_tsv(
        f,
        ["Ensembl_ID", "S2", "S1", "S3"],
        [["g1", 1.0, 2.0, 3.0], ["g2", 4.0, 5.0, 6.0]],
    )
    cases = tmp_path / "cases.tsv"
    _write_tsv(cases, ["sample", "case"], [["S1", "C1"], ["S2", "C1"], ["S3", "C2"]])
    res = run_cli(
        "postprocess", "-p", "CPTAC-3", "-t", "star_counts",
        "-f", str(f), "--gdc-cases", str(cases),
    )
    assert res.returncode == 0, res.stderr[-2000:]
    out = tmp_path / "proj" / "Postprocessed_Matrices" / "m.tsv"
    assert out.exists()
    import csv

    part = glob.glob(str(out / "part-*.csv"))[0]
    rows = list(csv.reader(open(part), delimiter="\t"))
    header, body = rows[0], {r[0]: r[1:] for r in rows[1:]}
    assert header == ["Ensembl_ID", "C1", "C2"]
    # C1 keeps S2's values (first in FILE order, though S1 < S2
    # lexicographically), C2 keeps S3's
    assert body["g1"] == ["1.0", "3.0"] and body["g2"] == ["4.0", "6.0"]


def test_cli_postprocess_row_form_dtype(tmp_path):
    """Row form (reference postprocessing.py:96-101): the 'sample' column
    values rename to cases; full-duplicate rows collapse, conflicting rows
    for the same case both survive (drop_duplicates semantics)."""
    mdir = tmp_path / "proj" / "Matrices"
    mdir.mkdir(parents=True)
    f = mdir / "ph.tsv"
    _write_tsv(
        f,
        ["sample", "age", "stage"],
        [["S1", 40, "ii"], ["S2", 40, "ii"], ["S3", 55, "iv"]],
    )
    cases = tmp_path / "cases.tsv"
    _write_tsv(cases, ["sample", "case"], [["S1", "C1"], ["S2", "C1"], ["S3", "C2"]])
    res = run_cli(
        "postprocess", "-p", "CPTAC-3", "-t", "GDC_phenotype",
        "-f", str(f), "--gdc-cases", str(cases),
    )
    assert res.returncode == 0, res.stderr[-2000:]
    out = tmp_path / "proj" / "Postprocessed_Matrices" / "ph.tsv"
    import csv

    part = glob.glob(str(out / "part-*.csv"))[0]
    rows = list(csv.reader(open(part), delimiter="\t"))
    header = rows[0]
    assert header == ["sample", "age", "stage"]
    body = sorted(rows[1:])
    # S1+S2 were identical rows -> one C1 row; S3 -> C2
    assert body == [["C1", "40", "ii"], ["C2", "55", "iv"]]


def test_cli_postprocess_row_form_conflicting_duplicates(tmp_path):
    """Row form, CONFLICTING duplicates (round-9 advisor medium): two
    samples rename onto the same case but differ in a value — the
    reference's drop_duplicates() keeps BOTH rows, and the wide-native
    write must not pivot-collapse them into one row of mixed values."""
    mdir = tmp_path / "proj" / "Matrices"
    mdir.mkdir(parents=True)
    f = mdir / "ph.tsv"
    _write_tsv(
        f,
        ["sample", "age", "stage"],
        [["S1", 40, "ii"], ["S2", 40, "iii"], ["S3", 55, "iv"]],
    )
    cases = tmp_path / "cases.tsv"
    _write_tsv(cases, ["sample", "case"], [["S1", "C1"], ["S2", "C1"], ["S3", "C2"]])
    res = run_cli(
        "postprocess", "-p", "CPTAC-3", "-t", "GDC_phenotype",
        "-f", str(f), "--gdc-cases", str(cases),
    )
    assert res.returncode == 0, res.stderr[-2000:]
    out = tmp_path / "proj" / "Postprocessed_Matrices" / "ph.tsv"
    import csv

    part = glob.glob(str(out / "part-*.csv"))[0]
    rows = list(csv.reader(open(part), delimiter="\t"))
    assert rows[0] == ["sample", "age", "stage"]
    body = sorted(rows[1:])
    # C1 appears TWICE — once per conflicting source row — like the
    # reference; C2 once
    assert body == [
        ["C1", "40", "ii"],
        ["C1", "40", "iii"],
        ["C2", "55", "iv"],
    ]


def test_cli_postprocess_suffix_trim_project(tmp_path):
    """Special projects (postprocessing.py:121-145) rename by suffix trim
    with NO GDC fetch and NO dedup: BEATAML strips 1 char."""
    mdir = tmp_path / "proj" / "Matrices"
    mdir.mkdir(parents=True)
    f = mdir / "m.tsv"
    _write_tsv(
        f,
        ["Ensembl_ID", "AML-01R", "AML-02R"],
        [["g1", 1.5, 2.5]],
    )
    res = run_cli(
        "postprocess", "-p", "BEATAML1.0-COHORT", "-t", "star_counts",
        "-f", str(f),
    )
    assert res.returncode == 0, res.stderr[-2000:]
    out = tmp_path / "proj" / "Postprocessed_Matrices" / "m.tsv"
    import csv

    part = glob.glob(str(out / "part-*.csv"))[0]
    rows = list(csv.reader(open(part), delimiter="\t"))
    assert rows[0] == ["Ensembl_ID", "AML-01", "AML-02"]
    assert rows[1] == ["g1", "1.5", "2.5"]


def test_gtf_to_probemap_roundtrip(spark, tmp_path):
    """Spark twin of the reference's probeMap regeneration script
    (resources/gencode-v22_to_probeMap.sh): gene rows only, gene_id /
    gene_name out of the attribute blob, 6-column probeMap; validation
    catches the defect classes; TSV roundtrips."""
    from xena_gdc_etl_spark.sources.probemap import (
        gtf_to_probemap,
        read_probemap,
        validate_probemap,
        write_probemap,
    )

    gtf = tmp_path / "toy.gtf"
    gtf.write_text(
        "##description: toy\n"
        'chr1\tHAVANA\tgene\t11869\t14409\t.\t+\t.\tgene_id "ENSG01.5"; '
        'gene_type "lincRNA"; gene_name "DDX11L1";\n'
        'chr1\tHAVANA\ttranscript\t11869\t14409\t.\t+\t.\tgene_id "ENSG01.5"; '
        'gene_name "DDX11L1";\n'
        'chr2\tHAVANA\tgene\t100\t50\t.\t-\t.\tgene_id "ENSG02.1"; '
        'gene_name "WASH7P";\n'
    )
    pm = gtf_to_probemap(spark, str(gtf))
    rows = {r.id: r for r in pm.collect()}
    # transcript row dropped; both gene rows kept
    assert set(rows) == {"ENSG01.5", "ENSG02.1"}
    assert rows["ENSG01.5"].gene == "DDX11L1"
    assert rows["ENSG01.5"].chrom == "chr1"
    assert rows["ENSG01.5"].chromStart == 11869
    assert rows["ENSG01.5"].chromEnd == 14409
    assert rows["ENSG01.5"].strand == "+"
    v = validate_probemap(pm)
    # the chr2 row is deliberately inverted (start > end)
    assert v == {
        "n": 2,
        "null_ids": 0,
        "inverted_spans": 1,
        "bad_strands": 0,
        "duplicate_ids": 0,
    }
    out = tmp_path / "pm"
    write_probemap(pm, str(out))
    back = read_probemap(spark, str(out))
    assert sorted(tuple(r) for r in back.collect()) == sorted(
        tuple(r) for r in pm.collect()
    )


def test_cases_sample_mapping_flattens_hits(spark):
    """The live postprocess path's hits→(sample, case) derivation, tested
    offline with a constructed nested hits frame (the get_gdc_data shape:
    case submitter_id + samples[].submitter_id)."""
    import json as _json

    from xena_gdc_etl_spark.sources.gdc_api import cases_sample_mapping

    hits = spark.read.json(
        spark.sparkContext.parallelize(
            [
                _json.dumps(
                    {
                        "submitter_id": "C1",
                        "samples": [
                            {"submitter_id": "S1"},
                            {"submitter_id": "S2"},
                        ],
                    }
                ),
                _json.dumps(
                    {"submitter_id": "C2", "samples": [{"submitter_id": "S3"}]}
                ),
            ]
        )
    )
    out = sorted((r.sample, r.case) for r in cases_sample_mapping(hits).collect())
    assert out == [("S1", "C1"), ("S2", "C1"), ("S3", "C2")]


def test_cli_build_token_stats_and_minhash_index(spark, tmp_path):
    """The artifact-builder subcommands freeze loadable, param-tagged
    state: build both from the sf0.001 documents via the REAL CLI
    surface, then load through the library loaders (which enforce the
    sentinel + parameter tags)."""
    from xena_gdc_etl_spark.sources.minhash_index import load_minhash_index
    from xena_gdc_etl_spark.sources.token_stats import load_token_stats

    docs = "/root/testdata/sf0.001/documents.parquet"

    out_ts = str(tmp_path / "ts")
    r = run_cli("build-token-stats", "--docs", docs, "--out", out_ts)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "Token-stats artifact saved" in r.stdout
    _tf, vocab, manifest = load_token_stats(spark, out_ts)
    assert manifest["n_docs"] == 500
    assert vocab.count() == manifest["n_vocab"] > 0

    out_mh = str(tmp_path / "mh")
    r = run_cli(
        "build-minhash-index", "--docs", docs, "--out", out_mh,
        "--num-hashes", "8", "--shingle-k", "5", "--band-size", "2",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    sigs, manifest = load_minhash_index(
        spark, out_mh, num_hashes=8, shingle_k=5, band_size=2
    )
    assert manifest["n_docs"] == 500
    assert sigs.columns == ["doc_id"] + [f"mh{j}" for j in range(8)]
    # a consumer under DIFFERENT params is refused (the tag is the point)
    with pytest.raises(ValueError, match="must not mix"):
        load_minhash_index(spark, out_mh, num_hashes=16, shingle_k=5,
                           band_size=2)


def test_cli_build_ann_index(spark, tmp_path):
    from xena_gdc_etl_spark.sources.ann_index import load_ann_index

    out = str(tmp_path / "ann")
    r = run_cli(
        "build-ann-index",
        "--vectors", "/root/testdata/sf0.001/embeddings.parquet",
        "--out", out, "--n-cells", "4", "--iterations", "1",
        "--pq-m", "4", "--pq-k", "8",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    centroids, codebooks, manifest = load_ann_index(spark, out)
    assert manifest["n_centroids"] == centroids.count() == 4
    assert len(codebooks) == 4 and codebooks[0].shape[0] == 8


def test_cli_build_dedup_state(spark, tmp_path):
    """The decision-artifact builder freezes a loadable, param-tagged
    (doc_id, cluster_rep) table whose representatives are fixed points
    (rep of rep == rep) — the keep set day-N arrivals inherit from."""
    from pyspark.sql import functions as F

    from xena_gdc_etl_spark.sources.dedup_state import load_dedup_decisions

    out = str(tmp_path / "state")
    r = run_cli(
        "build-dedup-state",
        "--docs", "/root/testdata/sf0.001/documents.parquet",
        "--out", out,
        "--num-hashes", "8", "--shingle-k", "5", "--band-size", "2",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "Dedup decisions saved" in r.stdout
    labels, manifest = load_dedup_decisions(
        spark, out, num_hashes=8, shingle_k=5, band_size=2
    )
    assert manifest["n_docs"] == labels.count() == 500
    # representatives are fixed points of the labeling
    reps = labels.select(F.col("cluster_rep").alias("doc_id")).distinct()
    bad = (
        reps.join(labels, "doc_id")
        .filter(F.col("doc_id") != F.col("cluster_rep"))
        .count()
    )
    assert bad == 0
    with pytest.raises(ValueError, match="must not mix"):
        load_dedup_decisions(spark, out, num_hashes=16, shingle_k=5,
                             band_size=2)


def test_cli_build_winnow_index(spark, tmp_path):
    from xena_gdc_etl_spark.sources.winnow_index import (
        load_winnow_fingerprints,
    )

    out = str(tmp_path / "winnow")
    r = run_cli(
        "build-winnow-index",
        "--docs", "/root/testdata/sf0.001/documents.parquet",
        "--out", out, "--k", "5", "--w", "4",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "Winnow fingerprint set saved" in r.stdout
    fps, manifest = load_winnow_fingerprints(spark, out, k=5, w=4)
    assert fps.count() == manifest["n_fps"] > 0
    with pytest.raises(ValueError, match="different"):
        load_winnow_fingerprints(spark, out, k=5, w=8)


def test_cli_gdc_check_new_string_ids(spark, tmp_path):
    """Numeric-looking --ids against a STRING id column must stay strings:
    isin(int) under ANSI casts the column to BIGINT and crashes on the
    first non-numeric id (round-16 review, confirmed by execution)."""
    t = str(tmp_path / "files_tbl")
    spark.createDataFrame(
        [("123", "projA"), ("abc-uuid", "projB")], ["fid", "proj"]
    ).write.mode("overwrite").parquet(t)
    res = run_cli(
        "gdc-check-new", "--files-table", t, "--id-col", "fid",
        "--ids", "123", "--summary-cols", "proj",
    )
    assert res.returncode == 0, res.stderr[-1500:]
    assert "projA" in res.stdout


def test_cli_etl_source_writes_metadata_sidecar(spark, tmp_path):
    src = str(tmp_path / "raw")
    spark.createDataFrame(
        [("s1", "g1", 3.0), ("s1", "g2", 1.0)],
        ["sample", "feature", "value"],
    ).write.mode("overwrite").parquet(src)
    out = str(tmp_path / "mat")
    res = run_cli(
        "etl", "--source", src, "--dtype", "star_counts", "--out", out,
        "--project", "TCGA-ZZ",
    )
    assert res.returncode == 0, res.stderr[-1500:]
    assert os.path.exists(out + ".json"), res.stdout


def test_cli_etl_source_segment_dtype(spark, tmp_path):
    """etl --source routes by the dtype's kind: a segment parquet becomes
    the renamed row-stacked segment table, written verbatim, plus its
    sidecar."""
    src = str(tmp_path / "seg")
    spark.createDataFrame(
        [("s1", "chr1", 100, 200, 0.5), ("s2", "chr2", 5, 50, -1.25)],
        "sample string, Chromosome string, Start int, End int, Segment_Mean double",
    ).write.mode("overwrite").parquet(src)
    out = str(tmp_path / "seg.tsv")
    res = run_cli(
        "etl", "--source", src, "--dtype", "segment_cnv_DNAcopy", "--out", out,
        "--project", "TCGA-ZZ",
    )
    assert res.returncode == 0, res.stderr[-1500:]
    assert _read_tsv_rows(out) == [
        ["sample", "Chrom", "Start", "End", "value"],
        ["s1", "chr1", "100", "200", "0.5"],
        ["s2", "chr2", "5", "50", "-1.25"],
    ]
    meta = json.load(open(out + ".json"))
    assert meta["type"] == "genomicSegment"
    assert meta["xena_dtype"] == "segment_cnv_DNAcopy"


def _read_tsv_rows(path):
    """Header then the sorted body rows of a single-part TSV directory."""
    import csv

    (part,) = glob.glob(os.path.join(path, "part-*"))
    rows = list(csv.reader(open(part), delimiter="\t"))
    return rows[:1] + sorted(rows[1:])


def test_registry_sidecar_type_follows_kind(tmp_path):
    """Every registered dtype renders a sidecar whose ``type`` is the
    table shape its kind writes, and every dtype the CLI offers resolves
    in the registry."""
    import argparse

    from xena_gdc_etl_spark.cli import create_parser

    types = {
        "matrix": "genomicMatrix",
        "segment": "genomicSegment",
        "maf": "mutationVector",
        "phenotype": "clinicalMatrix",
        "survival": "clinicalMatrix",
    }
    for dtype, spec in DTYPE_SPECS.items():
        meta = build_metadata("TCGA-BRCA", dtype, str(tmp_path / dtype))
        assert meta["type"] == types[spec.kind], dtype
        assert meta["label"], dtype
    assert len(supported_dtypes()) == 22
    assert all(DTYPE_SPECS[d].kind in ("matrix", "segment", "maf")
               for d in supported_dtypes())
    (sub,) = (
        a for a in create_parser()._actions
        if isinstance(a, argparse._SubParsersAction)
    )
    (pheno,) = (a for a in sub.choices["etl-pheno"]._actions if a.dest == "dtype")
    assert sorted(pheno.choices) == [
        "GDC_phenotype", "biospecimen", "clinical", "raw_phenotype"
    ]
    assert all(DTYPE_SPECS[d].kind == "phenotype" for d in pheno.choices)


def test_export_and_merge_head_matrix_with_index_name(spark, tmp_path):
    """Exported and merged matrix-kind files head their index column with
    the dtype's index name, as the reference's set_index/to_csv does;
    xena-eql still reads them."""
    from xena_gdc_etl_spark.pipeline import XenaDatasetSpark

    paths = []
    for project in ("TCGA-AA", "TCGA-BB"):
        raw = spark.createDataFrame(
            [(f"{project}-s1", "ENSG1", 3.0), (f"{project}-s1", "ENSG2", 1.0)],
            ["sample", "feature", "value"],
        )
        ds = XenaDatasetSpark(
            projects=project, xena_dtype="star_counts", root_dir=str(tmp_path)
        )
        paths.append(ds.export(ds.transform(raw)))
    outdir = str(tmp_path / "merged")
    res = run_cli(
        "merge-xena", "-f", *paths, "-t", "star_counts", "-o", outdir,
        "-n", "m.tsv",
    )
    assert res.returncode == 0, res.stderr[-1500:]
    merged = os.path.join(outdir, "m.tsv")
    for path in (*paths, merged):
        assert _read_tsv_rows(path)[0][0] == "Ensembl_ID", path
    eql = run_cli("xena-eql", merged, merged)
    assert eql.returncode == 0 and "Equal." in eql.stdout


def test_cli_merge_xena_row_tables_union(tmp_path):
    """Survival and segment files are row tables: merge-xena unions their
    rows under the first file's header, values verbatim, instead of
    reading them as numeric matrices (which fails on a string cell)."""
    cases = {
        "survival": (
            ["sample", "OS", "OS.time", "_PATIENT"],
            [["s1", "1", "912.0", "P1"]],
            [["s3", "0", "30.0", "P2"], ["s4", "1", "5.0", "P3"]],
        ),
        "segment_cnv_DNAcopy": (
            ["sample", "Chrom", "Start", "End", "value"],
            [["s1", "chr1", "100", "200", "0.5"]],
            [["s2", "chr2", "5", "50", "-1.25"]],
        ),
    }
    for dtype, (header, rows_a, rows_b) in cases.items():
        a, b = tmp_path / f"{dtype}.a.tsv", tmp_path / f"{dtype}.b.tsv"
        _write_tsv(a, header, rows_a)
        _write_tsv(b, header, rows_b)
        outdir = str(tmp_path / f"merged-{dtype}")
        res = run_cli(
            "merge-xena", "-f", str(a), str(b), "-t", dtype, "-o", outdir,
            "-n", "out.tsv",
        )
        assert res.returncode == 0, (dtype, res.stderr[-1500:])
        got = _read_tsv_rows(os.path.join(outdir, "out.tsv"))
        assert got == [header] + sorted(rows_a + rows_b), dtype


def test_cli_postprocess_trim_collision_fails_loud(tmp_path):
    d = tmp_path / "proj" / "Xena_Matrices"
    d.mkdir(parents=True)
    f = d / "m.tsv"
    # AML-01A and AML-01B both trim (1 char) to AML-01 — the reference
    # keeps duplicate columns, a pivot would silently collapse them;
    # the CLI must refuse instead
    f.write_text(
        "Ensembl_ID\tAML-01A\tAML-01B\ng1\t1\t2\n"
    )
    res = run_cli(
        "postprocess", "-p", "BEATAML1.0-COHORT", "-t", "star_counts",
        "-f", str(f),
    )
    assert res.returncode == 2
    assert "collision" in res.stderr


def test_merge_xena_header_is_union_of_input_headers(spark, tmp_path, job_ids):
    """merge_xena pivots under the sorted union of its inputs' header
    names: it fires only its write's jobs (one shuffle's map and result
    stages, no header collect), and a sample named only by a header-only
    input becomes an all-NA column."""
    from conftest import plan_nodes

    from xena_gdc_etl_spark.pipeline import merge_xena

    a, b = tmp_path / "a.tsv", tmp_path / "b.tsv"
    _write_tsv(a, ["Ensembl_ID", "s2", "s1"], [["g1", "1.0", "2.0"], ["g2", "NA", "3.0"]])
    _write_tsv(b, ["Ensembl_ID", "s3"], [])
    out = str(tmp_path / "merged.tsv")
    _, ids = job_ids(lambda: merge_xena(spark, [str(a), str(b)], "star_counts", out))
    assert len(ids) == 2
    assert [n for n, _ in plan_nodes(spark, ids) if n == "Exchange"] == ["Exchange"]
    assert _read_tsv_rows(out) == [
        ["Ensembl_ID", "s1", "s2", "s3"],
        ["g1", "2.0", "1.0", "NA"],
        ["g2", "3.0", "NA", "NA"],
    ]


def test_merge_xena_of_header_only_inputs_raises(spark, tmp_path):
    """Inputs with sample columns but no rows make an empty matrix: the
    merge raises the empty-matrix ValueError and leaves no output."""
    from xena_gdc_etl_spark.pipeline import merge_xena

    a, b = tmp_path / "a.tsv", tmp_path / "b.tsv"
    _write_tsv(a, ["Ensembl_ID", "s1"], [])
    _write_tsv(b, ["Ensembl_ID", "s2"], [])
    out = str(tmp_path / "merged.tsv")
    with pytest.raises(ValueError, match="has no 'sample' values"):
        merge_xena(spark, [str(a), str(b)], "star_counts", out)
    assert not os.path.exists(out)
