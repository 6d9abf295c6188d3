"""Batch orchestration parity with the reference's ``gdc2xena`` driver:
projects × dtypes loop, per-dataset failure capture (etl_*.err +
unfinished.json), continue-on-error; and the composed offline
download → parse → transform → export flow the reference ``etl``
subcommand drives (main.py:19)."""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import functions as F

from xena_gdc_etl_spark.gdc2xena import (
    DatasetResult,
    etl_download_transform,
    gdc2xena,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_fixture_root(spark, root: str, projects: list[str], skip: tuple = ()):
    """Reference layout: <root>/<project>/Raw_Data/<inputs>. ``skip`` names
    (project, dtype) datasets whose inputs are deliberately absent."""
    for p in projects:
        raw = os.path.join(root, p, "Raw_Data")
        if (p, "star_counts") not in skip:
            spark.createDataFrame(
                [(f"{p}-s1", "ENSG1", 3.0), (f"{p}-s1", "ENSG2", 7.0),
                 (f"{p}-s2", "ENSG1", 1.0)],
                ["sample", "feature", "value"],
            ).write.mode("overwrite").parquet(
                os.path.join(raw, "star_counts.parquet")
            )
        if (p, "survival") not in skip:
            spark.createDataFrame(
                [("c1", False, 100.0, f"{p}-pat1")],
                ["case_id", "censored", "time", "submitter_id"],
            ).write.mode("overwrite").parquet(
                os.path.join(raw, "survival.parquet")
            )
            spark.createDataFrame(
                [("c1", f"{p}-s1"), ("c1", f"{p}-s2")],
                ["case_id", "sample"],
            ).write.mode("overwrite").parquet(
                os.path.join(raw, "case_samples.parquet")
            )


def test_gdc2xena_continues_past_failures_and_logs(spark, tmp_path):
    root = str(tmp_path / "batch")
    projects = ["TCGA-AAA", "TCGA-BBB"]
    # TCGA-BBB's star_counts inputs are missing -> that dataset must fail
    _write_fixture_root(spark, root, projects, skip=(("TCGA-BBB", "star_counts"),))

    results = gdc2xena(spark, root, projects, ["star_counts", "survival"])

    by_key = {(r.project, r.dtype): r for r in results}
    assert len(results) == 4
    assert by_key[("TCGA-AAA", "star_counts")].status == "done"
    assert by_key[("TCGA-AAA", "survival")].status == "done"
    assert by_key[("TCGA-BBB", "survival")].status == "done"
    bad = by_key[("TCGA-BBB", "star_counts")]
    assert bad.status == "error" and bad.error

    # successful datasets landed matrix + sidecar in the reference layout
    for p, d in [("TCGA-AAA", "star_counts"), ("TCGA-AAA", "survival"),
                 ("TCGA-BBB", "survival")]:
        out = by_key[(p, d)].path
        assert out and os.path.exists(out), (p, d)
        assert os.path.exists(out + ".json")
        assert f"{os.sep}{p}{os.sep}Xena_Matrices{os.sep}" in out

    # failure capture: unfinished.json + a traceback in etl_*.err
    assert json.load(open(os.path.join(root, "unfinished.json"))) == {
        "TCGA-BBB": ["star_counts"]
    }
    errs = glob.glob(os.path.join(root, "etl_*.err"))
    assert len(errs) == 1
    log = open(errs[0]).read()
    assert "No star_counts data for cohort TCGA-BBB." in log
    assert "Traceback" in log  # exc_info recorded, like the reference


def test_gdc2xena_delete_raw_data(spark, tmp_path):
    root = str(tmp_path / "batch2")
    _write_fixture_root(spark, root, ["TCGA-CCC"])
    results = gdc2xena(
        spark, root, ["TCGA-CCC"], ["star_counts"], delete_raw_data=True
    )
    assert results[0].status == "done"
    assert not os.path.exists(os.path.join(root, "TCGA-CCC", "Raw_Data"))
    assert os.path.exists(results[0].path)


def test_gdc2xena_cli_end_to_end(spark, tmp_path):
    from conftest import run_cli_inprocess

    root = str(tmp_path / "cli_batch")
    _write_fixture_root(
        spark, root, ["TCGA-XXX", "TCGA-YYY"],
        skip=(("TCGA-YYY", "survival"),),
    )
    proc = run_cli_inprocess(
        "gdc2xena", "-r", root, "-p", "TCGA-XXX", "TCGA-YYY",
        "-t", "star_counts", "survival",
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "Imported 3/4 datasets." in proc.stdout
    # the induced failure is logged, the other datasets landed
    assert json.load(open(os.path.join(root, "unfinished.json"))) == {
        "TCGA-YYY": ["survival"]
    }
    for p in ("TCGA-XXX", "TCGA-YYY"):
        assert os.path.exists(
            os.path.join(root, p, "Xena_Matrices", f"{p}.star_counts.tsv")
        )


def test_gdc2xena_empty_matrix_is_unfinished(spark, tmp_path):
    """A matrix dtype whose landed parquet has no rows exports nothing
    and is listed in unfinished.json, as the reference's driver lists a
    dataset with no data; the project's other dtypes still land."""
    root = str(tmp_path / "empty_batch")
    _write_fixture_root(spark, root, ["TCGA-EEE"])
    spark.createDataFrame(
        [], "sample string, feature string, value double"
    ).write.mode("overwrite").parquet(
        os.path.join(root, "TCGA-EEE", "Raw_Data", "star_counts.parquet")
    )
    results = gdc2xena(spark, root, ["TCGA-EEE"], ["star_counts", "survival"])
    by_dtype = {r.dtype: r for r in results}
    assert by_dtype["star_counts"].status == "error"
    assert "ValueError" in by_dtype["star_counts"].error
    assert by_dtype["survival"].status == "done"
    assert json.load(open(os.path.join(root, "unfinished.json"))) == {
        "TCGA-EEE": ["star_counts"]
    }
    assert not os.path.exists(
        os.path.join(root, "TCGA-EEE", "Xena_Matrices", "TCGA-EEE.star_counts.tsv")
    )


def test_pan_tcga_merge_smoke(spark, tmp_path):
    # gdc2xena lands two projects; pan_merge unions them into GDC-PANCAN
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "pan_tcga", os.path.join(REPO, "scripts", "pan_tcga.py")
    )
    pan_tcga = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(pan_tcga)

    root = str(tmp_path / "pan")
    projects = ["TCGA-AAA", "TCGA-BBB"]
    _write_fixture_root(spark, root, projects)
    results = gdc2xena(spark, root, projects, ["star_counts", "survival"])
    assert all(r.status == "done" for r in results)

    written = pan_tcga.pan_merge(spark, root, ["star_counts", "survival", "nope"])
    assert len(written) == 2  # 'nope' skipped, not fatal

    from xena_gdc_etl_spark.sources.xena_tsv import read_xena_tsv

    merged = read_xena_tsv(spark, written[0])
    samples = {r.sample for r in merged.select("sample").distinct().collect()}
    assert {"TCGA-AAA-s1", "TCGA-AAA-s2", "TCGA-BBB-s1", "TCGA-BBB-s2"} <= samples
    meta = json.load(open(written[0] + ".json"))
    assert meta["cohort"] == "GDC Pan-Cancer (PANCAN)"
    # survival merge stacked both projects' rows
    surv = spark.read.options(sep="\t", header=True).csv(written[1])
    pats = {r._PATIENT for r in surv.collect()}
    assert pats == {"TCGA-AAA-pat1", "TCGA-BBB-pat1"}


def test_etl_download_transform_offline_end_to_end(spark, tmp_path):
    # manifest → distributed download (injectable fetcher) → landed TSV
    # parse → star_counts matrix + metadata, all offline
    def fake_gdc(url: str):
        uuid = url.rsplit("/", 1)[1]
        body = (
            "gene_id\tunstranded\n"
            f"ENSG1\t{10 if uuid == 'u1' else 30}\n"
            f"ENSG2\t{70 if uuid == 'u1' else 0}\n"
        ).encode()
        return f"{uuid}.rna_seq.augmented_star_gene_counts.tsv", iter([body])

    manifest = spark.createDataFrame(
        [("u1", "TCGA-ZZ-0001-01"), ("u2", "TCGA-ZZ-0002-01")],
        ["uuid", "sample"],
    )
    root = str(tmp_path / "etl_e2e")
    out, status = etl_download_transform(
        spark,
        manifest,
        download_dir=os.path.join(root, "TCGA-ZZ", "Raw_Data"),
        dtype="star_counts",
        project="TCGA-ZZ",
        root_dir=root,
        feature_col="gene_id",
        value_col="unstranded",
        fetcher=fake_gdc,
    )
    assert {r.uuid for r in status.collect()} == {"u1", "u2"}
    assert all(r.error is None for r in status.collect())
    assert os.path.exists(out) and os.path.exists(out + ".json")
    meta = json.load(open(out + ".json"))
    assert meta["type"] == "genomicMatrix"

    from xena_gdc_etl_spark.sources.xena_tsv import read_xena_tsv

    m = read_xena_tsv(spark, out)
    vals = {
        (r.sample, r.feature): r.value
        for r in m.filter(F.col("value").isNotNull()).collect()
    }
    import math

    # star_counts recipe: log2(x+1)
    assert math.isclose(vals[("TCGA-ZZ-0001-01", "ENSG2")], math.log2(71), rel_tol=1e-9)
    assert math.isclose(vals[("TCGA-ZZ-0002-01", "ENSG1")], math.log2(31), rel_tol=1e-9)


def _land(spark, land: str, uuids: list[str], fail=(), bare=(), gz=()):
    """Land one 2-gene TSV per uuid through ``download_files``; uuids in
    ``fail`` error, uuids in ``bare`` land without an extension and uuids
    in ``gz`` land gzip-compressed."""
    from xena_gdc_etl_spark.sources.download import download_files

    def fetch(url: str, _fail=tuple(fail), _bare=tuple(bare), _gz=tuple(gz)):
        import gzip

        uuid = url.rsplit("/", 1)[1]
        if uuid in _fail:
            raise OSError("gone")
        body = f"gene_id\tunstranded\nENSG1\t1\nENSG2\t{len(uuid)}\n".encode()
        if uuid in _gz:
            return f"{uuid}.tsv.gz", iter([gzip.compress(body)])
        return ("" if uuid in _bare else f"{uuid}.tsv"), iter([body])

    manifest = spark.createDataFrame(
        [(u, f"S-{u}") for u in uuids], ["uuid", "sample"]
    )
    return manifest, download_files(manifest, land, fetcher=fetch)


def test_read_landed_matrix_reads_exactly_the_landed_files(spark, tmp_path):
    """Stray files in the landing directory contribute no rows: an orphaned
    .part tmp, a stale file of a uuid whose download failed this time, an
    unrelated file and a TSV in a subdirectory. A bare-uuid landing (no
    extension) still parses, and so does a gzipped one, which is also the
    file the schema's header is read from."""
    from xena_gdc_etl_spark.gdc2xena import read_landed_matrix

    land = str(tmp_path / "landed")
    manifest, status = _land(
        spark, land, ["ua", "ub", "uc", "ud"], fail=("ud",), bare=("uc",),
        gz=("ua",),
    )
    assert os.path.exists(os.path.join(land, "ua.tsv.gz"))
    assert os.path.exists(os.path.join(land, "uc"))
    stray = "gene_id\tunstranded\nSTRAY\t9\n"
    os.makedirs(os.path.join(land, "nested"))
    for name in ("ub.tsv.part.1.2", "ud.tsv", "notes.txt", "nested/ub.tsv"):
        with open(os.path.join(land, name), "w") as fh:
            fh.write(stray)

    got = read_landed_matrix(
        spark, manifest, status, "gene_id", "unstranded"
    ).collect()
    assert sorted((r.sample, r.feature, r.value) for r in got) == [
        (f"S-{u}", gene, value)
        for u in ("ua", "ub", "uc")
        for gene, value in (("ENSG1", 1.0), ("ENSG2", 2.0))
    ]


def test_read_landed_matrix_fires_no_listing_jobs(spark, tmp_path):
    """Above Spark's 32-path parallel-listing threshold, explicit file paths
    made every read run listing jobs; the directory read with a given
    schema runs at most the status collect."""
    from xena_gdc_etl_spark.gdc2xena import read_landed_matrix

    uuids = [f"u{i:02d}" for i in range(36)]
    manifest, status = _land(spark, str(tmp_path / "landed"), uuids)
    sc = spark.sparkContext
    group = f"read-landed-{tmp_path.name}"
    sc.setJobGroup(group, "read_landed_matrix")
    try:
        long_raw = read_landed_matrix(
            spark, manifest, status, "gene_id", "unstranded"
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    job_ids = list(sc.statusTracker().getJobIdsForGroup(group))
    store = sc._jsc.sc().statusStore()
    descriptions = [store.job(j).description() for j in job_ids]
    descriptions = [d.get() for d in descriptions if d.isDefined()]
    assert len(job_ids) <= 2, descriptions
    assert not [d for d in descriptions if d.startswith("Listing leaf files")]
    assert long_raw.count() == 2 * len(uuids)


def test_read_landed_matrix_header_only_files(spark, tmp_path):
    """Landed files holding only their header line parse to an empty long
    table with the usual columns, not an error."""
    from xena_gdc_etl_spark.gdc2xena import read_landed_matrix
    from xena_gdc_etl_spark.sources.download import download_files

    def fetch(url: str):
        return f"{url.rsplit('/', 1)[1]}.tsv", iter([b"gene_id\tunstranded\n"])

    manifest = spark.createDataFrame([("ua", "S-a"), ("ub", "S-b")], ["uuid", "sample"])
    status = download_files(manifest, str(tmp_path / "landed"), fetcher=fetch)
    got = read_landed_matrix(spark, manifest, status, "gene_id", "unstranded")
    assert got.collect() == []
    assert got.dtypes == [
        ("sample", "string"), ("feature", "string"), ("value", "double")
    ]


def _land_bodies(spark, land: str, bodies: dict):
    """Land ``bodies[uuid]`` as ``<uuid>.tsv`` through ``download_files``;
    the manifest names uuid ``u`` sample ``S-u``."""
    from xena_gdc_etl_spark.sources.download import download_files

    def fetch(url: str, _bodies=dict(bodies)):
        uuid = url.rsplit("/", 1)[1]
        return f"{uuid}.tsv", iter([_bodies[uuid].encode()])

    manifest = spark.createDataFrame(
        [(u, f"S-{u}") for u in bodies], ["uuid", "sample"]
    )
    return manifest, download_files(manifest, land, fetcher=fetch)


def _landed_export(spark, tmp_path, bodies: dict):
    """(dataset, long rows, matrix path) of a star_counts export over
    files landed from ``bodies``."""
    from xena_gdc_etl_spark.gdc2xena import read_landed_matrix
    from xena_gdc_etl_spark.pipeline import XenaDatasetSpark

    manifest, status = _land_bodies(spark, str(tmp_path / "landed"), bodies)
    long_raw = read_landed_matrix(spark, manifest, status, "gene_id", "unstranded")
    root = str(tmp_path / "root")
    ds = XenaDatasetSpark(projects="P", xena_dtype="star_counts", root_dir=root)
    return ds, long_raw, os.path.join(root, "P", "Xena_Matrices", "P.star_counts.tsv")


def test_export_of_header_only_landing_raises_and_leaves_no_matrix(spark, tmp_path):
    """Every landed file holds only its header: the export raises the
    empty-matrix ValueError and leaves no matrix directory, so gdc2xena
    would list the dataset as unfinished."""
    import pytest

    ds, long_raw, out = _landed_export(
        spark, tmp_path, {"ub": "gene_id\tunstranded\n", "uc": "gene_id\tunstranded\n"}
    )
    with pytest.raises(ValueError, match="has no 'sample' values"):
        ds.export(ds.transform(long_raw))
    assert not os.path.exists(out)
    assert not os.path.exists(out + ".json")


def test_export_header_only_landed_file_is_an_all_na_column(spark, tmp_path):
    """A landed file is a column: a header-only file among files with data
    exports as an all-NA column of its sample, in sorted header order."""
    ds, long_raw, out = _landed_export(
        spark,
        tmp_path,
        {
            "ua": "gene_id\tunstranded\nENSG1\t1\nENSG2\t3\n",
            "ub": "gene_id\tunstranded\n",
            "uc": "gene_id\tunstranded\nENSG1\t7\n",
        },
    )
    assert ds.export(ds.transform(long_raw)) == out
    (part,) = glob.glob(os.path.join(out, "part-*"))
    lines = open(part).read().splitlines()
    assert lines[0].split("\t") == ["Ensembl_ID", "S-ua", "S-ub", "S-uc"]
    rows = {line.split("\t")[0]: line.split("\t")[1:] for line in lines[1:]}
    assert set(rows) == {"ENSG1", "ENSG2"}
    assert [rows[f][1] for f in ("ENSG1", "ENSG2")] == ["NA", "NA"]
    assert rows["ENSG2"][2] == "NA"


def test_declared_header_over_max_columns_raises_before_writing(
    spark, tmp_path, job_ids
):
    """A declared sample set wider than ``max_columns`` raises the
    over-wide ValueError before any job runs or anything is written."""
    import pytest

    from xena_gdc_etl_spark.sources.xena_tsv import declared_samples, write_xena_tsv

    body = "gene_id\tunstranded\nENSG1\t1\n"
    _, long_raw, _ = _landed_export(
        spark, tmp_path, {"ua": body, "ub": body, "uc": body}
    )
    assert declared_samples(long_raw) == ["S-ua", "S-ub", "S-uc"]
    out = str(tmp_path / "wide.tsv")

    def write():
        with pytest.raises(ValueError, match="more than 2 rows"):
            write_xena_tsv(long_raw, out, max_columns=2)

    _, ids = job_ids(write)
    assert ids == []
    assert not os.path.exists(out)


def test_export_of_landed_matrix_fires_no_header_collect(spark, tmp_path, job_ids):
    """The export takes its header from the declared sample set: its jobs
    are the write's own (the manifest broadcast, one shuffle's map and
    result stages), it scans the landed files once, and the average plus
    the pivot's two aggregates share one shuffle exchange."""
    from conftest import plan_nodes

    body = "gene_id\tunstranded\nENSG1\t1\nENSG2\t2\n"
    ds, long_raw, out = _landed_export(
        spark, tmp_path, {"ua": body, "ub": body, "uc": body}
    )
    got, ids = job_ids(lambda: ds.export(ds.transform(long_raw)))
    assert got == out
    assert len(ids) == 3
    nodes = plan_nodes(spark, ids)
    assert len([d for n, d in nodes if n.startswith("Scan") and "Format: CSV" in d]) == 1
    assert [n for n, _ in nodes if n == "Exchange"] == ["Exchange"]
