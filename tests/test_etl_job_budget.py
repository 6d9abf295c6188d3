"""Job budget of one GDC → Xena batch of the benchmark's ``gdc_etl`` shape:
download, parse, export per project, the ``GDC_phenotype`` and
``survival`` datasets per project, then ``merge-xena`` and ``xena-eql``.

Every job here moves data: a matrix write is the manifest broadcast plus
one shuffle, a parquet input reads its schema from the driver, and the
export header is known before the write. A change that adds a job to a
step shows up as a changed count.
"""

from __future__ import annotations

import os
from collections import Counter

# per project: download 2, parse 2 (status and manifest collects),
# export 3, GDC_phenotype 2 and survival 2; once: merge-xena 2, xena-eql 4
BUDGET = {
    "download": 4,
    "parse": 4,
    "export": 6,
    "dataset": 8,
    "merge_xena": 2,
    "xena_eql": 4,
}


def test_gdc_etl_batch_job_budget(spark, tmp_path, job_ids):
    from perfbench.fixtures import write_gdc_raw

    from xena_gdc_etl_spark import cli
    from xena_gdc_etl_spark.gdc2xena import gdc2xena, read_landed_matrix
    from xena_gdc_etl_spark.pipeline import XenaDatasetSpark
    from xena_gdc_etl_spark.sources.download import download_files
    from xena_gdc_etl_spark.sources.parquet_source import read_parquet

    src = str(tmp_path / "src")
    plan = write_gdc_raw(src, 11, 2, 4, 20)
    files_dir = plan["files_dir"]

    def fetch(url: str):
        uuid = url.rsplit("/", 1)[1]
        with open(os.path.join(files_dir, f"{uuid}.tsv"), "rb") as fh:
            return f"{uuid}.tsv", iter([fh.read()])

    def resolve(project: str, dtype: str) -> dict:
        pdir = os.path.join(src, project)
        if dtype == "survival":
            return {
                "survival": os.path.join(pdir, "survival.parquet"),
                "case_samples": os.path.join(pdir, "case_samples.parquet"),
            }
        return {
            "clinical": os.path.join(pdir, "clinical.parquet"),
            "biospecimen": os.path.join(pdir, "biospecimen.parquet"),
        }

    jobs = Counter()

    def step(name, fn):
        out, ids = job_ids(fn)
        jobs[name] += len(ids)
        return out

    root = str(tmp_path / "root")
    matrices = []
    for project in plan["projects"]:
        manifest = read_parquet(spark, plan["manifests"][project])
        landed = os.path.join(root, project, "Raw_Data", "landed")
        status = step("download", lambda: download_files(manifest, landed, fetcher=fetch))
        long_raw = step(
            "parse",
            lambda: read_landed_matrix(spark, manifest, status, "feature", "value"),
        )
        ds = XenaDatasetSpark(projects=project, xena_dtype="star_counts", root_dir=root)
        matrices.append(step("export", lambda: ds.export(ds.transform(long_raw))))
        for dtype in ("GDC_phenotype", "survival"):
            results = step(
                "dataset", lambda: gdc2xena(spark, root, [project], [dtype], sources=resolve)
            )
            assert [r.status for r in results] == ["done"]
    merged = os.path.join(root, "merged")
    rc = step(
        "merge_xena",
        lambda: cli.main(
            ["merge-xena", "-f", *matrices, "-t", "star_counts", "-o", merged,
             "-n", "m.tsv"]
        ),
    )
    assert rc == 0
    rc = step(
        "xena_eql",
        lambda: cli.main(["xena-eql", os.path.join(merged, "m.tsv"), plan["expected"]]),
    )
    assert rc == 0
    assert dict(jobs) == BUDGET
    assert sum(jobs.values()) == 28
