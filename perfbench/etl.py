"""The ``gdc_etl`` workload: the paper's GDC → Xena pipeline, batch after
batch, in one session.

One batch builds a fresh root. For each project it downloads the
project's STAR-count files through ``download_files`` with an in-process
fetcher that streams the pre-generated per-sample TSVs from local disk,
parses the landed files (``read_landed_matrix``), runs the ``star_counts``
recipe and exports the Xena TSV plus its metadata sidecar
(``XenaDatasetSpark.transform/export``), then builds the project's
``GDC_phenotype`` and ``survival`` datasets through ``gdc2xena``. The
batch ends with ``merge-xena`` across the projects and ``xena-eql`` of the
merged matrix against the expected matrix the fixture generator computed
from the seed; a batch whose ``xena-eql`` fails, or any of whose datasets
errors, is a failed operation.

Set-up (timed as ``setup_s``) is the session start and one warm batch.
"""

from __future__ import annotations

import itertools
import os
import shutil
import time


class LocalFetcher:
    """``download_files`` fetcher serving ``<files_dir>/<uuid>.tsv``: the
    URL's last path segment is the file's uuid. Module-level so executors
    unpickle it by import path."""

    def __init__(self, files_dir: str, chunk_size: int = 1 << 16):
        self.files_dir = files_dir
        self.chunk_size = chunk_size

    def __call__(self, url: str):
        uuid = url.rstrip("/").rsplit("/", 1)[-1]
        path = os.path.join(self.files_dir, f"{uuid}.tsv")

        def chunks():
            with open(path, "rb") as fh:
                while chunk := fh.read(self.chunk_size):
                    yield chunk

        return f"{uuid}.tsv", chunks()


def _sources(src_dir: str):
    """``gdc2xena`` resolver over the generated per-project inputs."""

    def resolve(project: str, dtype: str) -> dict:
        pdir = os.path.join(src_dir, project)
        if dtype == "survival":
            return {
                "survival": os.path.join(pdir, "survival.parquet"),
                "case_samples": os.path.join(pdir, "case_samples.parquet"),
            }
        return {
            "clinical": os.path.join(pdir, "clinical.parquet"),
            "biospecimen": os.path.join(pdir, "biospecimen.parquet"),
        }

    return resolve


def run_batch(ctx, plan: dict, src_dir: str, root: str) -> bool:
    """One ETL batch into the fresh directory ``root``; True when every
    dataset landed and the merged matrix equals the expected one."""
    from pyspark.sql import functions as F

    from xena_gdc_etl_spark import cli
    from xena_gdc_etl_spark.gdc2xena import gdc2xena, read_landed_matrix
    from xena_gdc_etl_spark.pipeline import XenaDatasetSpark
    from xena_gdc_etl_spark.sources.download import download_files

    spark, tracer = ctx.spark, ctx.tracer
    fetcher = LocalFetcher(plan["files_dir"])
    resolve = _sources(src_dir)
    ok = True
    matrices = []
    for project in plan["projects"]:
        manifest = spark.read.parquet(plan["manifests"][project])
        landed = os.path.join(root, project, "Raw_Data", "landed")
        with tracer.span("download", project) as sp:
            status = download_files(manifest, landed, fetcher=fetcher)
        if tracer.enabled:
            got = status.agg(
                F.count("*").alias("files"),
                F.coalesce(F.sum("n_bytes"), F.lit(0)).alias("bytes"),
                F.count("error").alias("errors"),
            ).collect()[0]
            for key in ("files", "bytes", "errors"):
                sp.counts[key] += got[key]
        with tracer.span("parse", project):
            long_raw = read_landed_matrix(spark, manifest, status, "feature", "value")
        ds = XenaDatasetSpark(projects=project, xena_dtype="star_counts", root_dir=root)
        with tracer.span("export", project) as sp:
            matrices.append(ds.export(ds.transform(long_raw)))
        # the only CSV source the export reads is the landed files
        sp.counts["landed_scans"] += sum(
            "Format: CSV" in loc for loc in sp.scan_locations
        )
        for dtype in ("GDC_phenotype", "survival"):
            with tracer.span("dataset", dtype):
                results = gdc2xena(spark, root, [project], [dtype], sources=resolve)
            ok &= all(r.status == "done" for r in results)
    merged_dir = os.path.join(root, "merged")
    with tracer.span("merge_xena"):
        rc = cli.main(
            ["merge-xena", "-f", *matrices, "-t", "star_counts",
             "-o", merged_dir, "-n", "merged.star_counts.tsv"]
        )
    ok &= rc == 0
    with tracer.span("xena_eql"):
        rc = cli.main(
            ["xena-eql", os.path.join(merged_dir, "merged.star_counts.tsv"),
             plan["expected"]]
        )
    return ok and rc == 0


def run(ctx, plan: dict, src_dir: str, work_dir: str) -> dict:
    """Warm batch in set-up, then timed batches until ``ctx.seconds``
    have passed."""
    ctx.start_session()

    def batch(label: str, root: str) -> bool:
        try:
            good = run_batch(ctx, plan, src_dir, root)
        except Exception as exc:  # noqa: BLE001 - counted, reported
            ctx.log(f"{label}: raised {type(exc).__name__}: {exc}")
            return False
        if not good:
            ctx.log(f"{label}: a dataset failed or the merged matrix differs")
        return good

    root = os.path.join(work_dir, "warm")
    with ctx.setup_clock:
        failed = 0 if batch("warm batch", root) else 1
    shutil.rmtree(root, ignore_errors=True)
    ctx.setup_done()

    latencies = []
    t_start = time.perf_counter()
    for n in itertools.count(1):
        root = os.path.join(work_dir, f"batch-{n}")
        t0 = time.perf_counter()
        with ctx.tracer.span("request", "batch"):
            good = batch(f"batch {n}", root)
        latencies.append(time.perf_counter() - t0)
        ctx.after_request()
        failed += not good
        shutil.rmtree(root, ignore_errors=True)
        elapsed = time.perf_counter() - t_start
        if elapsed >= ctx.seconds:
            break
    return {
        "latencies": latencies,
        "attempted": len(latencies) + 1,
        "failed": failed,
        "elapsed": elapsed,
        "ops": len(latencies),
        "cycle": 1,
    }
