#!/usr/bin/env python
"""Pan-cancer batch merge — the reference's ``scripts/panTCGA.py`` recipe
(/root/reference/xena_gdc_etl/scripts/panTCGA.py:1) on the Spark engine.

For each datatype, find every per-project matrix that a ``gdc2xena`` batch
run landed under ``<root>/TCGA-*/Xena_Matrices/``, union them into one
GDC-PANCAN matrix, and write it with PANCAN metadata. The merge is the
library's ``merge_xena``, the one behind the ``merge-xena`` subcommand:
the dtype's kind picks a long-format union for genomic matrices and a
row union for segment/SNV/phenotype/survival tables.

Usage::

    python scripts/pan_tcga.py --root-dir /data/gdc --out-dir /data/pancan \
        --datatypes star_counts survival

This composes with the ``gdc2xena`` CLI subcommand: run the per-project
batch import first, then this merge — the reference's intended workflow
("should be used right after importing/updating any individual TCGA
project").
"""

from __future__ import annotations

import argparse
import glob
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PANCAN_PROJECT = "GDC-PANCAN"
PANCAN_COHORT = "GDC Pan-Cancer (PANCAN)"


def pan_merge(
    spark,
    root_dir: str,
    datatypes: list[str],
    out_dir: str | None = None,
    gdc_release: str = "",
    project_glob: str = "TCGA-*",
) -> list[str]:
    """Merge per-project matrices into pan-cancer matrices; returns the
    written matrix paths. Datatypes with no per-project matrices are
    skipped with a message (parity with the reference's per-dtype loop)."""
    from xena_gdc_etl_spark.metadata import build_metadata, write_metadata
    from xena_gdc_etl_spark.pipeline import merge_xena

    out_dir = out_dir or os.path.join(root_dir, PANCAN_PROJECT, "Xena_Matrices")
    os.makedirs(out_dir, exist_ok=True)
    written = []
    for dtype in datatypes:
        pattern = os.path.join(
            root_dir, project_glob, "Xena_Matrices", f"*.{dtype}.tsv"
        )
        paths = sorted(glob.glob(pattern))
        if not paths:
            print(f"No {dtype} matrices under {pattern}; skipping.")
            continue
        print(f"Merging {len(paths)} {dtype} matrices ...")
        out = os.path.join(out_dir, f"{PANCAN_PROJECT}.{dtype}.tsv")
        merge_xena(spark, paths, dtype, out)
        meta = build_metadata(PANCAN_PROJECT, dtype, out, gdc_release)
        # the reference renders the PANCAN cohort explicitly (panTCGA.py:62)
        meta["cohort"] = meta["xena_cohort"] = PANCAN_COHORT
        write_metadata(meta, out)
        print(f"Pan-cancer {dtype} matrix is ready at {out}")
        written.append(out)
    return written


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("-r", "--root-dir", required=True)
    ap.add_argument("-t", "--datatypes", nargs="+", required=True)
    ap.add_argument("-o", "--out-dir", default=None)
    ap.add_argument("--release", default="")
    args = ap.parse_args(argv)

    from xena_gdc_etl_spark.session import get_spark

    spark = get_spark(app_name="pan-tcga-merge")
    spark.sparkContext.setLogLevel("ERROR")
    written = pan_merge(
        spark, args.root_dir, args.datatypes, args.out_dir, args.release
    )
    return 0 if written else 1


if __name__ == "__main__":
    sys.exit(main())
