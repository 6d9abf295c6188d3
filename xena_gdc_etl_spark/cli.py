"""Command-line interface — parity with the reference's ``xge`` tool
(xena_gdc_etl/main.py: subcommands etl, metadata, xena-eql,
merge-xena, gdc-check-new), re-targeted at the Spark engine's sources.

    python -m xena_gdc_etl_spark.cli etl --source DIR --dtype star_counts ...
    python -m xena_gdc_etl_spark.cli xena-eql M1 M2
    python -m xena_gdc_etl_spark.cli merge-xena -f M1 M2 -t star_counts -o OUT
    python -m xena_gdc_etl_spark.cli metadata --project P --datatype T --matrix M
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def create_parser() -> argparse.ArgumentParser:
    from xena_gdc_etl_spark.gdc_pipelines import dtypes_of

    parser = argparse.ArgumentParser(
        prog="xge-spark", description="Spark-native Xena/GDC ETL engine"
    )
    sub = parser.add_subparsers(dest="subcomm", required=True)

    etl = sub.add_parser(
        "etl",
        help="build a Xena matrix from long-format parquet, or download-"
        "then-transform from a UUID manifest (reference etl flow)",
    )
    etl.add_argument("--source", default=None, help="parquet path of long raw data")
    etl.add_argument("--dtype", required=True, help="xena dtype (see gdc_pipelines)")
    etl.add_argument("--sample-col", default="sample")
    etl.add_argument("--feature-col", default="feature")
    etl.add_argument("--value-col", default="value")
    etl.add_argument("--out", default=None, help="output matrix TSV directory")
    etl.add_argument(
        "--manifest",
        default=None,
        help="parquet manifest (uuid, sample[, md5]) to download and "
        "transform instead of --source",
    )
    etl.add_argument("--download-dir", default=None)
    etl.add_argument("--project", default=None, help="project id (manifest mode)")
    etl.add_argument("--root-dir", default=".")
    etl.add_argument("--md5-col", default=None)
    etl.add_argument("--release", default="")

    pheno = sub.add_parser(
        "etl-pheno", help="build a phenotype matrix (clinical ⋈ biospecimen)"
    )
    pheno.add_argument("--clinical", required=True, help="clinical parquet path")
    pheno.add_argument("--biospecimen", default=None, help="biospecimen parquet path")
    pheno.add_argument("--project", required=True)
    pheno.add_argument(
        "--dtype", default="GDC_phenotype", choices=dtypes_of("phenotype")
    )
    pheno.add_argument("--root-dir", default=".")
    pheno.add_argument("--release", default="")

    surv = sub.add_parser(
        "etl-survival", help="build the 4-column Xena survival matrix"
    )
    surv.add_argument("--survival", required=True, help="per-case survival parquet")
    surv.add_argument("--case-samples", required=True, help="case→sample map parquet")
    surv.add_argument("--case-key", default="case_id")
    surv.add_argument("--project", required=True)
    surv.add_argument("--root-dir", default=".")
    surv.add_argument("--release", default="")

    batch = sub.add_parser(
        "gdc2xena",
        help="batch-import projects × dtypes; per-dataset failures are "
        "logged and skipped (reference gdc2xena driver)",
    )
    batch.add_argument("-r", "--root-dir", required=True)
    batch.add_argument("-p", "--projects", nargs="+", required=True)
    batch.add_argument("-t", "--datatypes", nargs="+", required=True)
    batch.add_argument("--release", default="")
    batch.add_argument(
        "-D",
        "--delete-raw-data",
        action="store_true",
        help="remove each dataset's Raw_Data after its matrix lands",
    )

    eql = sub.add_parser("xena-eql", help="check equality of two matrices")
    eql.add_argument("df1")
    eql.add_argument("df2")

    merge = sub.add_parser("merge-xena", help="merge xena matrices")
    merge.add_argument("-f", "--files", nargs="+", required=True)
    merge.add_argument("-t", "--datatype", required=True)
    merge.add_argument("-o", "--outdir", required=True)
    merge.add_argument("-n", "--name", default=None)
    merge.add_argument("-c", "--cohort", default=None)

    meta = sub.add_parser("metadata", help="generate matrix metadata JSON")
    meta.add_argument("-p", "--project", required=True)
    meta.add_argument("-t", "--datatype", required=True)
    meta.add_argument("-m", "--matrix", required=True)
    meta.add_argument("-r", "--release", default="")

    post = sub.add_parser(
        "postprocess",
        help="CPTAC-3 postprocess: sample→case rename + dedup "
        "(reference postprocessing.py:8 create_parser / :110 main)",
    )
    post.add_argument("-p", "--project", type=str, required=True, help="The project name.")
    post.add_argument(
        "-t", "--datatype", type=str, required=True,
        help="The Xena data type of the file.",
    )
    post.add_argument(
        "-f", "--file", type=str, required=True,
        help="Path to the data file (TSV, read like the reference's "
        "pandas.read_csv sep='\\t').",
    )
    post.add_argument(
        "--gdc-cases",
        default=None,
        help="offline sample→case map: parquet or TSV with columns "
        "(sample, case). Default fetches live from the GDC API "
        "(requires network).",
    )

    check = sub.add_parser("gdc-check-new", help="summarize impact of updated file ids")
    check.add_argument("--files-table", required=True, help="parquet of file metadata")
    check.add_argument("--id-col", required=True)
    check.add_argument("--ids", nargs="+", required=True)
    check.add_argument("--summary-cols", nargs="+", required=True)

    sub.add_parser("dtypes", help="list supported dtypes")

    # ---- durable-artifact builders: the once-per-corpus-freeze jobs a
    # deployment schedules so every later consumer (day-N incremental
    # dedup, ANN serving, decontamination probes) loads state instead of
    # rescanning the corpus (sources/{token_stats,minhash_index,
    # ann_index}.py — each writes its tables then a written-last
    # sentinel, so an interrupted build is never mistaken for a
    # complete artifact).
    bts = sub.add_parser(
        "build-token-stats",
        help="freeze the corpus token statistics (tf table + vocab "
        "rollup + manifest) for the unigram/BM25/LM consumers",
    )
    bts.add_argument("--docs", required=True, help="documents parquet")
    bts.add_argument("--out", required=True, help="artifact directory")
    bts.add_argument("--id-col", default="doc_id")
    bts.add_argument("--text-col", default="text")

    bmi = sub.add_parser(
        "build-minhash-index",
        help="freeze the corpus MinHash signatures (param-tagged) for "
        "day-N incremental near-dedup probes",
    )
    bmi.add_argument("--docs", required=True, help="documents parquet")
    bmi.add_argument("--out", required=True, help="artifact directory")
    bmi.add_argument("--id-col", default="doc_id")
    bmi.add_argument("--text-col", default="text")
    bmi.add_argument("--num-hashes", type=int, default=8)
    bmi.add_argument("--shingle-k", type=int, default=5)
    bmi.add_argument("--band-size", type=int, default=2)
    bmi.add_argument(
        "--normalized",
        action="store_true",
        help="shingle over normalize_text (whitespace/punct-insensitive)",
    )

    bai = sub.add_parser(
        "build-ann-index",
        help="train and freeze the IVF centroids (+ optional PQ "
        "codebooks) for ANN serving and embedding dedup",
    )
    bai.add_argument("--vectors", required=True, help="embeddings parquet")
    bai.add_argument("--out", required=True, help="artifact directory")
    bai.add_argument("--id-col", default="vec_id")
    bai.add_argument("--vec-col", default="embedding")
    bai.add_argument(
        "--n-cells",
        type=int,
        default=0,
        help="IVF cell count; 0 = scale with the corpus "
        "(similarity.suggest_n_cells)",
    )
    bai.add_argument("--iterations", type=int, default=3)
    bai.add_argument(
        "--pq-m", type=int, default=0,
        help="PQ subspaces; 0 = no PQ half",
    )
    bai.add_argument("--pq-k", type=int, default=16)

    bds = sub.add_parser(
        "build-dedup-state",
        help="freeze the corpus keep DECISIONS (doc_id -> cluster_rep) "
        "so day-N arrivals inherit representatives instead of "
        "re-deriving (and possibly flipping) them",
    )
    bds.add_argument("--docs", required=True, help="documents parquet")
    bds.add_argument("--out", required=True, help="artifact directory")
    bds.add_argument("--id-col", default="doc_id")
    bds.add_argument("--text-col", default="text")
    bds.add_argument("--num-hashes", type=int, default=8)
    bds.add_argument("--shingle-k", type=int, default=5)
    bds.add_argument("--band-size", type=int, default=2)
    bds.add_argument(
        "--normalized",
        action="store_true",
        help="shingle over normalize_text (whitespace/punct-insensitive)",
    )

    bwi = sub.add_parser(
        "build-winnow-index",
        help="freeze the held-out suite's winnow fingerprint set for "
        "standing decontamination (probes load it instead of "
        "re-fingerprinting the suite)",
    )
    bwi.add_argument("--docs", required=True, help="held-out docs parquet")
    bwi.add_argument("--out", required=True, help="artifact directory")
    bwi.add_argument("--id-col", default="doc_id")
    bwi.add_argument("--text-col", default="text")
    bwi.add_argument("--k", type=int, default=5, help="token k-gram width")
    bwi.add_argument("--w", type=int, default=4, help="winnowing window")
    return parser



def _postprocessed_out_path(src_file: str) -> str:
    """<grandparent>/Postprocessed_Matrices/<basename> — the reference's
    landing convention (postprocessing.py:117)."""
    new_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(src_file))),
        "Postprocessed_Matrices",
    )
    os.makedirs(new_dir, exist_ok=True)
    return os.path.join(new_dir, os.path.basename(src_file))

def main(argv: list[str] | None = None) -> int:
    options = create_parser().parse_args(argv)

    if options.subcomm == "dtypes":
        from xena_gdc_etl_spark.gdc_pipelines import supported_dtypes

        print("\n".join(supported_dtypes()))
        return 0

    if options.subcomm == "metadata":
        from xena_gdc_etl_spark.metadata import build_metadata, write_metadata

        meta = build_metadata(
            options.project, options.datatype, options.matrix, options.release
        )
        path = write_metadata(meta, options.matrix)
        print(f"Metadata JSON is saved at {path}.")
        return 0

    # Remaining subcommands need a SparkSession.
    from xena_gdc_etl_spark.session import get_spark

    spark = get_spark(app_name=f"xge-spark-{options.subcomm}")
    spark.sparkContext.setLogLevel("ERROR")

    if options.subcomm == "build-token-stats":
        from pyspark.sql import functions as F

        from xena_gdc_etl_spark.operators.text import doc_term_freqs
        from xena_gdc_etl_spark.sources.token_stats import save_token_stats

        docs = spark.read.parquet(options.docs)
        tf = doc_term_freqs(docs, options.id_col, options.text_col)
        if options.id_col != "doc_id":
            tf = tf.select(
                F.col(options.id_col).alias("doc_id"), "tok", "tf"
            )
        manifest = save_token_stats(tf, options.out)
        print(
            f"Token-stats artifact saved at {options.out} "
            f"({manifest['n_docs']} docs, {manifest['n_vocab']} vocab)."
        )
        return 0

    if options.subcomm == "build-minhash-index":
        from xena_gdc_etl_spark.sources.minhash_index import (
            build_signatures,
            save_minhash_index,
        )

        docs = spark.read.parquet(options.docs)
        sigs = build_signatures(
            docs,
            num_hashes=options.num_hashes,
            shingle_k=options.shingle_k,
            normalized=options.normalized,
            id_col=options.id_col,
            text_col=options.text_col,
        )
        manifest = save_minhash_index(
            sigs,
            options.out,
            num_hashes=options.num_hashes,
            shingle_k=options.shingle_k,
            band_size=options.band_size,
            normalized=options.normalized,
            id_col=options.id_col,
        )
        print(
            f"MinHash index saved at {options.out} "
            f"({manifest['n_docs']} docs, params "
            f"{manifest['num_hashes']}/{manifest['shingle_k']}/"
            f"{manifest['band_size']})."
        )
        return 0

    if options.subcomm == "build-dedup-state":
        from pyspark.sql import functions as F

        from xena_gdc_etl_spark.operators import dedup as dd
        from xena_gdc_etl_spark.sources.dedup_state import (
            save_dedup_decisions,
        )
        from xena_gdc_etl_spark.sources.minhash_index import build_signatures

        docs = spark.read.parquet(options.docs)
        sigs = build_signatures(
            docs,
            num_hashes=options.num_hashes,
            shingle_k=options.shingle_k,
            normalized=options.normalized,
            id_col=options.id_col,
            text_col=options.text_col,
        )
        pairs = dd.lsh_candidate_pairs(
            sigs,
            id_col=options.id_col,
            num_hashes=options.num_hashes,
            band_size=options.band_size,
        )
        labels = dd.connected_components(
            pairs, docs.select(options.id_col), id_col=options.id_col
        ).withColumnRenamed("cluster_id", "cluster_rep")
        manifest = save_dedup_decisions(
            labels,
            options.out,
            num_hashes=options.num_hashes,
            shingle_k=options.shingle_k,
            band_size=options.band_size,
            normalized=options.normalized,
            id_col=options.id_col,
        )
        print(
            f"Dedup decisions saved at {options.out} "
            f"({manifest['n_docs']} docs, params "
            f"{manifest['num_hashes']}/{manifest['shingle_k']}/"
            f"{manifest['band_size']})."
        )
        return 0

    if options.subcomm == "build-winnow-index":
        from xena_gdc_etl_spark.sources.winnow_index import (
            save_winnow_fingerprints,
        )

        docs = spark.read.parquet(options.docs)
        manifest = save_winnow_fingerprints(
            docs,
            options.out,
            k=options.k,
            w=options.w,
            id_col=options.id_col,
            text_col=options.text_col,
        )
        print(
            f"Winnow fingerprint set saved at {options.out} "
            f"({manifest['n_fps']} fingerprints, k={manifest['k']} "
            f"w={manifest['w']})."
        )
        return 0

    if options.subcomm == "build-ann-index":
        from xena_gdc_etl_spark.operators import similarity as sim
        from xena_gdc_etl_spark.sources.ann_index import save_ann_index

        vectors = spark.read.parquet(options.vectors)
        n_cells = options.n_cells or sim.suggest_n_cells(vectors.count())
        centroids = sim.ivf_train(
            vectors,
            k=n_cells,
            iterations=options.iterations,
            id_col=options.id_col,
            vec_col=options.vec_col,
        )
        codebooks = None
        if options.pq_m > 0:
            codebooks = sim.pq_train(
                vectors,
                m=options.pq_m,
                k=options.pq_k,
                iterations=options.iterations,
                id_col=options.id_col,
                vec_col=options.vec_col,
            )
        manifest = save_ann_index(
            centroids, options.out, codebooks=codebooks,
            vec_col=options.vec_col,
        )
        pq = manifest["pq"]
        print(
            f"ANN index saved at {options.out} "
            f"({manifest['n_centroids']} cells"
            + (f", PQ m={pq['m']} k={pq['k']}" if pq else "")
            + ")."
        )
        return 0

    if options.subcomm == "etl":
        if options.manifest:
            # reference main.py:19 etl → download THEN transform
            if not (options.download_dir and options.project):
                print(
                    "--manifest needs --download-dir and --project",
                    file=sys.stderr,
                )
                return 2
            from xena_gdc_etl_spark.gdc2xena import etl_download_transform
            from xena_gdc_etl_spark.sources.parquet_source import read_parquet

            out, _status = etl_download_transform(
                spark,
                read_parquet(spark, options.manifest),
                download_dir=options.download_dir,
                dtype=options.dtype,
                project=options.project,
                root_dir=options.root_dir,
                feature_col=options.feature_col,
                value_col=options.value_col,
                md5_col=options.md5_col,
                gdc_release=options.release,
            )
            print(f"Xena matrix is saved at {out}.")
            return 0
        if not (options.source and options.out):
            print("etl needs --source and --out (or --manifest)", file=sys.stderr)
            return 2
        from xena_gdc_etl_spark.metadata import build_metadata, write_metadata
        from xena_gdc_etl_spark.pipeline import XenaDatasetSpark, write_dataset
        from xena_gdc_etl_spark.sources.parquet_source import read_parquet

        # the dtype's kind picks the transform and the sink, as for the
        # manifest route and gdc2xena
        project = options.project or "unknown"
        ds = XenaDatasetSpark(projects=project, xena_dtype=options.dtype)
        raw = read_parquet(spark, options.source).withColumnsRenamed(
            {
                options.sample_col: "sample",
                options.feature_col: "feature",
                options.value_col: "value",
            }
        )
        write_dataset(options.dtype, ds.transform(raw), options.out)
        # metadata sidecar like every other landing path (a Xena loader
        # needs it)
        meta_path = write_metadata(
            build_metadata(project, options.dtype, options.out, options.release),
            options.out,
        )
        print(f"Xena matrix is saved at {options.out}.")
        print(f"Metadata JSON is saved at {meta_path}.")
        return 0

    if options.subcomm == "gdc2xena":
        from xena_gdc_etl_spark.gdc2xena import gdc2xena

        gdc2xena(
            spark,
            options.root_dir,
            options.projects,
            options.datatypes,
            gdc_release=options.release,
            delete_raw_data=options.delete_raw_data,
        )
        # like the reference driver: failures are logged, not fatal
        return 0

    if options.subcomm == "etl-pheno":
        from xena_gdc_etl_spark.pipeline import GDCPhenosetSpark

        ds = GDCPhenosetSpark(
            projects=options.project,
            xena_dtype=options.dtype,
            root_dir=options.root_dir,
            gdc_release=options.release,
        )
        out = ds.run(spark, options.clinical, options.biospecimen)
        print(f"Xena matrix is saved at {out}.")
        return 0

    if options.subcomm == "etl-survival":
        from xena_gdc_etl_spark.pipeline import GDCSurvivalsetSpark

        ds = GDCSurvivalsetSpark(
            projects=options.project,
            root_dir=options.root_dir,
            gdc_release=options.release,
        )
        out = ds.run(
            spark, options.survival, options.case_samples, options.case_key
        )
        print(f"Xena matrix is saved at {out}.")
        return 0

    if options.subcomm == "xena-eql":
        from xena_gdc_etl_spark.operators.matrix import matrix_equal
        from xena_gdc_etl_spark.sources.xena_tsv import read_xena_tsv

        m1 = read_xena_tsv(spark, options.df1)
        m2 = read_xena_tsv(spark, options.df2)
        result = matrix_equal(m1, m2, keys=["sample", "feature"]).collect()[0]
        equal = result.mismatched_rows == 0
        print("Equal." if equal else "Not equal.")
        return 0 if equal else 1

    if options.subcomm == "merge-xena":
        from xena_gdc_etl_spark.pipeline import merge_xena

        name = options.name or f"{options.cohort or 'MergedCohort'}.{options.datatype}.tsv"
        out = f"{options.outdir.rstrip('/')}/{name}"
        merge_xena(spark, options.files, options.datatype, out)
        print(f'Merged "{options.datatype}" matrix is ready at {out}')
        return 0

    if options.subcomm == "postprocess":
        import os

        from pyspark.sql import functions as F
        from pyspark.sql.functions import broadcast

        from xena_gdc_etl_spark.gdc_pipelines import DTYPE_SPECS
        from xena_gdc_etl_spark.operators.mapping import (
            SUFFIX_TRIM_PROJECTS,
            postprocess_rename_dedup,
            trim_sample_suffix,
        )
        from xena_gdc_etl_spark.sources.xena_tsv import (
            read_wide_tsv,
            read_xena_tsv,
            tsv_header,
            write_wide_tsv,
            write_xena_tsv,
        )

        dtype = options.datatype
        print(
            f"{options.project} data will be postprocessed for the "
            f"following datatype: {dtype}."
        )
        col_form = getattr(DTYPE_SPECS.get(dtype), "sample_columns", False)
        trim = SUFFIX_TRIM_PROJECTS.get(options.project)
        if col_form and trim is None:
            # samples are COLUMN names, first column is the feature id.
            # __col_idx carries each sample column's FILE position so
            # keep-first dedup matches the reference's
            # columns.duplicated() file-order semantics; the original
            # index header (e.g. 'Ensembl_ID') is preserved on write.
            index_header = tsv_header(options.file)[0]
            long_df = read_xena_tsv(spark, options.file, with_ordinal=True)
        else:
            # row form: first column is 'sample', features are columns.
            # The reference renames the sample column then
            # drop_duplicates() on FULL rows (postprocessing.py:96-101) —
            # two rows renamed onto the same case that differ in any
            # value BOTH survive. That is a wide-native distinct(); a
            # long melt + per-cell pivot would collapse the conflict
            # with an arbitrary F.first (round-9 advisor finding), so
            # the row form stays wide end-to-end. The suffix-trim column
            # form below renames wide too. Everything reads as string
            # (the output is a TSV again, no precision at stake).
            wide = read_wide_tsv(spark, options.file)
            index_header = sample_first = wide.columns[0]

        if trim is not None:
            # special projects: fixed-suffix rename, no GDC fetch, no dedup
            if col_form:
                # WIDE-NATIVE rename (the reference's pandas
                # rename(columns=...)): routing through the long melt +
                # pivot would silently collapse two columns whose
                # trimmed names collide into one arbitrary value
                # (agg F.first). The reference keeps BOTH duplicate
                # columns, which a Spark pivot cannot express — so a
                # collision fails loudly here instead of losing data.
                trimmed = [index_header] + [
                    c[:-trim] for c in wide.columns[1:]
                ]
                dupes = sorted(
                    {c for c in trimmed[1:] if trimmed.count(c) > 1}
                )
                if dupes:
                    print(
                        f"suffix-trim collision for {options.project}: "
                        f"{dupes[:5]}... — the reference keeps duplicate "
                        "columns, which a pivoted matrix cannot; "
                        "postprocess these columns manually",
                        file=sys.stderr,
                    )
                    return 2
                for old, new in zip(wide.columns[1:], trimmed[1:]):
                    print(f"{old} has been changed to {new}.")
                out = _postprocessed_out_path(options.file)
                write_wide_tsv(wide.toDF(*trimmed), out)
                print(
                    f"Postprocessed {dtype} data is ready for "
                    f"{options.project}."
                )
                print(f"Postprocessed matrix is saved at {out}.")
                return 0
            else:
                out_df = wide.withColumn(
                    sample_first,
                    F.expr(
                        f"substring(`{sample_first}`, 1, "
                        f"length(`{sample_first}`) - {int(trim)})"
                    ),
                )
        else:
            if options.gdc_cases:
                if options.gdc_cases.endswith(".parquet"):
                    mapping = spark.read.parquet(options.gdc_cases)
                else:
                    mapping = read_wide_tsv(spark, options.gdc_cases)
            else:
                # live GDC fetch (reference get_gdc_data): cases of the
                # project with their samples' submitter ids, exploded to
                # the flat (sample, case) map
                from xena_gdc_etl_spark.filters import FilterSpec
                from xena_gdc_etl_spark.sources.gdc_api import (
                    cases_sample_mapping,
                    fetch_table,
                )

                hits = fetch_table(
                    spark,
                    "cases",
                    FilterSpec(
                        include={"project.project_id": options.project}
                    ),
                    fields=["submitter_id", "samples.submitter_id"],
                )
                mapping = cases_sample_mapping(hits)
            if col_form:
                out_df = postprocess_rename_dedup(
                    long_df, dtype, mapping, order_col="__col_idx"
                )
            else:
                # wide-native reference twin: rename sample ids via the
                # broadcast (sample, case) map, then full-row distinct
                m = mapping.select(
                    F.col("sample").alias("__from"),
                    F.col("case").alias("__to"),
                ).distinct()
                out_df = (
                    wide.join(
                        broadcast(m),
                        on=wide[sample_first] == F.col("__from"),
                        how="left",
                    )
                    .withColumn(
                        sample_first,
                        F.coalesce(F.col("__to"), F.col(sample_first)),
                    )
                    .drop("__from", "__to")
                    .distinct()
                )

        out = _postprocessed_out_path(options.file)
        if col_form:
            write_xena_tsv(out_df, out, feature_header=index_header)
        else:
            # row orientation verbatim: no pivot, conflicting duplicate
            # rows for one case all survive, headers preserved
            write_wide_tsv(out_df.select(*wide.columns), out)
        print(f"Postprocessed {dtype} data is ready for {options.project}.")
        print(f"Postprocessed matrix is saved at {out}.")
        return 0

    if options.subcomm == "gdc-check-new":
        from xena_gdc_etl_spark.operators.mapping import check_new

        files_df = spark.read.parquet(options.files_table)
        # ids match the COLUMN's type: int only against an integral
        # column. A numeric-looking id against a STRING column must stay
        # a string — isin(int) makes ANSI Spark cast the whole column to
        # BIGINT and crash on the first non-numeric id (and zero-padded
        # string ids would stop matching); the reference treats ids as
        # strings throughout.
        integral = dict(files_df.dtypes).get(options.id_col) in (
            "tinyint", "smallint", "int", "bigint",
        )
        if integral:
            try:
                ids = [int(i) for i in options.ids]
            except ValueError:
                ids = list(options.ids)
        else:
            ids = list(options.ids)
        out = check_new(files_df, options.id_col, ids, options.summary_cols)
        rows = out.collect()
        print("\t".join(options.summary_cols))
        for r in rows:
            print("\t".join(str(v) for v in r))
        return 0

    return 2


if __name__ == "__main__":
    sys.exit(main())
