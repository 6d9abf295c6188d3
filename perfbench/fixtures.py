"""Seeded input generators for the three workloads.

Everything here is a pure function of ``seed`` (and the size arguments):
the same seed writes the same bytes. Nothing in this module touches Spark,
so fixture generation is never charged to a timed phase.

- ``write_tables`` writes the TPC-H-like star schema plus the ``documents``
  and ``embeddings`` tables the registry queries read, with the schemas and
  value domains of the reference sf0.1 fixtures (``<dir>/<name>.parquet``).
- ``write_gdc_raw`` lays out per-sample STAR-count TSVs for the GDC ETL
  workload, the phenotype and survival parquet inputs ``gdc2xena`` reads,
  and the expected merged matrix computed from the generated values alone.
"""

from __future__ import annotations

import math
import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_DAY_US = 86_400_000_000
_EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00Z in µs

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_PART_ADJ = "red new hot small cold large old blue".split()
_PART_NOUN = "bolt anvil ring rod plate gear widget gizmo".split()
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "documents", "embeddings",
)


def _write(path: str, table: pa.Table) -> None:
    pq.write_table(table, path)


def _pick(rng: np.random.Generator, values, n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _days(rng, n: int, lo: int, hi: int) -> pa.Array:
    days = rng.integers(lo, hi + 1, n).astype(np.int64)
    return pa.array(_EPOCH_1995 + days * _DAY_US, type=pa.timestamp("us"))


def write_tables(
    out_dir: str,
    seed: int,
    sf: float = 0.1,
    tables: tuple[str, ...] = (),
    n_documents: int = 5000,
    n_embeddings: int = 2000,
) -> None:
    """Write the named tables (all when ``tables`` is empty) under
    ``out_dir``. Row counts follow the reference fixtures: lineitem
    6M·sf, orders 1.5M·sf, customer 150k·sf, part 200k·sf, supplier 10k·sf."""
    os.makedirs(out_dir, exist_ok=True)
    want = set(tables) or set(TABLES)
    # one independent stream per table, so the subset written never
    # changes any table's bytes
    streams = dict(zip(TABLES, np.random.SeedSequence(seed).spawn(len(TABLES))))

    def path(name: str) -> str:
        return os.path.join(out_dir, f"{name}.parquet")

    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)

    if "region" in want:
        _write(path("region"), pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }))
    if "nation" in want:
        _write(path("nation"), pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }))
    if "customer" in want:
        rng = np.random.default_rng(streams["customer"])
        _write(path("customer"), pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": _pick(
                rng,
                ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"],
                n_cust,
            ),
        }))
    if "supplier" in want:
        rng = np.random.default_rng(streams["supplier"])
        _write(path("supplier"), pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }))
    if "part" in want:
        rng = np.random.default_rng(streams["part"])
        names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
        keys = np.arange(n_part, dtype=np.int64)
        _write(path("part"), pa.table({
            "p_partkey": pa.array(keys),
            "p_name": _pick(rng, names, n_part),
            "p_brand": pa.array(
                [f"Brand#{b}" for b in rng.integers(1, 26, n_part)]
            ),
            "p_type": _pick(
                rng,
                ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"],
                n_part,
            ),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1),
        }))
    if "orders" in want:
        rng = np.random.default_rng(streams["orders"])
        _write(path("orders"), pa.table({
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
            "o_orderstatus": _pick(rng, ["P", "O", "F"], n_ord),
            "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
            "o_orderdate": _days(rng, n_ord, 0, 2404),
            "o_orderpriority": _pick(
                rng,
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                n_ord,
            ),
        }))
    if "lineitem" in want:
        rng = np.random.default_rng(streams["lineitem"])
        qty = rng.integers(1, 51, n_line).astype(np.float64)
        _write(path("lineitem"), pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ["N", "R", "A"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _days(rng, n_line, 1, 2499),
        }))
    if "documents" in want:
        rng = np.random.default_rng(streams["documents"])
        texts: list[str] = []
        for i in range(n_documents):
            u = rng.random()
            if i > 0 and u < 0.05:  # near-duplicate of an earlier doc
                texts.append(texts[int(rng.integers(0, i))] + " dup")
            elif i > 0 and u < 0.0516:  # exact duplicate
                texts.append(texts[int(rng.integers(0, i))])
            else:
                n = int(rng.integers(10, 101))
                texts.append(" ".join(_WORDS[w] for w in rng.integers(0, len(_WORDS), n)))
        langs = np.array(["en", "zh", "es", "fr", "de"], dtype=object)
        lang = langs[rng.choice(5, n_documents, p=[0.41, 0.15, 0.15, 0.15, 0.14])]
        _write(path("documents"), pa.table({
            "doc_id": pa.array(np.arange(n_documents, dtype=np.int64)),
            "text": texts,
            "lang": pa.array(lang),
            "source": [f"src{i % 20}" for i in range(n_documents)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }))
    if "embeddings" in want:
        rng = np.random.default_rng(streams["embeddings"])
        vecs = rng.standard_normal((n_embeddings, 64)).astype(np.float32)
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        _write(path("embeddings"), pa.table({
            "vec_id": pa.array(np.arange(n_embeddings, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_embeddings), pa.int32()),
        }))


# -- GDC ETL inputs -----------------------------------------------------------

STAR_SUMMARY = ("N_unmapped", "N_multimapping", "N_noFeature", "N_ambiguous")
MAX_COUNT = 4095  # STAR counts are drawn from [0, MAX_COUNT]

_LN2_HI = 6.93147180369123816490e-01
_LN2_LO = 1.90821492927058770002e-10
_LG = (
    6.666666666666735130e-01, 3.999999999940941908e-01,
    2.857142874366239149e-01, 2.222219843214978396e-01,
    1.818357216161805012e-01, 1.531383769920937332e-01,
    1.479819860511658591e-01,
)


def _fdlibm_log(x: float) -> float:
    """Natural log with fdlibm's ``__ieee754_log`` rounding, for normal
    x >= 1. Spark's ``log2`` is ``StrictMath.log(x) / StrictMath.log(2)``
    and StrictMath is specified as fdlibm; the C library's ``log`` differs
    from it in the last bit for ~1% of the values this workload produces,
    so the expected matrix reproduces fdlibm exactly."""
    if not x >= 1.0 or math.isinf(x):
        raise ValueError(f"_fdlibm_log covers finite x >= 1, got {x!r}")
    bits = struct.unpack("<q", struct.pack("<d", x))[0]
    hx, lx = bits >> 32, bits & 0xFFFFFFFF
    k = (hx >> 20) - 1023
    hx &= 0x000FFFFF
    i = (hx + 0x95F64) & 0x100000
    x = struct.unpack("<d", struct.pack("<q", ((hx | (i ^ 0x3FF00000)) << 32) | lx))[0]
    k += i >> 20
    f = x - 1.0
    dk = float(k)
    if (0x000FFFFF & (2 + hx)) < 3:  # |f| < 2**-20
        if f == 0.0:
            return 0.0 if k == 0 else dk * _LN2_HI + dk * _LN2_LO
        r = f * f * (0.5 - 0.33333333333333333 * f)
        return f - r if k == 0 else dk * _LN2_HI - ((r - dk * _LN2_LO) - f)
    s = f / (2.0 + f)
    z = s * s
    w = z * z
    t1 = w * (_LG[1] + w * (_LG[3] + w * _LG[5]))
    t2 = z * (_LG[0] + w * (_LG[2] + w * (_LG[4] + w * _LG[6])))
    r = t2 + t1
    if ((hx - 0x6147A) | (0x6B851 - hx)) > 0:
        hfsq = 0.5 * f * f
        if k == 0:
            return f - (hfsq - s * (hfsq + r))
        return dk * _LN2_HI - ((hfsq - (s * (hfsq + r) + dk * _LN2_LO)) - f)
    if k == 0:
        return f - s * (f - r)
    return dk * _LN2_HI - ((s * (f - r) - dk * _LN2_LO) - f)


def spark_log2p1(x: float) -> float:
    """log2(x + 1) as Spark's ``F.log2`` rounds it."""
    return _fdlibm_log(x + 1.0) / _fdlibm_log(2.0)


def project_names(n_projects: int) -> list[str]:
    return [f"TCGA-B{i:02d}" for i in range(n_projects)]


def write_gdc_raw(
    src_dir: str,
    seed: int,
    n_projects: int,
    n_samples: int,
    n_features: int,
    repeat_frac: float = 0.1,
    na_frac: float = 0.01,
) -> dict:
    """Write the GDC-side inputs of one ETL batch and return its plan.

    Per project: ``n_samples`` samples, of which ``repeat_frac`` have a
    second (repeat) file; each file is a STAR-count TSV (``feature``,
    ``value``) with the four summary rows STAR appends and ``na_frac`` of
    its gene cells left empty (missing). Also written per project under
    ``<src_dir>/<project>/``: the manifest (uuid → sample), and the
    clinical / biospecimen / survival / case→sample parquet inputs.

    ``<src_dir>/expected.tsv`` is the merged Xena matrix the pipeline must
    produce, computed here from the generated values alone: STAR rows
    dropped, repeats averaged over non-NA values, log2(x + 1) applied.
    """
    rng = np.random.default_rng(np.random.SeedSequence([seed, 0x6DC]))
    files_dir = os.path.join(src_dir, "files")
    os.makedirs(files_dir, exist_ok=True)
    features = [f"ENSG{int(k):011d}" for k in range(1, n_features + 1)]
    feature_block = "\n".join(f"{f}\t{{}}" for f in features)
    projects = project_names(n_projects)
    expected: dict[str, list[str]] = {}
    manifests: dict[str, str] = {}
    n_files = 0
    n_bytes = 0
    for project in projects:
        pdir = os.path.join(src_dir, project)
        os.makedirs(pdir, exist_ok=True)
        cases = [f"{project}-{c:04d}" for c in range(n_samples)]
        samples = [f"{c}-01A" for c in cases]
        uuids: list[str] = []
        uuid_samples: list[str] = []
        for sample in samples:
            n_rep = 2 if rng.random() < repeat_frac else 1
            counts = rng.integers(0, MAX_COUNT + 1, (n_rep, n_features))
            na = rng.random((n_rep, n_features)) < na_frac
            for r in range(n_rep):
                uuid = "%032x" % int(rng.integers(0, 2**63))
                # a missing count is an empty cell, which the CSV scan
                # reads as null
                cells = [
                    "" if na[r, j] else str(int(counts[r, j]))
                    for j in range(n_features)
                ]
                summary = "\n".join(
                    f"{s}\t{int(v)}"
                    for s, v in zip(STAR_SUMMARY, rng.integers(0, 10**6, 4))
                )
                body = (
                    "feature\tvalue\n"
                    + summary
                    + "\n"
                    + feature_block.format(*cells)
                    + "\n"
                )
                with open(os.path.join(files_dir, f"{uuid}.tsv"), "w") as fh:
                    fh.write(body)
                n_files += 1
                n_bytes += len(body)
                uuids.append(uuid)
                uuid_samples.append(sample)
            col = []
            for j in range(n_features):
                vals = [counts[r, j] for r in range(n_rep) if not na[r, j]]
                if not vals:
                    col.append("NA")
                else:
                    mean = sum(int(v) for v in vals) / len(vals)
                    col.append(repr(spark_log2p1(mean)))
            expected[sample] = col
        manifest = os.path.join(pdir, "manifest.parquet")
        _write(manifest, pa.table({"uuid": uuids, "sample": uuid_samples}))
        manifests[project] = manifest
        ages = rng.integers(30 * 365, 85 * 365, n_samples)
        _write(os.path.join(pdir, "clinical.parquet"), pa.table({
            "case_id": cases,
            "submitter_id": [f"{c}-p" for c in cases],
            "demographic": pa.array(
                [
                    {"gender": g, "vital_status": v}
                    for g, v in zip(
                        np.array(["female", "male"])[rng.integers(0, 2, n_samples)],
                        np.array(["Alive", "Dead"])[rng.integers(0, 2, n_samples)],
                    )
                ]
            ),
            "age_at_diagnosis": pa.array(ages, pa.int64()),
        }))
        _write(os.path.join(pdir, "biospecimen.parquet"), pa.table({
            "sample": samples,
            "case_id": cases,
            "sample_type": pa.array(
                np.array(["Primary Tumor", "Solid Tissue Normal"], dtype=object)[
                    (rng.random(n_samples) < 0.1).astype(int)
                ]
            ),
        }))
        _write(os.path.join(pdir, "survival.parquet"), pa.table({
            "case_id": cases,
            "censored": pa.array(rng.random(n_samples) < 0.6),
            "time": np.round(rng.uniform(1.0, 4000.0, n_samples), 1),
            "submitter_id": [f"{c}-p" for c in cases],
        }))
        _write(os.path.join(pdir, "case_samples.parquet"), pa.table({
            "case_id": cases, "sample": samples,
        }))
    names = sorted(expected)
    with open(os.path.join(src_dir, "expected.tsv"), "w") as fh:
        fh.write("feature\t" + "\t".join(names) + "\n")
        for j, f in enumerate(features):
            fh.write(f + "\t" + "\t".join(expected[s][j] for s in names) + "\n")
    return {
        "projects": projects,
        "manifests": manifests,
        "files_dir": files_dir,
        "expected": os.path.join(src_dir, "expected.tsv"),
        "n_files": n_files,
        "n_bytes": n_bytes,
        "cells": n_features * len(names),
    }
