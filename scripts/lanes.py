#!/usr/bin/env python3
"""Lane runner: registry queries x data dirs x constant variants, one session.

    python scripts/lanes.py --cores 2 \\
        --data sf0.01=<testdata>/sf0.01 --data sf0.1=<testdata>/sf0.1 \\
        --gen docs10x=0.1,50000,20000 \\
        --query ann_ivf --query cosine_topk \\
        --set similarity.SPREAD_MIN_MATMUL_BYTES=0 --trials 3 --out lanes.json

One invocation is one ``local[--cores]`` session. Every ``--query`` (a
``workload.QUERIES`` name) runs on every data dir with the library's
defaults and once per ``--set module.NAME=value`` variant. A variant is
set with ``setattr`` and restored afterwards; the module is a dotted
path, tried as given and then under
``xena_gdc_etl_spark`` and ``xena_gdc_etl_spark.operators``, and the
value is a Python literal. ``--set`` reaches only constants the library
reads at call time: a constant bound as a default argument (for example
``dedup.CC_DRIVER_MAX_EDGES``) keeps its import-time value.

``--gen LABEL=SF,DOCS,VECS`` adds a data dir written by
``perfbench.fixtures.write_tables(seed=1, sf=SF, n_documents=DOCS,
n_embeddings=VECS)`` under ``.lanes/`` (kept, and reused by a later run
with the same spec). It holds the TPC-H-like tables, ``documents`` and
``embeddings``, but no ``events``.

A cell is one (query, data dir, variant). The cells of one (query,
data dir) take turns: trial t runs every cell once, in the order
``(default, *variants)`` rotated by t, so no cell always runs first.
Each timed request starts from an empty artifact store
(``seams.release``), so shared tiers are rebuilt under the cell's own
constants, runs the query once to warm and then once as the request
``perfbench/serve.py`` times: a ``workload`` span around the query
builder, an ``exec`` span around the full-row xxhash consumer, and the
consumed frame's Catalyst phase times. One row per cell goes to
``--out``: the min, first quartile, median and third quartile of the
trials' wall seconds (build + exec), median build seconds, and
per-trial medians of the build jobs, the exec jobs, stages, tasks and
shuffle-write bytes, and the Catalyst milliseconds (analysis,
optimization and planning), with the cell's ``(rows, xor)``.

Routing assertion: every routing constant pair is documented as
bitwise-identical, so the run stops with exit status 1 when a trial's
``(rows, xor)`` differs from its cell's first trial, or a variant's from
the default's on the same query and data dir.
"""

from __future__ import annotations

import argparse
import ast
import importlib
import json
import os
import statistics
import subprocess
import sys
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.serve import consume  # noqa: E402
from perfbench.tracing import Tracer  # noqa: E402

GEN_SEED = 1
_PACKAGES = ("", "xena_gdc_etl_spark.", "xena_gdc_etl_spark.operators.")
_PHASES = ("analysis_ms", "optimization_ms", "planning_ms")


class Mismatch(AssertionError):
    """A trial or a variant returned other (rows, xor) than its reference."""


def parse_variant(text: str):
    """``module.NAME=value`` -> (module object, NAME, value)."""
    target, sep, raw = text.partition("=")
    mod_name, _, attr = target.rpartition(".")
    if not (sep and mod_name and attr):
        raise ValueError(f"--set wants module.NAME=value, got {text!r}")
    for prefix in _PACKAGES:
        try:
            module = importlib.import_module(prefix + mod_name)
        except ModuleNotFoundError:
            continue
        if hasattr(module, attr):
            break
    else:
        raise ValueError(f"--set {text!r}: no such module attribute")
    try:
        value = ast.literal_eval(raw)
    except (ValueError, SyntaxError):
        value = raw
    return module, attr, value


@contextmanager
def _applied(variant: str | None):
    if variant is None:
        yield
        return
    module, attr, value = parse_variant(variant)
    old = getattr(module, attr)
    setattr(module, attr, value)
    try:
        yield
    finally:
        setattr(module, attr, old)


def _request(spark, tracer: Tracer, name: str, data_dir: str) -> tuple:
    """Empty the artifact store, warm once, then one traced request;
    returns its (build span, exec span, (rows, xor))."""
    from xena_gdc_etl_spark import workload as W
    from xena_gdc_etl_spark.operators import seams

    seams.release(spark)
    consume(W.QUERIES[name](spark, data_dir))
    with tracer.span("workload", name) as build:
        df = W.QUERIES[name](spark, data_dir)
    with tracer.span("exec", name) as ex:
        consumed, got = consume(df)
    tracer.catalyst(ex, consumed)
    return build, ex, got


def _row(name: str, label: str, variant: str | None, runs: list) -> dict:
    builds = [b for b, _, _ in runs]
    execs = [e for _, e, _ in runs]
    total = [b.seconds + e.seconds for b, e, _ in runs]
    q1, _, q3 = (
        statistics.quantiles(total, n=4, method="inclusive")
        if len(total) > 1
        else total * 3
    )

    def med(spans, read):
        return statistics.median(read(s) for s in spans)

    rows, xor = runs[0][2]
    return {
        "query": name,
        "data": label,
        "variant": variant,
        "trials": len(runs),
        "min_s": round(min(total), 4),
        "q1_s": round(q1, 4),
        "median_s": round(statistics.median(total), 4),
        "q3_s": round(q3, 4),
        "build_s": round(med(builds, lambda s: s.seconds), 4),
        "build_jobs": med(builds, lambda s: s.counts["jobs"]),
        "exec_jobs": med(execs, lambda s: s.counts["jobs"]),
        "stages": med(execs, lambda s: s.counts["stages"]),
        "tasks": med(execs, lambda s: s.counts["tasks"]),
        "shuffle_bytes": med(execs, lambda s: s.counts["shuffle_write_bytes"]),
        "catalyst_ms": med(execs, lambda s: sum(s.counts[p] for p in _PHASES)),
        "rows": rows,
        "xor": xor,
    }


def run(spark, queries, data, variants=(), trials: int = 3, log=None) -> list[dict]:
    """One row per (query, data dir, variant) cell, in that nesting order.
    ``data`` is a list of (label, dir); ``variants`` are ``--set``
    strings. Raises :class:`Mismatch` on the first differing
    ``(rows, xor)``; every variant is restored either way."""
    from xena_gdc_etl_spark.operators import seams

    for variant in variants:
        parse_variant(variant)  # fail before any cell runs
    tracer = Tracer(spark, True)
    out: list[dict] = []
    cells = (None, *variants)
    for label, data_dir in data:
        for name in queries:
            runs: list[list] = [[] for _ in cells]
            for t in range(trials):  # round-robin, start rotated by t
                for i in ((t + j) % len(cells) for j in range(len(cells))):
                    with _applied(cells[i]):
                        runs[i].append(_request(spark, tracer, name, data_dir))
            ref = runs[0][0][2]
            for variant, cell in zip(cells, runs):
                where = f"{name} on {label} ({variant or 'default'})"
                first = cell[0][2]
                for *_, got in cell:
                    if got != first:
                        raise Mismatch(f"{where}: trial {got} != first trial {first}")
                if first != ref:
                    raise Mismatch(f"{where}: {first} != default {ref}")
                row = _row(name, label, variant, cell)
                out.append(row)
                if log is not None:
                    log(row)
        seams.release(spark)
    return out


def _gen_dir(spec: str) -> tuple[str, str]:
    from perfbench.fixtures import write_tables

    label, _, sizes = spec.partition("=")
    sf, docs, vecs = sizes.split(",")
    out = os.path.join(ROOT, ".lanes", f"{label}-{sf}-{docs}-{vecs}-{GEN_SEED}")
    if not os.path.isdir(out):
        write_tables(out + ".tmp", GEN_SEED, sf=float(sf), n_documents=int(docs),
                     n_embeddings=int(vecs))
        os.rename(out + ".tmp", out)
    return label, out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--cores", type=int, default=2)
    ap.add_argument("--data", action="append", default=[], metavar="LABEL=DIR")
    ap.add_argument("--gen", action="append", default=[], metavar="LABEL=SF,DOCS,VECS")
    ap.add_argument("--query", action="append", required=True)
    ap.add_argument("--set", action="append", default=[], dest="variants",
                    metavar="MODULE.NAME=VALUE")
    ap.add_argument("--trials", type=int, default=3)
    ap.add_argument("--out", default=os.path.join(ROOT, "lanes.json"))
    args = ap.parse_args(argv)

    from xena_gdc_etl_spark import workload as W
    from xena_gdc_etl_spark.catalog import Catalog
    from xena_gdc_etl_spark.session import get_spark

    unknown = [q for q in args.query if q not in W.QUERIES]
    if unknown or not (args.data or args.gen):
        ap.error(f"unknown queries {unknown}" if unknown else "give --data or --gen")
    data = [tuple(d.split("=", 1)) for d in args.data]
    data += [_gen_dir(g) for g in args.gen]

    # Python workers find the library (and perfbench) through PYTHONPATH.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(args.cores)
    os.environ.setdefault(
        "PYSPARK_SUBMIT_ARGS", "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    spark = get_spark(app_name="lanes", master=f"local[{args.cores}]",
                      shuffle_partitions=args.cores)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        rows = run(spark, args.query, data, args.variants, args.trials,
                   log=lambda r: print(json.dumps(r), file=sys.stderr, flush=True))
        resolved = len(Catalog._RESOLVED.get(spark, {}))
        version = spark.version
    except Mismatch as exc:
        print(f"[lanes] routing assertion failed: {exc}", file=sys.stderr)
        return 1
    finally:
        spark.stop()
    commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                            capture_output=True, text=True).stdout.strip()
    with open(args.out, "w") as fh:
        json.dump({
            "cores": args.cores, "trials": args.trials, "nproc": os.cpu_count(),
            "spark": version, "commit": commit or "unknown",
            "data": {label: os.path.basename(d) for label, d in data},
            "variants": args.variants, "catalog_resolved": resolved,
            "rows": rows,
        }, fh, indent=1)
        fh.write("\n")
    print(f"[lanes] {len(rows)} rows -> {args.out}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
