#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload gdc_etl --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates the workload's inputs from
``--seed`` under ``.perfbench/`` (removed at exit), starts one
``local[<nproc/2>]`` session, sets up, measures for ``--seconds`` seconds
and prints, as its last stdout line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics
are the end-to-end ones; with ``--trace 1`` they are the per-layer ones
read by ``perfbench.tracing``, and a line before the result carries the
per-query breakdown.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKLOADS = ("gdc_etl", "xena_serve", "curation_serve")
XENA_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
CURATION_TABLES = ("documents", "embeddings")
# Input sizes: the scale scripts/driver_sim.py checks at (sf0.01, a
# 500-document corpus), and a 2-project ETL batch. A run is dominated by
# fixed costs (JVM start, the cold first pass that compiles every plan);
# these sizes keep a run near a minute on a 4-core host.
SF = 0.01
CURATION_DOCS, CURATION_VECS = 500, 200
ETL_PROJECTS, ETL_SAMPLES, ETL_FEATURES = 2, 40, 200
DRIVER_MEMORY = "2g"
# Task slots: half the cores. The driver JVM's JIT and GC threads and the
# Python driver need the rest; with one slot per core a stage waits on
# whichever task shares its core with them, and on a 4-core host the
# serve latencies were both slower and further apart from run to run.
TASK_SLOTS = max(1, (os.cpu_count() or 1) // 2)


def _percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def _rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of ``pid`` in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _commit() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        )
    except OSError:
        return "unknown"
    return out.stdout.strip() or "unknown"


def _stop(spark) -> None:
    """Stop the session and wait for the driver JVM (and with it the
    Python workers it started) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


class _Clock:
    """Re-entrant accumulating stopwatch used as a context manager."""

    def __init__(self):
        self.seconds = 0.0

    def __enter__(self):
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.seconds += time.perf_counter() - self._t0
        return False


class Context:
    """What a workload needs from the harness: the session, the tracer,
    the set-up clock and the run parameters."""

    def __init__(self, args):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.setup_clock = _Clock()
        self.session_start_s = self.session_warm_s = 0.0
        self.spark = self.tracer = None
        self.setup_s = None
        self.samples: list[dict] = []

    def log(self, msg: str) -> None:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)

    def start_session(self):
        from xena_gdc_etl_spark.session import get_spark

        from perfbench.tracing import Tracer

        with self.setup_clock:
            t0 = time.perf_counter()
            self.spark = get_spark(
                app_name="perfbench",
                master=f"local[{TASK_SLOTS}]",
                shuffle_partitions=TASK_SLOTS,
            )
            self.spark.sparkContext.setLogLevel("ERROR")
            self.session_start_s = time.perf_counter() - t0
        self.tracer = Tracer(self.spark, self.trace)
        return self.spark

    def setup_done(self) -> None:
        from xena_gdc_etl_spark.operators import seams

        self.setup_s = self.setup_clock.seconds
        self.session_warm_s = self.setup_s - self.session_start_s
        self.setup_spans = len(self.tracer.spans)
        self.evictions_at_setup = seams.EVICTIONS

    def after_request(self) -> None:
        """Per-request reads of session-wide state (traced runs only)."""
        if not self.trace:
            return
        from xena_gdc_etl_spark.operators import seams

        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        self.samples.append({
            "evictions": seams.EVICTIONS,
            "rdds": sum(1 for i in infos if i.numCachedPartitions() > 0),
            "bytes": sum(i.memSize() + i.diskSize() for i in infos),
        })


def _make_inputs(workload: str, seed: int, data_dir: str) -> dict:
    from perfbench import fixtures

    if workload == "xena_serve":
        fixtures.write_tables(data_dir, seed, sf=SF, tables=XENA_TABLES)
        return {}
    if workload == "curation_serve":
        fixtures.write_tables(
            data_dir, seed, tables=CURATION_TABLES,
            n_documents=CURATION_DOCS, n_embeddings=CURATION_VECS,
        )
        return {}
    return fixtures.write_gdc_raw(
        data_dir, seed, ETL_PROJECTS, ETL_SAMPLES, ETL_FEATURES
    )


def _end_to_end(ctx: Context, obs: dict) -> dict:
    # No high percentile: a run times one ETL batch or one cycle of 8 or
    # 17 requests, too few to have ten beyond any percentile above the
    # median. No throughput either: with one client in a closed loop it is
    # the latency again. Both are on the info line, with the sample count.
    return {
        "setup_s": (ctx.setup_s, "s"),
        "op_p50_s": (statistics.median(obs["latencies"]), "s"),
        "peak_rss_mb": (ctx.peak_rss_mb, "MiB"),
    }


def _per_layer(ctx: Context, obs: dict) -> tuple[dict, dict]:
    """Per-layer metrics over the timed loop, each per operation (a query
    request, or an ETL batch) unless its unit says otherwise, and the
    per-query breakdown."""
    tr = ctx.tracer
    ops = max(obs["ops"], 1)
    timed = [s for s in tr.spans[ctx.setup_spans:] if s.layer != "request"]
    build = [s for s in timed if s.layer == "workload"]
    leaf = [s for s in timed if s.layer != "workload"]

    def per_op(spans, key="s", layer=None, name=None):
        spans = [
            s for s in spans
            if (layer is None or s.layer == layer) and (name is None or s.name == name)
        ]
        return tr.total(spans, key) / ops

    exec_s = per_op(leaf)
    m = {
        "session.start_s": (ctx.session_start_s, "s"),
        "session.warm_s": (ctx.session_warm_s, "s"),
        "workload.build_s": (per_op(build), "s/op"),
        "workload.build_jobs": (per_op(build, "jobs"), "count/op"),
        "catalyst.analysis_ms": (per_op(leaf, "analysis_ms"), "ms/op"),
        "catalyst.optimization_ms": (per_op(leaf, "optimization_ms"), "ms/op"),
        "catalyst.planning_ms": (per_op(leaf, "planning_ms"), "ms/op"),
        "exec.s": (exec_s, "s/op"),
        "exec.idle_s": (exec_s - per_op(leaf, "stage_active_s"), "s/op"),
    }
    for key, unit in (
        ("jobs", "count/op"), ("stages", "count/op"), ("tasks", "count/op"),
        ("executor_cpu_ms", "ms/op"), ("gc_ms", "ms/op"),
        ("shuffle_read_bytes", "B/op"), ("shuffle_write_bytes", "B/op"),
        ("spill_bytes", "B/op"),
    ):
        m[f"exec.{key}"] = (per_op(leaf, key), unit)
    m["arrow.python_nodes"] = (per_op(timed, "python_nodes"), "count/op")
    m["arrow.bytes_sent"] = (per_op(timed, "arrow_bytes_sent"), "B/op")
    m["arrow.bytes_received"] = (per_op(timed, "arrow_bytes_received"), "B/op")
    samples = ctx.samples
    cycles = ops / obs["cycle"]
    evictions = samples[-1]["evictions"] - ctx.evictions_at_setup if samples else 0
    m["seams.evictions"] = (evictions / cycles, "count/cycle")
    m["cache.rdds"] = (max((s["rdds"] for s in samples), default=0), "count")
    m["cache.bytes"] = (max((s["bytes"] for s in samples), default=0), "B")
    m["download.s"] = (per_op(leaf, layer="download"), "s/op")
    for key in ("files", "bytes", "errors"):
        m[f"download.{key}"] = (
            per_op(leaf, key, layer="download"), "B/op" if key == "bytes" else "count/op"
        )
    m["parse.build_jobs"] = (per_op(leaf, "jobs", layer="parse"), "count/op")
    m["export.s"] = (per_op(leaf, layer="export"), "s/op")
    m["export.jobs"] = (per_op(leaf, "jobs", layer="export"), "count/op")
    m["export.landed_scans"] = (per_op(leaf, "landed_scans", layer="export"), "count/op")
    m["merge_xena.s"] = (per_op(leaf, layer="merge_xena"), "s/op")
    m["xena_eql.s"] = (per_op(leaf, layer="xena_eql"), "s/op")
    for kind in ("GDC_phenotype", "survival"):
        m[f"dataset.{kind}_s"] = (per_op(leaf, layer="dataset", name=kind), "s/op")
    m["trace.self_s"] = (tr.self_seconds / ops, "s/op")
    m["trace.op_p50_s"] = (statistics.median(obs["latencies"]), "s")

    detail: dict[str, dict] = {}
    for s in timed:
        if s.layer not in ("workload", "exec"):
            continue
        d = detail.setdefault(s.name, {"n": 0})
        if s.layer == "workload":
            d["n"] += 1
        for key, value in ((f"{s.layer}_s", s.seconds),
                           (f"{s.layer}_jobs", s.counts.get("jobs", 0.0))):
            d[key] = d.get(key, 0.0) + value
    for d in detail.values():
        n = max(d.pop("n"), 1)
        for key in d:
            d[key] = round(d[key] / n, 4)
    return m, detail


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    # Executors are separate Python processes: they find the library and
    # this package through PYTHONPATH, whatever the working directory.
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    work_dir = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    data_dir = os.path.join(work_dir, "data")
    # All scratch (inputs, landed files, shuffle/local dirs, warehouse)
    # stays under the work directory.
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    # the CLI calls get_spark() again; it must keep the session's width
    os.environ["SPARK_GRAFT_CPUS"] = str(TASK_SLOTS)
    # The heap starts at its maximum (-Xms = -Xmx). Left to grow, the heap
    # was sized from GC pause times, and peak RSS moved by 12% from run to
    # run.
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={os.path.join(work_dir, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options -Xms{DRIVER_MEMORY} pyspark-shell"
    )

    import xena_gdc_etl_spark  # noqa: F401 - fail fast without the library

    from perfbench import etl, serve

    ctx = Context(args)
    real_stdout = sys.stdout
    try:
        t0 = time.perf_counter()
        plan = _make_inputs(args.workload, args.seed, data_dir)
        ctx.log(f"inputs generated in {time.perf_counter() - t0:.1f} s")
        sys.stdout = sys.stderr  # library prints never reach the result line
        if args.workload == "gdc_etl":
            obs = etl.run(ctx, plan, data_dir, os.path.join(work_dir, "etl"))
        elif args.workload == "xena_serve":
            obs = serve.run(ctx, serve.XENA_QUERIES, (), XENA_TABLES, data_dir)
        else:
            obs = serve.run(
                ctx, serve.CURATION_QUERIES, serve.CURATION_SHARED,
                CURATION_TABLES, data_dir,
            )
        jvm_pid = ctx.spark.sparkContext._jvm.ProcessHandle.current().pid()
        ctx.peak_rss_mb = _rss_mb(os.getpid()) + _rss_mb(jvm_pid)
        e2e = _end_to_end(ctx, obs)
        # the issue-named figures, each with its unit and sample count
        named = {
            "setup_s": e2e["setup_s"],
            "peak_rss_mb": e2e["peak_rss_mb"],
            "failed_frac": (obs["failed"] / obs["attempted"], "1"),
        }
        if args.workload == "gdc_etl":
            named["etl_batch_p50_s"] = e2e["op_p50_s"]
            named["etl_cells_per_s"] = (plan["cells"] / e2e["op_p50_s"][0], "1/s")
        else:
            named["query_p50_s"] = e2e["op_p50_s"]
            named["query_p95_s"] = (_percentile(obs["latencies"], 0.95), "s")
            named["queries_per_s"] = (obs["ops"] / obs["elapsed"], "1/s")
        info = {
            "workload": args.workload, "seed": args.seed, "nproc": os.cpu_count(),
            "master": ctx.spark.sparkContext.master,
            "spark": ctx.spark.version, "commit": _commit(),
            "samples": obs["ops"], "attempted": obs["attempted"],
            "named": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
        }
        if "by_query" in obs:
            info["query_s"] = {
                name: [round(x, 4) for x in xs] for name, xs in obs["by_query"].items()
            }
        if args.trace:
            metrics, detail = _per_layer(ctx, obs)
            info["per_query"] = detail
        else:
            metrics = e2e
    finally:
        sys.stdout = real_stdout
        if ctx.spark is not None:
            _stop(ctx.spark)
        shutil.rmtree(work_dir, ignore_errors=True)
    print(json.dumps(info, sort_keys=True))
    print(json.dumps({
        "correct": obs["failed"] == 0,
        "attempted": obs["attempted"],
        "failed": obs["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
