"""Serving-session soak: bounded memory over many mixed queries.

The per-session artifact store (operators/seams.py) bounds both the
operator-internal seams and the shared tiers (workload._shared_*) so a
LONG-LIVED serving session — one SparkSession answering queries for
hours — neither accumulates cached frames nor creeps in heap.
tests/test_seams.py pins the mechanics (cache-manager empty after
release, bounded store); this script measures the CLAIM: run ITERS
iterations of a seam-heavy query basket with the serving discipline
(``release(spark, "seam")`` between iterations; the shared tiers stay,
by design — they are bounded at one entry per tier), and record per
iteration:

- wall seconds for the basket (creep = a leak somewhere),
- post-GC JVM heap used (the cached-bytes + broadcast + py4j story),
- the number of JVM-cached entries and their bytes after release
  (``getRDDStorageInfo``) — the session-scoped WARM tiers legitimately
  stay resident (bounded at one entry per family, by design), so the
  invariant is BOUNDED, not empty: the count after iteration 1 never
  grows again,
- driver-process RSS (python-side object growth).

Pass criteria (reported, and asserted by tests/test_seams.py's soak
test at a smaller ITERS): cached-entry count flat from iteration 1 on;
heap and RSS last-3 means flat vs first-3 means (not growing); no
monotonic wall-time creep (first iterations include JIT).

Usage: python scripts/serve_soak.py [iters] [sf_dir]
Writes serve_soak.json in the repo root (the BASELINE §serve-soak
section publishes the table).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# The basket deliberately mixes the heavy seam users (posting-list /
# shingle / fingerprint seams), the shared-cache families (IVF, LSH,
# tf), an iterative-CC query, and plain relational rows — the shapes a
# serving deployment actually interleaves.
BASKET = [
    "q1_pricing_summary",
    "ngram_jaccard",
    "winnow_contamination",
    "containment_pairs",
    "source_jsd",
    "incremental_keep_decisions",
    "embed_cosine_dup",
    "ann_ivf",
    "top_docs_per_source",
    "contamination",
]

# --evict basket: EVERY seam-bearing registered query (12 seam
# registrations per iteration — winnow_contamination and
# incremental_keep_decisions register 2 each). The soak runs it with the
# seam store's byte budget at 0, a SEAM_CAP=8 FIFO, so eviction fires 4×
# per iteration, every iteration (at the default budget these few MB all
# stay held). This is the r13-documented eviction-broadcast-misplan risk
# run hot: each query consumes its plan before the next registers, so
# evicted seams are always already-consumed — the soak pins that the
# discipline holds under sustained eviction pressure (rows stable, no
# wall/heap creep, evictions growing linearly), not just under the
# default basket that stays below the cap.
EVICT_BASKET = [
    "ngram_jaccard",
    "dup_spans",
    "containment_pairs",
    "bigram_lm_score",
    "quality_buckets",
    "winnow_contamination",
    "vocab_overlap",
    "heavy_hitters",
    "source_jsd",
    "incremental_keep_decisions",
]


def jvm_heap_used_post_gc(spark) -> int:
    rt = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
    rt.gc()
    time.sleep(0.2)
    rt.gc()
    return int(rt.totalMemory() - rt.freeMemory())


def driver_rss_bytes() -> int:
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) * 1024
    return -1


def cached_storage(spark) -> "tuple[int, int]":
    """(# cached RDDs, total cached bytes) from the block manager —
    counts what is ACTUALLY resident, which is the warm tiers plus any
    seam the discipline failed to release."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return len(infos), sum(i.memSize() + i.diskSize() for i in infos)


def run_soak(spark, sf_dir: str, iters: int, basket: list | None = None) -> dict:
    from pyspark.sql import functions as F

    from xena_gdc_etl_spark.operators import seams
    from xena_gdc_etl_spark.workload import QUERIES

    # None means "use the default basket"; an explicitly passed empty list
    # is a caller error (the summary stats would divide by zero) — reject
    # it instead of silently substituting the default.
    if basket is not None and not basket:
        raise ValueError("basket must be None (default) or non-empty")
    basket = BASKET if basket is None else basket

    def consume(df) -> int:
        h = F.xxhash64(*[F.col(c) for c in df.columns])
        return df.select(h.alias("__h")).agg(F.count("__h")).collect()[0][0]

    iterations = []
    for it in range(iters):
        ev0 = seams.EVICTIONS
        t0 = time.perf_counter()
        rows = 0
        for name in basket:
            rows += consume(QUERIES[name](spark, sf_dir))
        wall = time.perf_counter() - t0
        released = seams.release(spark, "seam")
        n_cached, cached_bytes = cached_storage(spark)
        rec = {
            "iter": it,
            "wall_sec": round(wall, 3),
            "rows": rows,
            "seams_released": released,
            "seams_evicted": seams.EVICTIONS - ev0,
            "n_cached": n_cached,
            "cached_mb": round(cached_bytes / 2**20, 1),
            "jvm_heap_used_mb": round(jvm_heap_used_post_gc(spark) / 2**20, 1),
            "driver_rss_mb": round(driver_rss_bytes() / 2**20, 1),
        }
        iterations.append(rec)
        print(json.dumps(rec), flush=True)

    def mean(vals):
        return sum(vals) / len(vals)

    head = iterations[: min(3, len(iterations))]
    tail = iterations[-min(3, len(iterations)) :]
    summary = {
        "iters": iters,
        "sf_dir": sf_dir,
        "basket": basket,
        "seams_evicted_total": sum(r["seams_evicted"] for r in iterations),
        "cached_bounded": all(
            r["n_cached"] <= iterations[min(1, len(iterations) - 1)]["n_cached"]
            for r in iterations[1:]
        ),
        "n_cached_series": [r["n_cached"] for r in iterations],
        "rows_stable": len({r["rows"] for r in iterations}) == 1,
        "wall_head3_mean": round(mean([r["wall_sec"] for r in head]), 3),
        "wall_tail3_mean": round(mean([r["wall_sec"] for r in tail]), 3),
        "heap_head3_mean_mb": round(
            mean([r["jvm_heap_used_mb"] for r in head]), 1
        ),
        "heap_tail3_mean_mb": round(
            mean([r["jvm_heap_used_mb"] for r in tail]), 1
        ),
        "rss_head3_mean_mb": round(
            mean([r["driver_rss_mb"] for r in head]), 1
        ),
        "rss_tail3_mean_mb": round(
            mean([r["driver_rss_mb"] for r in tail]), 1
        ),
    }
    return {"summary": summary, "iterations": iterations}


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--evict"]
    evict = "--evict" in sys.argv[1:]
    iters = int(args[0]) if args else 30
    sf_dir = args[1] if len(args) > 1 else "/root/testdata/sf0.1"
    from xena_gdc_etl_spark.session import get_spark

    spark = get_spark(app_name="serve-soak")
    if evict:
        from xena_gdc_etl_spark.operators import seams

        seams._BUDGET_FRACTION = 0.0
    try:
        out = run_soak(
            spark, sf_dir, iters, EVICT_BASKET if evict else BASKET
        )
    finally:
        spark.stop()
    path = os.path.join(
        REPO, "serve_soak_evict.json" if evict else "serve_soak.json"
    )
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(out["summary"]))
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
