#!/usr/bin/env python
"""sf10 SPOT-LANE: 100× scaling check for the signature/pair tier
(round-10 verdict task 4).

§sf1-workload measures 10× exponents for the whole expensive tier; the
three WORST exponents there — shared_signatures_warm (0.82),
shared_lsh_pairs_warm (0.83), containment_pairs (0.78) — are exactly
the stages whose cost is dominated by shingle hashing and candidate
expansion, where a knee between 10× and 100× (a hot bucket crossing a
cap, a shuffle spilling) would stay invisible at 10×. This lane builds
a 100× (sf10-equivalent) structure-preserving DOCUMENTS fixture and
re-measures just those stages, reporting exponents at 100×:
e = log(t_100x / t_1x) / log(100).

Fixture: same discipline as scripts/sf1_workload.py but 100 copies, so
the per-copy Caesar rotation (only 26 bijective rotations) is replaced
by a per-copy AFFINE substitution j → (a·j + b) mod 26 with a coprime
to 26 — 312 distinct alphabet permutations, each bijective (within-copy
duplicate/shingle structure replicates EXACTLY; equal docs stay equal),
while cross-copy letter shingles almost never coincide (a composed
affine map sends copy i's shingles to strings that are corpus shingles
only by coincidence — the same "up to digits/punctuation" caveat as the
Caesar fixture, which is precisely the structure preservation the
exponent needs). doc_id offsets by i·STRIDE.

Min-of-2 lane (round-12): BOTH sides run every stage twice with a full
shared-cache reset between trials — the round-11 single-run lane showed
±0.1 exponent variance on the lsh stage (121s vs 50–59s across
identical-config repeats), and the exponents are load-bearing SURVEY §6
evidence, so they get the same best-of-N discipline as the sf0.1 gate.

Queries over the EVENTS table (cohort_retention & friends) trigger a
100× events fixture: user_id/event_id offset by i·STRIDE (per-user
group sizes constant — the TPC-H scaling model) and ts shifted by
i·3650 days (cross-copy time disjointness, same rationale as the sf1
lane's range-join fix: per-key temporal structure is invariant under a
constant per-copy shift).

Run: python scripts/sf10_spotlane.py [sf_dir] [work_dir] [extra_query ...]
Extra query names (any documents-only registry entry) run after the
default three stages; results MERGE into sf10_spotlane.json at the repo
root (a subset run never clobbers earlier rows).
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from pyspark.sql import functions as F  # noqa: E402

COPIES = 100
STRIDE = 10_000_000
SCALE = COPIES  # the fixture multiplies the 1× corpus by COPIES

_ALPHA = "abcdefghijklmnopqrstuvwxyz"
_COPRIME = [1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25]


def _affine_maps() -> "list[tuple[int, int]]":
    """All 312 bijective affine maps (a, b), identity first so copy 0
    is the original text."""
    maps = [(1, 0)]
    for a in _COPRIME:
        for b in range(26):
            if (a, b) != (1, 0):
                maps.append((a, b))
    return maps


def _affine_alphabet(a: int, b: int) -> "tuple[str, str]":
    dst = "".join(_ALPHA[(a * j + b) % 26] for j in range(26))
    return (_ALPHA + _ALPHA.upper(), dst + dst.upper())


def build_fixture(
    spark, sf_dir: str, work_dir: str, copies: int = COPIES
) -> None:
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    maps = _affine_maps()
    assert copies <= len(maps), (
        f"copies={copies} exceeds the {len(maps)} bijective affine maps — "
        "cross-copy shingles would collide (the same wrap hazard the sf1 "
        "fixture guards for Caesar at 26)"
    )
    parts = []
    for i in range(copies):
        a, b = maps[i]
        sel = []
        for c in docs.columns:
            col = F.col(c)
            if c == "doc_id":
                col = (col + F.lit(i * STRIDE)).alias(c)
            elif c == "text" and i > 0:
                src, dst = _affine_alphabet(a, b)
                col = F.translate(c, src, dst).alias(c)
            else:
                col = col.alias(c)
            sel.append(col)
        parts.append(docs.select(*sel))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out = out.withColumn("n_chars", F.length("text").cast("long"))
    out.repartition(64).write.mode("overwrite").parquet(
        os.path.join(work_dir, "documents.parquet")
    )


EVENTS_QUERIES = {
    "cohort_retention", "sessionize", "event_funnel", "asof_join",
    "rolling_avg", "rolling_avg_sharded", "events_window",
    "pivot_event_counts",
}

TS_SHIFT_DAYS = 3650


def build_events_fixture(spark, sf_dir: str, work_dir: str) -> None:
    events = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    parts = []
    for i in range(COPIES):
        sel = []
        for c in events.columns:
            col = F.col(c)
            if c in ("event_id", "user_id"):
                col = (col + F.lit(i * STRIDE)).alias(c)
            elif c == "ts" and i > 0:
                col = (
                    col + F.expr(f"INTERVAL {i * TS_SHIFT_DAYS} DAYS")
                ).alias(c)
            else:
                col = col.alias(c)
            sel.append(col)
        parts.append(events.select(*sel))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.repartition(64).write.mode("overwrite").parquet(
        os.path.join(work_dir, "events.parquet")
    )


EMB_QUERIES = {
    "embed_cosine_dup", "ann_ivf", "cosine_topk", "semantic_dedup",
    "ann_ivf_nprobe", "ann_recall_eval", "cluster_purity",
    "embedding_norm_outliers", "ann_ivf_pq", "ann_pq_recall_eval",
    "kmeans_round",
}


def _sign_pattern(i: int, d: int) -> "list[float]":
    """Deterministic ±1 pattern for copy i (md5 bits — ~half flipped)."""
    import hashlib

    bits = int.from_bytes(
        hashlib.md5(f"spotlane-emb-{i}".encode()).digest(), "big"
    )
    return [1.0 if (bits >> (j % 128)) & 1 else -1.0 for j in range(d)]


def build_embeddings_fixture(spark, sf_dir: str, work_dir: str) -> None:
    """100× embeddings: copy i>0 applies a SIGNED ROTATION — rotate the
    coordinate array by i mod d positions, then flip a deterministic
    ~half of the signs (md5-bit pattern per copy). Rationale, extending
    the sf1 lane's pure rotation (only d=64 distinct rotations, too few
    for 100 copies): a signed permutation is orthogonal, so intra-copy
    cosines — and therefore the τ-pair / top-k neighbor structure within
    each copy — replicate EXACTLY, while cross-copy cosines collapse to
    the ~N(0, 1/d) noise floor (copies sharing a rotation differ in ~32
    of 64 signs). vec_id offsets by i·STRIDE (STRIDE % 10 = 0 keeps the
    vec_id % 10 = 0 query-selection pattern per copy); label copied
    unchanged. The scaled-cell IVF rule (max(8, ceil(N/250)) centroids =
    the first vec_ids, all from copy 0 here) spreads foreign copies
    uniformly over cells by noise argmax — cells stay ≈250 rows, which
    is exactly the bounded-cell contract the 100× lane defends."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    d = len(emb.select("embedding").first()[0])
    # The noise-floor claim above holds only for energy-SPREAD vectors:
    # two copies sharing a rotation give cos = Σ ε_i (Rx)_i², which
    # approaches ±1 when one coordinate carries most of the energy
    # (near-one-hot), adding spurious cross-copy τ pairs and perturbing
    # the ×100 output invariants. Guard: the worst per-vector max-
    # coordinate energy share must stay far from 1 (isotropic Gaussians
    # at d=64 concentrate near 2·ln(d)/d ≈ 0.13; 0.5 is a loose cliff).
    worst_share = emb.select(
        F.max(
            F.expr(
                "aggregate(embedding, cast(0.0 as double),"
                " (m, x) -> greatest(m, cast(x as double) * x))"
                " / aggregate(embedding, cast(0.0 as double),"
                " (s, x) -> s + cast(x as double) * x)"
            )
        )
    ).first()[0]
    if worst_share is None or worst_share > 0.5:
        raise AssertionError(
            "embeddings fixture precondition violated: base vectors must"
            " be near-isotropic for signed-rotation copies to stay at the"
            f" cross-copy noise floor (worst max-coord energy share ="
            f" {worst_share}, limit 0.5)"
        )
    parts = []
    for i in range(COPIES):
        vid = (F.col("vec_id") + F.lit(i * STRIDE)).alias("vec_id")
        if i == 0:
            vec = F.col("embedding")
        else:
            r = i % d
            rotated = (
                F.concat(
                    F.slice("embedding", r + 1, d - r),
                    F.slice("embedding", 1, r),
                )
                if r
                else F.col("embedding")
            )
            signs = F.array(
                *[F.lit(s) for s in _sign_pattern(i, d)]
            )
            vec = F.zip_with(
                rotated, signs, lambda a, b: a * b
            ).cast("array<float>")
        parts.append(emb.select(vid, vec.alias("embedding"), "label"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.repartition(64).write.mode("overwrite").parquet(
        os.path.join(work_dir, "embeddings.parquet")
    )


TPCH_QUERIES = {"range_join", "postprocess_dedup"}  # orders/lineitem/supplier consumers


def build_tpch_fixture(spark, sf_dir: str, work_dir: str) -> None:
    """100× orders + lineitem: key offsets (i·STRIDE — divisible by 50,
    preserving range_join's o_orderkey % 50 = 0 interval selection) and
    per-copy date shifts (i·3650 days > the ~7-year TPC-H span) so the
    date-bin join keys are disjoint across copies — fan-out replicates
    exactly, same discipline as the events fixture."""
    specs = {
        "orders": ({"o_orderkey", "o_custkey"}, {"o_orderdate"}),
        "lineitem": (
            {"l_orderkey", "l_partkey", "l_suppkey"}, {"l_shipdate"},
        ),
        # postprocess_dedup joins lineitem→supplier on suppkey; the
        # copy-offset must match l_suppkey's. s_name repeats per copy,
        # which is safe for its DISTINCT: l_partkey is copy-offset, so
        # cross-copy rows stay distinct and output replicates ×COPIES.
        "supplier": ({"s_suppkey"}, set()),
    }
    for table, (id_shifts, ts_shifts) in specs.items():
        df = spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))
        parts = []
        for i in range(COPIES):
            sel = []
            for c in df.columns:
                col = F.col(c)
                if c in id_shifts:
                    col = (col + F.lit(i * STRIDE)).alias(c)
                elif c in ts_shifts and i > 0:
                    col = (
                        col + F.expr(f"INTERVAL {i * TS_SHIFT_DAYS} DAYS")
                    ).alias(c)
                else:
                    col = col.alias(c)
                sel.append(col)
            parts.append(df.select(*sel))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.repartition(64).write.mode("overwrite").parquet(
            os.path.join(work_dir, f"{table}.parquet")
        )


def _reset_caches(spark) -> None:
    """Between-trial reset: drop (and unpersist) the session-scoped
    shared tiers and every operator-internal seam so trial 2 re-pays the
    full build (a min-of-2 over WARM second runs would measure the
    cache, not the stage)."""
    from xena_gdc_etl_spark.operators.seams import release

    release(spark)
    spark.catalog.clearCache()


def main() -> None:
    from xena_gdc_etl_spark import workload as wl
    from xena_gdc_etl_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    work = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf10_spotlane"
    extra = sys.argv[3:]
    os.makedirs(work, exist_ok=True)

    spark = get_spark(
        app_name="sf10-spotlane", master="local[32]", shuffle_partitions=64
    )
    spark.sparkContext.setLogLevel("ERROR")

    # the no-extras default stage (containment_pairs) is a documents-
    # family query — fixture decisions must see it, or a warm-skipping
    # default run measures a stale/missing 100x documents fixture
    effective = extra or ["containment_pairs"]

    t0 = time.perf_counter()
    if "x100" in os.environ.get("SPOTLANE_SCALES", "x1,x100").split(","):
        if not os.environ.get("SPOTLANE_SKIP_WARMS") or any(
            q not in EVENTS_QUERIES and q not in TPCH_QUERIES
            and q not in EMB_QUERIES
            for q in effective
        ):
            build_fixture(spark, sf_dir, work)
        if any(q in EVENTS_QUERIES for q in effective):
            build_events_fixture(spark, sf_dir, work)
        if any(q in TPCH_QUERIES for q in effective):
            build_tpch_fixture(spark, sf_dir, work)
        if any(q in EMB_QUERIES for q in effective):
            build_embeddings_fixture(spark, sf_dir, work)
        print(json.dumps({"stage": "build_fixture", "copies": COPIES,
                          "sec": round(time.perf_counter() - t0, 2)}),
              flush=True)

    def consume(df) -> int:
        h = F.xxhash64(*[F.col(c) for c in df.columns])
        row = df.select(h.alias("__h")).agg(
            F.count("__h").alias("n"), F.bit_xor("__h")
        ).collect()[0]
        return row["n"]

    out_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..",
        "sf10_spotlane.json",
    )

    def flush(results: dict) -> None:
        # incremental merge-write after every stage: a 100×-scale trial
        # dying at minute 25 (the round-12 OOM) must not lose the rows
        # already measured
        computed = {}
        for name, r in results.items():
            rr = dict(r)
            if rr.get("x1", 0) > 0 and "x100" in rr:
                ratio = rr["x100"] / rr["x1"]
                rr["ratio"] = round(ratio, 2)
                rr["exponent"] = round(
                    math.log(max(ratio, 1e-9)) / math.log(SCALE), 3
                )
                if rr.get("rows_x1"):
                    rr["rows_ratio"] = round(
                        rr["rows_x100"] / rr["rows_x1"], 2
                    )
            computed[name] = rr
        try:
            with open(out_path) as fh:
                merged = dict(json.load(fh).get("results", {}))
        except (OSError, ValueError):
            merged = {}
        # DEEP merge per stage: a single-scale re-run (SPOTLANE_SCALES=x1
        # after a contended x1 side) must keep the other scale's fields
        for name, rr in computed.items():
            row = dict(merged.get(name, {}))
            row.update(rr)
            if row.get("x1", 0) > 0 and "x100" in row:
                ratio = row["x100"] / row["x1"]
                row["ratio"] = round(ratio, 2)
                row["exponent"] = round(
                    math.log(max(ratio, 1e-9)) / math.log(SCALE), 3
                )
                if row.get("rows_x1"):
                    row["rows_ratio"] = round(
                        row["rows_x100"] / row["rows_x1"], 2
                    )
            merged[name] = row
        with open(out_path, "w") as fh:
            json.dump(
                {"metric": "sf10_spotlane", "copies": COPIES,
                 "results": merged},
                fh, indent=1,
            )

    results: dict[str, dict] = {}
    scale_filter = os.environ.get("SPOTLANE_SCALES", "x1,x100").split(",")
    for scale, d, trials in (("x1", sf_dir, 2), ("x100", work, 2)):
        if scale not in scale_filter:
            continue
        for trial in range(trials):
            # min-of-2 over COLD trials: reset the shared caches + seams
            # so each trial re-pays the full warm-stage build (the warm
            # build IS the measured stage — same attribution as
            # bench.py; a warm second run would measure the cache)
            _reset_caches(spark)
            # SPOTLANE_SKIP_WARMS=1 skips the documents warm stages — an
            # events-only run (temporal family) must not pay minutes of
            # signature/LSH builds it never reads
            warm_stages = () if os.environ.get("SPOTLANE_SKIP_WARMS") else (
                ("shared_signatures_warm", wl._shared_signatures),
                ("shared_lsh_pairs_warm", wl._shared_lsh_pairs),
                ("shared_tf_warm", wl._shared_doc_tf),
            )
            if any(q in EMB_QUERIES for q in effective):
                # the embedding family's warm tier (assignment, τ-pairs)
                # gets its own attribution lines, same as the doc tier —
                # SPOTLANE_SKIP_WARMS does not skip these: they ARE two
                # of the lane's target stages
                warm_stages += (
                    ("shared_ivf_warm", wl._shared_ivf_assigned),
                    ("shared_pairs_warm", wl._shared_dup_pairs),
                )
            for label, fn in warm_stages:
                start = time.perf_counter()
                n = fn(spark, d).count()
                sec = round(time.perf_counter() - start, 3)
                r = results.setdefault(label, {})
                r[scale] = min(r.get(scale, float("inf")), sec)
                r[f"rows_{scale}"] = n
                print(json.dumps({"scale": scale, "trial": trial,
                                  "stage": label, "sec": sec, "rows": n}),
                      flush=True)
                flush(results)
            # extra names REPLACE the default containment stage (a spot
            # run for other queries must not re-pay its 100×-scale
            # minutes)
            for qname in effective:
                start = time.perf_counter()
                n = consume(wl.QUERIES[qname](spark, d))
                sec = round(time.perf_counter() - start, 3)
                r = results.setdefault(qname, {})
                r[scale] = min(r.get(scale, float("inf")), sec)
                r[f"rows_{scale}"] = n
                print(json.dumps({"scale": scale, "trial": trial,
                                  "stage": qname, "sec": sec, "rows": n}),
                      flush=True)
                flush(results)

    flush(results)
    print(json.dumps({"metric": "sf10_spotlane", "copies": COPIES,
                      "results": results}), flush=True)


if __name__ == "__main__":
    main()
