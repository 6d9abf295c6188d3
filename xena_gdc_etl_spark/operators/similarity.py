"""Similarity search over embedding columns.

Brute-force cosine top-k is the exact baseline; IVF (inverted-file) cell
search is the scale path: vectors are assigned to their nearest centroid
once, and queries only score vectors in their own cell — pruning the
candidate set by ~n_centroids× at 100 TB. Vector math runs as Arrow-batched
numpy (one BLAS matmul per batch via mapInPandas/applyInPandas) — measured
~20× faster than Catalyst higher-order functions, which are interpreted
per-element. The brute-force top-k operators (cosine, squared L2, PQ
ADC) share one broadcast-query batch kernel, :func:`_broadcast_topk`.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from xena_gdc_etl_spark.operators.partitioning import collect_at_most


def _safe_norms(m: np.ndarray) -> np.ndarray:
    """Row L2 norms with zeros replaced by 1.0 — a zero vector then keeps
    cosine 0.0 against everything instead of poisoning the matmul with NaN
    (NaN > threshold is False, but NaN also breaks top-k ordering).
    """
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    return norms


def _nearest_cells(
    vm: np.ndarray, cn: np.ndarray, nprobe: int = 1
) -> np.ndarray:
    """The IVF nearest-cell kernel: for each row of ``vm``, the positions
    in ``cn`` (unit centroid rows in ascending id order) of its
    ``nprobe`` nearest cells, nearest first, shape (n, nprobe) — rounded
    cosine, ties to the smaller id. ``vm`` is left as it is."""
    sims = np.round((vm / _safe_norms(vm)) @ cn.T, 6)
    if nprobe == 1:
        # the first max is the stable sort's first entry
        return np.argmax(sims, axis=1)[:, None]
    return np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]


def _first_k_per_query(
    qids: np.ndarray,
    mids: np.ndarray,
    scores: np.ndarray,
    k: int,
    score_col: str,
    descending: bool,
) -> pd.DataFrame:
    """The batch-local finish of the cell-pruned top-ks: drop
    self-matches, order each query's candidates by score (``descending``
    or ascending), then match_id ascending, and keep its first ``k``.
    It only selects rows; the scores come out as given."""
    keep = qids != mids
    qids, mids, scores = qids[keep], mids[keep], scores[keep]
    order = np.lexsort((mids, -scores if descending else scores, qids))
    qids, mids, scores = qids[order], mids[order], scores[order]
    # qids is sorted, so each row's rank is its distance from the first
    # row of its query
    rank = np.arange(len(qids)) - np.searchsorted(qids, qids)
    first = rank < k
    return pd.DataFrame(
        {"query_id": qids[first], "match_id": mids[first],
         score_col: scores[first]}
    )


# The query/centroid sides of the broadcast ANN operators are collected to
# the driver by design (they are the small side); this bound turns the
# silent driver OOM of an oversized side into an actionable error.
DEFAULT_MAX_BROADCAST_ROWS = 1 << 16

# Size floor for the matmul-family spread (see _spread_to_cores): frames
# whose known plan estimate is below this run in their scan's own
# partitioning. 4 MiB ≈ 16k d=64 double vectors — a single-core BLAS
# pass over that is ~ms, far below one repartition exchange + 32 Arrow
# task round-trips (A/B on the sf0.1 embedding frame: 0.71 s unspread
# vs 1.00 s spread). Read at call time, like
# partitioning.SPREAD_BYTES_PER_CORE.
SPREAD_MIN_MATMUL_BYTES = 4 * 1024 * 1024


def _collect_bounded(df: DataFrame, what: str, limit: int) -> list:
    """Collect a deliberately-small DataFrame, failing clearly (instead of
    an opaque driver OOM) when it exceeds ``limit`` rows."""
    rows = collect_at_most(df, limit)
    if rows is None:
        raise ValueError(
            f"{what} has more than {limit} rows — this side is collected "
            "to the driver and broadcast, so it must stay small; raise "
            "max_driver_rows only if the driver can really hold it"
        )
    return rows


class _CRow(NamedTuple):
    cid: int
    cv: "list[float]"


def _centroid_rows(
    centroids: "DataFrame | Sequence[tuple]",
    vec_col: str,
    centroid_id: str,
    max_driver_rows: int,
) -> "list":
    """Centroid state as driver rows: collect a DataFrame (bounded), or
    validate an already-driver-side sequence of (id, vector) tuples —
    the no-job fast path for callers that hold the state (see
    :func:`ivf_assign`)."""
    if isinstance(centroids, DataFrame):
        return _collect_bounded(
            centroids.filter(F.col(vec_col).isNotNull()).select(
                F.col(centroid_id).alias("cid"), F.col(vec_col).alias("cv")
            ),
            "the centroid side of ivf_assign",
            max_driver_rows,
        )
    if len(centroids) > max_driver_rows:
        raise ValueError(
            f"the centroid side of ivf_assign has more than "
            f"{max_driver_rows} rows — raise max_driver_rows only if the "
            "driver can really hold it"
        )
    return [_CRow(cid, vec) for cid, vec in centroids if vec is not None]


# Row-chunk bound for the brute-force top-k matmul: the (|Q|, chunk)
# candidate matrix stays bounded even at the bounded-collect query
# ceiling (65536 queries), independent of Arrow batch sizing.
TOPK_CHUNK_ROWS = 2048
# Block width for the two-level per-query threshold (see _broadcast_topk):
# the k-th best of the row's BLOCK EXTREMA is provably no better than the
# row's k-th best element, so thresholding on it keeps a small superset
# while reading the candidate matrix with plain vectorized maxes/mins
# instead of a per-row introselect.
TOPK_BLOCK = 16
# Id-hash slices per IVF cell in ivf_topk, so a hot cell spreads over
# this many tasks; results do not depend on it.
IVF_TOPK_SHARDS = 8


def _spread_to_cores(df: DataFrame, par: int) -> DataFrame:
    """Repartition ONLY when the plan says the scan underfills the cores.

    Compact vector files scan as a handful of partitions, so without a
    spread the Arrow matmul stages run on a fraction of the cluster. But
    an unconditional ``repartition`` is a full-corpus shuffle that a
    100 TB scan (thousands of input splits ≥ parallelism already) must
    never pay — the fill-aware, strictly plan-only underfill probe lives
    in operators/partitioning.py (partition COUNTS were the wrong
    signal; ``.rdd`` probes were unsafe under AQE).

    The Arrow matmul family has CONSTANT fan-out (output ≈ input, per-row
    work is a few hundred FLOPs), so unlike the 100-300× explode
    consumers it passes a size floor: below it the repartition exchange
    plus one Python-worker round trip per core costs more than the
    single-task BLAS it parallelizes (guide §2.4 — remove shuffles
    outright).
    """
    from xena_gdc_etl_spark.operators.partitioning import spread

    return spread(df, par, min_bytes=SPREAD_MIN_MATMUL_BYTES)


def _query_matrix(
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    what: str,
    max_driver_rows: int,
) -> "tuple[np.ndarray, np.ndarray]":
    """The broadcast query side of the top-k family as driver arrays:
    (int64 ids, float64 vector rows), collected bounded. Null vectors
    carry no geometry and are dropped (aggregate-style null semantics — a
    dirty ingest must not crash the plan); an empty side returns empty
    arrays, which every consumer turns into an empty result."""
    qrows = _collect_bounded(
        queries.filter(F.col(vec_col).isNotNull()).select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
        ),
        what,
        max_driver_rows,
    )
    q_ids = np.array([r.query_id for r in qrows], dtype=np.int64)
    return q_ids, np.array([r.qv for r in qrows], dtype=np.float64)


def _empty_topk(spark, score_col: str) -> DataFrame:
    # empty-in → empty-out: a filter that matches no queries must not
    # kill the pipeline (np.stack/argmax on empty raises AxisError)
    return spark.createDataFrame(
        [], f"query_id bigint, match_id bigint, {score_col} double, rank bigint"
    )


def _rank_topk(
    local: DataFrame, score_col: str, k: int, descending: bool
) -> DataFrame:
    """The global finish of every top-k operator: a row_number window per
    query over the batch-local candidates, ordered by the FINAL criterion
    (score in ``descending`` or ascending order, then match_id asc), cut
    at ``k``. The window only ever sees ≤ partitions×k-ish rows per
    query."""
    score = F.col(score_col).desc() if descending else F.col(score_col).asc()
    w = Window.partitionBy("query_id").orderBy(score, F.col("match_id").asc())
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "match_id",
            score_col,
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


class _TopkScorer(NamedTuple):
    """One metric of :func:`_broadcast_topk`, built once per task from the
    broadcast query matrix.

    - ``load(stacked)``: a batch's stacked vector column → corpus rows;
    - ``score(rows, out)``: fills ``out`` (|Q|, len(rows)) with candidate
      scores and returns the cut margin — the bound on how far a
      candidate score may sit from the exact one;
    - ``rescore(rows, q_idx, v_idx, scores)``: the exact, rounded values
      emitted for the surviving (query, row) cells;
    - ``dtype``: the candidate buffer's precision.
    """

    load: Callable[[np.ndarray], np.ndarray]
    score: Callable[[np.ndarray, np.ndarray], float]
    rescore: Callable[..., np.ndarray]
    dtype: type = np.float32


def _broadcast_topk(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    q_ids: np.ndarray,
    qm: np.ndarray,
    scorer: Callable[[np.ndarray], _TopkScorer],
    k: int,
    score_col: str,
    descending: bool,
) -> DataFrame:
    """Exact top-k of every broadcast query over the corpus under the
    scorer's metric, self-match excluded: the shared two-stage plan of
    :func:`cosine_topk`, :func:`sq_l2_topk` and :func:`pq_topk`.

    The small query side (``q_ids``, ``qm``) ships to every task; each
    Arrow batch of the (null-filtered) corpus is scored per
    ``TOPK_CHUNK_ROWS`` chunk by ``scorer`` and emits a SUPERSET of each
    query's batch-local top-k by the final criterion; :func:`_rank_topk`
    finishes over partitions×k-ish rows. The corpus never shuffles
    (beyond the underfill spread). A query id given on several rows lists
    each match once, at its best score over those rows. Output:
    (query_id, match_id, ``score_col``, rank).
    """
    spark = corpus.sparkSession
    if not len(q_ids):
        return _empty_topk(spark, score_col)
    bc = spark.sparkContext.broadcast((q_ids, qm))
    sink = -np.inf if descending else np.inf
    repeated_ids = len(np.unique(q_ids)) < len(q_ids)

    def _local_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Fully vectorized batch stage — no per-query Python loop: |Q|
        # grows with the corpus (10% rule), so at the 100× lane
        # (|Q|=20k) an O(n) mask + lexsort per query ran |Q|×chunks
        # Python-level lexsorts per partition and dominated the stage
        # (measured on cosine_topk). This stage only needs to emit a
        # SUPERSET of each query's batch-local top-k by the FINAL
        # criterion (rounded score, then id asc) — the global window
        # downstream applies that exact rule — so it emits every
        # candidate whose score reaches the k-th best per query (ties
        # included; an arbitrary argpartition tie-cut could drop the
        # smaller-id tie the exact rule keeps).
        # Bandwidth discipline (the 100x-lane-found knee at |Q|=20k,
        # N=200k): 32 concurrent workers each streaming a (|Q|, chunk)
        # float64 matrix several times saturate host DRAM — the solo-
        # fast paths (full-matrix round, argmax passes, per-row
        # introselect over float64) all degraded 25x under concurrency.
        # So the BLAS scorers run their candidate pass in FLOAT32 (half
        # the traffic) into one reused buffer, the per-query threshold
        # comes from a two-level BLOCK cut that reads the matrix once
        # with plain vectorized maxes/mins, and only the ~k survivors
        # per query are re-scored exactly in float64 and rounded.
        # Exactness: for any j, the j-th best of a row's block extrema
        # is no better than the row's j-th best element (the best j
        # blocks contain j distinct elements at least that good), so
        # cutting at that threshold widened by the scorer's margin
        # keeps a superset of the exact rounded top-k incl. ties.
        ids, qmat = bc.value
        load, score, rescore, dtype = scorer(qmat)
        buf = None
        for pdf in batches:
            if pdf.empty:
                continue
            vids_all = pdf[id_col].to_numpy(dtype=np.int64)
            rows_all = load(np.stack(pdf[vec_col].to_numpy()))
            for lo in range(0, len(vids_all), TOPK_CHUNK_ROWS):
                vids = vids_all[lo:lo + TOPK_CHUNK_ROWS]
                rows = rows_all[lo:lo + TOPK_CHUNK_ROWS]
                n = len(vids)
                if buf is None or buf.shape != (len(ids), n):
                    buf = np.empty((len(ids), n), dtype=dtype)
                margin = score(rows, buf)
                # self-match exclusion, vectorized: locate each query id
                # in this chunk's (unsorted) vid array via searchsorted
                # on an argsort permutation, then sink its cells.
                # left/right bounds cover EVERY occurrence of a
                # duplicated id (dirty ingest), not just the first —
                # a single-position sink would let the second copy of a
                # self row survive as a perfect match.
                order_v = np.argsort(vids)
                sv = vids[order_v]
                left = np.searchsorted(sv, ids, side="left")
                cnt = np.searchsorted(sv, ids, side="right") - left
                if cnt.any():
                    hit_q = np.repeat(np.arange(len(ids)), cnt)
                    starts = np.repeat(left, cnt)
                    offs = (
                        np.arange(int(cnt.sum()))
                        - np.repeat(np.cumsum(cnt) - cnt, cnt)
                    )
                    buf[hit_q, order_v[starts + offs]] = sink
                # & isfinite: a chunk where a duplicated query id leaves
                # fewer than k finite entries yields an infinite
                # threshold, and inf vs inf would re-admit the sunk self
                # rows — an exact-dup self copy would then rank #1,
                # violating the self-excluded contract.
                mask = np.isfinite(buf)
                if n > k:
                    nb = n // TOPK_BLOCK
                    if n % TOPK_BLOCK == 0 and nb > k:
                        blocks = buf.reshape(len(ids), nb, TOPK_BLOCK)
                        ends = (
                            blocks.max(axis=2) if descending
                            else blocks.min(axis=2)
                        )
                    else:
                        # ragged tail chunk: direct per-row introselect
                        # on the small remainder
                        ends, nb = buf, n
                    kth = nb - k if descending else k - 1
                    thr = np.partition(ends, kth, axis=1)[:, kth]
                    if descending:
                        mask &= buf >= (thr - margin)[:, None]
                    else:
                        mask &= buf <= (thr + margin)[:, None]
                q_idx, v_idx = np.nonzero(mask)
                out = pd.DataFrame(
                    {
                        "query_id": ids[q_idx],
                        "match_id": vids[v_idx],
                        score_col: rescore(rows, q_idx, v_idx, buf),
                    }
                )
                if repeated_ids:
                    # a query id given on several rows keeps each corpus
                    # row once, at its best score, as ivf_pq_topk does
                    out = (
                        out.assign(__v=v_idx)
                        .sort_values(score_col, ascending=not descending, kind="stable")
                        .drop_duplicates(["query_id", "__v"])
                        .drop(columns="__v")
                    )
                yield out

    local = _spread_to_cores(
        corpus.filter(F.col(vec_col).isNotNull()).select(id_col, vec_col),
        spark.sparkContext.defaultParallelism,
    ).mapInPandas(
        _local_topk, schema=f"query_id long, match_id long, {score_col} double"
    )
    return _rank_topk(local, score_col, k, descending)


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    max_driver_rows: int = DEFAULT_MAX_BROADCAST_ROWS,
) -> DataFrame:
    """Exact top-k by cosine for every query vector (self-match excluded).

    Two-stage top-k: the small query side is shipped to every task as a
    dense normalized matrix; each Arrow batch of the corpus computes all
    sims with one BLAS matmul and keeps its batch-local top-k per query
    (ordered by the FINAL criterion — rounded sim desc, id asc — so the
    stages compose exactly); a cheap global window over partitions×k rows
    finishes. The corpus never shuffles.
    """

    def _scorer(qm: np.ndarray) -> _TopkScorer:
        qmat = qm / _safe_norms(qm)
        qmat32 = qmat.astype(np.float32)
        # Unit vectors bound every |sim| by 1, so each float32 dot carries
        # deterministic error ≤ ~2·γ_d ≈ 2·d·eps32. The cut compares TWO
        # independently-erring float32 values (candidate vs threshold), so
        # the margin is 2× that — 4·d·eps32 — a deterministic superset
        # guarantee, not a statistical one; it scales with d past the 1e-3
        # floor so very wide embeddings (d ≳ 4k) can't outgrow a constant.
        margin = max(1e-3, 4.0 * qmat.shape[1] * float(np.finfo(np.float32).eps))

        def load(stacked: np.ndarray) -> np.ndarray:
            vm = stacked.astype(np.float64)
            vm /= _safe_norms(vm)
            return vm

        def score(vm: np.ndarray, out: np.ndarray) -> float:
            np.matmul(qmat32, vm.astype(np.float32).T, out=out)
            return margin

        def rescore(vm, q_idx, v_idx, _sims) -> np.ndarray:
            # exact float64 re-score of the ~k survivors per query — the
            # emitted value is identical to the all-float64 path
            return np.round(np.einsum("ij,ij->i", qmat[q_idx], vm[v_idx]), 6)

        return _TopkScorer(load, score, rescore)

    q_ids, qm = _query_matrix(
        queries, id_col, vec_col, "the query side of cosine_topk",
        max_driver_rows,
    )
    return _broadcast_topk(
        vectors, id_col, vec_col, q_ids, qm, _scorer, k, "sim",
        descending=True,
    )


def sq_l2_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    round_digits: int = 6,
    max_driver_rows: int = DEFAULT_MAX_BROADCAST_ROWS,
) -> DataFrame:
    """Exact top-k by SQUARED L2 distance (ascending) for every query
    vector, self-match excluded — the L2 sibling of :func:`cosine_topk`
    with the same two-stage shape: broadcast query matrix, one BLAS
    expansion per Arrow chunk (‖v‖² + ‖q‖² − 2·v·q), float32 candidate
    pass with a margined threshold cut, exact float64 re-score of the
    ~k survivors, then the global (rounded d2 asc, id asc) window.

    Built for the PQ recall gate's ground-truth side: its original
    zip_with form evaluated |Q|·N interpreted higher-order folds —
    measured e=1.26 SUPER-linear at the 100× lane (657 s: 800M folds) —
    where the contract is Θ(|Q|·N·d) FLOPs that belong in a GEMM. The
    candidate cut emits a SUPERSET of each query's batch-local top-k
    including 6-dp ties (float32 d2 error on O(100)-magnitude values is
    ≲1e-3, far under the 0.01 margin), and the downstream window applies
    the exact rule, so results are identical to the all-float64 path.
    """

    def _scorer(qm: np.ndarray) -> _TopkScorer:
        qmat32 = qm.astype(np.float32)
        q2_32 = np.einsum("ij,ij->i", qmat32, qmat32)
        # The float32 cancellation error of the ‖v‖²+‖q‖²−2·v·q expansion
        # scales with the squared norms (γ_d·magnitude), so a FIXED
        # candidate margin silently cuts true top-k members once ‖·‖²
        # outgrows the O(100) regime the old constant assumed. Each
        # expanded value carries deterministic error ≤ ~2·γ_d·(‖q‖²+‖v‖²),
        # and the cut compares TWO independently-erring values (candidate
        # vs threshold), so the margin is twice that:
        # 4·d·eps32·(max‖q‖² + max per-chunk ‖v‖²) — a deterministic
        # superset bound. The 1e-2 floor keeps the benign-case candidate
        # count unchanged.
        err = 4.0 * qm.shape[1] * float(np.finfo(np.float32).eps)
        q2max = float(q2_32.max())

        def score(vm: np.ndarray, out: np.ndarray) -> float:
            vm32 = vm.astype(np.float32)
            np.matmul(qmat32, vm32.T, out=out)
            out *= -2.0
            out += q2_32[:, None]
            v2_32 = np.einsum("ij,ij->i", vm32, vm32)
            out += v2_32[None, :]
            return max(1e-2, err * (q2max + float(v2_32.max())))

        def rescore(vm, q_idx, v_idx, _d2) -> np.ndarray:
            diff = qm[q_idx] - vm[v_idx]
            return np.round(np.einsum("ij,ij->i", diff, diff), round_digits)

        return _TopkScorer(lambda s: s.astype(np.float64), score, rescore)

    q_ids, qm = _query_matrix(
        queries, id_col, vec_col, "the query side of sq_l2_topk",
        max_driver_rows,
    )
    return _broadcast_topk(
        vectors, id_col, vec_col, q_ids, qm, _scorer, k, "d2",
        descending=False,
    )


def quantize_int8(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``scale = round(127/max|x|, 6)``
    (rounded so the factor is engine-portable), ``q_i = floor(x_i·scale+0.5)``
    (explicit half-up — identical in any IEEE engine). 4× smaller vectors for
    the ANN candidate stage; runs entirely in higher-order functions
    (aggregate/transform), no Python, no shuffle.
    """
    v = F.col(vec_col)
    maxabs = F.aggregate(
        v,
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, F.abs(x.cast("double"))),
    )
    scale = F.round(F.lit(127.0) / F.nullif(maxabs, F.lit(0.0)), 6)
    quant = F.transform(
        v, lambda x: F.floor(x.cast("double") * scale + F.lit(0.5)).cast("int")
    )
    return vectors.select(
        F.col(id_col),
        scale.alias("scale"),
        quant.alias("q"),
    )


def suggest_n_cells(
    corpus_rows: int,
    target_cell_rows: int = 4096,
    min_cells: int = 1,
    max_cells: int = DEFAULT_MAX_BROADCAST_ROWS,
) -> int:
    """Scale the IVF cell count with the corpus instead of fixing it.

    The within-cell pair stage of embedding dedup costs O(Σ cell²) total
    work ≈ O(rows²/n_cells); holding the PER-CELL population near
    ``target_cell_rows`` (n_cells ≈ rows/target) makes that stage
    O(rows × target) — linear in the corpus — which is the difference
    between a plan that survives a 100× scale-up and one that quietly
    goes quadratic (the round-9 BASELINE §sf1 residual: a fixed
    n_cells=8 means cells grow ∝ corpus). Clamped to
    [min_cells, max_cells]: the centroid matrix is collected/broadcast
    driver-side, so the ceiling is the bounded-collect broadcast cap.

    This is the dedup/assignment-cost knob; for pure ANN recall-vs-speed
    the classical sqrt-ish rules also apply — callers tuning recall
    should still run ``ann_recall_eval`` against their choice.
    """
    import math

    if corpus_rows < 0:
        raise ValueError("corpus_rows must be >= 0")
    if target_cell_rows <= 0:
        raise ValueError("target_cell_rows must be > 0")
    return max(min_cells, min(max_cells, math.ceil(corpus_rows / target_cell_rows)))


def ivf_assign(
    vectors: DataFrame,
    centroids: "DataFrame | Sequence[tuple]",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
    max_driver_rows: int = DEFAULT_MAX_BROADCAST_ROWS,
    nprobe: int = 1,
) -> DataFrame:
    """Assign every vector to its ``nprobe`` nearest centroids (rounded
    cosine; ties → smallest centroid id): one row per (vector, probed
    cell). The centroid matrix ships to every task; one matmul per Arrow
    batch, no shuffle and no per-row window.

    ``nprobe`` > 1 is the standard IVF search widening (probe several
    cells, not one) that trades candidate volume for recall. Feed the
    result as ``queries_assigned`` into :func:`ivf_topk`: members live in
    exactly one cell, so the per-cell candidate sets a multi-probed query
    sees are disjoint and the global top-k window merges them exactly.

    ``centroids`` may be a DataFrame (collected here, bounded) or a
    driver-side sequence of ``(centroid_id, vector)`` tuples. The matrix
    ends up on the driver either way — trained centroid state IS
    driver-sized by contract — so a caller that already holds the rows
    (a literal init state, a trainer's previous round) skips the
    limit+collect round trip entirely: that collect is a whole Spark job
    whose fixed cost dominates small-state callers (guide §5 — keep
    driver work off the query path).
    """
    spark = vectors.sparkSession
    # null vectors/centroids are dropped, not crashed on (see cosine_topk)
    vectors = vectors.filter(F.col(vec_col).isNotNull())
    crows = _centroid_rows(centroids, vec_col, centroid_id, max_driver_rows)
    in_schema = vectors.select(id_col, vec_col).schema
    out_schema = StructType(
        [
            in_schema[id_col],
            StructField(centroid_id, LongType()),
            in_schema[vec_col],
        ]
    )
    if not crows:
        # empty-in → empty-out: an empty centroid frame (empty corpus
        # upstream) must not crash with a numpy AxisError mid-pipeline
        return spark.createDataFrame([], out_schema)
    # sorted by centroid id: _nearest_cells breaks ties by position
    crows.sort(key=lambda r: r.cid)
    c_ids = np.array([r.cid for r in crows], dtype=np.int64)
    cm = np.array([r.cv for r in crows], dtype=np.float64)
    cn = cm / _safe_norms(cm)
    bc = spark.sparkContext.broadcast((c_ids, cn))

    def _assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, cmat = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            vm = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            cells = _nearest_cells(vm, cmat, nprobe)
            width = cells.shape[1]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy().repeat(width),
                    centroid_id: ids[cells].reshape(-1),
                    vec_col: pdf[vec_col].to_numpy().repeat(width),
                }
            )

    selected = _spread_to_cores(
        vectors.select(id_col, vec_col),
        spark.sparkContext.defaultParallelism,
    )
    return selected.mapInPandas(_assign, schema=out_schema)


def ivf_topk(
    assigned: DataFrame,
    queries_assigned: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
    k: int = 5,
) -> DataFrame:
    """Approximate top-k: score only vectors sharing the query's cell.
    The join key is the centroid id — candidate pruning happens in the join
    itself, which is the whole point of IVF at scale. ``queries_assigned``
    may carry several cells per query (``ivf_assign(..., nprobe=n)``).

    Cells are additionally SUB-SHARDED (deterministic id-hash into
    ``IVF_TOPK_SHARDS`` slices, cell queries replicated to every slice)
    so a hot cell never lands in one task: local top-k per (cell, shard),
    then a global window over ≤ shards×k rows per query. Exact w.r.t. the
    unsharded form — same candidate set, same rounding, same
    (sim desc, id) tiebreak — so results are shard-count-invariant.
    """
    n_shards = IVF_TOPK_SHARDS
    q_keyed = queries_assigned.select(
        F.col(centroid_id), F.col(id_col).alias("__qid"), F.col(vec_col)
    )
    # members keep their own shard; cell queries replicate to every shard
    members = assigned.select(
        F.col(centroid_id),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_shards)).alias("__shard"),
        F.col(id_col),
        F.col(vec_col),
        F.lit(False).alias("is_query"),
    )
    replicas = q_keyed.withColumn(
        "__shard", F.explode(F.sequence(F.lit(0), F.lit(n_shards - 1)))
    ).select(
        F.col(centroid_id),
        F.col("__shard").cast("bigint"),
        F.col("__qid").alias(id_col),
        F.col(vec_col),
        F.lit(True).alias("is_query"),
    )
    cells = members.unionByName(replicas)

    def _slice_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        qmask = pdf["is_query"].to_numpy()
        if qmask.all() or not qmask.any():
            return pd.DataFrame(columns=["query_id", "match_id", "sim"])
        vids = pdf[id_col].to_numpy(dtype=np.int64)
        vm = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        vm /= _safe_norms(vm)
        sims = np.round(vm[~qmask] @ vm[qmask].T, 6)  # (n_members, n_q)
        n_members, n_q = sims.shape
        return _first_k_per_query(
            np.tile(vids[qmask], n_members), vids[~qmask].repeat(n_q),
            sims.reshape(-1), k, "sim", descending=True,
        )

    local = (
        cells.groupBy(centroid_id, "__shard")
        .applyInPandas(
            _slice_topk,
            schema=StructType(
                [
                    StructField("query_id", LongType()),
                    StructField("match_id", LongType()),
                    StructField("sim", DoubleType()),
                ]
            ),
        )
    )
    return _rank_topk(local, "sim", k, descending=True)


def _cell_mean_agg(
    assigned: DataFrame,
    centroid_id: str = "centroid_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Element-wise per-cell mean of the raw vectors — the shared round
    body of :func:`ivf_train` / :func:`ivf_train_step`. Returns one row
    per NON-EMPTY cell: (centroid_id, n_members bigint, __mean
    array<double>).

    A ``mapInPandas`` partial emits at most one (cell, count,
    sum-vector) row per cell per batch, folded per cell by an
    ``applyInPandas`` over the tiny partial set (≤ n_partitions rows per
    cell, k cells total). The vector stays ONE array column, so the plan
    does not grow with d: one ``avg`` aggregate per dimension cost more
    to build than it saved in execution at every measured size (BASELINE
    §mean-path-r10). Sum-then-divide in doubles; re-partitioning the
    input re-associates the fold only at ulp level, absorbed by the
    trainers' round-6 output contract.
    """
    partial_schema = StructType(
        [
            StructField(centroid_id, LongType()),
            StructField("__n", LongType()),
            StructField("__sum", ArrayType(DoubleType())),
        ]
    )

    def _partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            vm = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            cids = pdf[centroid_id].to_numpy(dtype=np.int64)
            uniq = np.unique(cids)
            sums = [vm[cids == c].sum(axis=0).tolist() for c in uniq]
            yield pd.DataFrame(
                {
                    centroid_id: uniq,
                    "__n": [int((cids == c).sum()) for c in uniq],
                    "__sum": sums,
                }
            )

    fold_schema = StructType(
        [
            StructField(centroid_id, LongType()),
            StructField("n_members", LongType()),
            StructField("__mean", ArrayType(DoubleType())),
        ]
    )

    def _fold(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        n = int(pdf["__n"].sum())
        s = np.stack(pdf["__sum"].to_numpy()).astype(np.float64).sum(axis=0)
        return pd.DataFrame(
            {
                centroid_id: [int(key[0])],
                "n_members": [n],
                "__mean": [(s / n).tolist()],
            }
        )

    return (
        assigned.select(centroid_id, vec_col)
        .mapInPandas(_partials, schema=partial_schema)
        .groupBy(centroid_id)
        .applyInPandas(_fold, schema=fold_schema)
    )


def ivf_train(
    vectors: DataFrame,
    k: int = 8,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
) -> DataFrame:
    """Train IVF centroids with Lloyd's k-means — deterministic for a
    fixed input partitioning: init = the ``k`` smallest-id vectors
    (reproducible, no RNG), fixed ``iterations`` (no data-dependent
    stopping), cosine assignment with the same rounding/tiebreak as
    ``ivf_assign``. Re-partitioning the input re-associates the per-cell
    mean fold, so centroids agree only to fp-association (ulp) level
    across different partitionings.

    Per round: one broadcast of the k×d centroid matrix + one matmul per
    Arrow batch (assignment), then one partial-aggregated groupBy for the
    per-cell mean, COLLECTED as k×d floats and re-emitted as literal
    values for the next round. Collecting the (bounded, k rows × d
    doubles) means each round is load-bearing, not convenience: an
    earlier version threaded the new centroids through as a DataFrame
    join against the previous frame, so round N's centroid lineage
    contained rounds 1..N-1's aggregation subtrees and each round's
    centroid collect re-executed EVERY prior round's corpus pass —
    O(iterations²) scans. With literal re-emission each round runs
    exactly one corpus pass and the driver only ever holds k×d floats
    (doubles round-trip the driver exactly, so results are bit-identical
    to the joined form for a fixed partitioning).
    """
    vectors = vectors.filter(F.col(vec_col).isNotNull())  # nulls dropped
    init = (
        vectors.orderBy(id_col)
        .limit(k)
        .select(F.col(vec_col))
        .collect()
    )
    if len(init) < k:
        raise ValueError(f"ivf_train needs at least {k} vectors, got {len(init)}")
    # centroid_id → vector, maintained driver-side (k×d floats)
    cents: dict[int, list] = {i: list(r[0]) for i, r in enumerate(init)}

    def _centroid_rows_sorted() -> list:
        return [
            (int(i), [float(x) for x in v]) for i, v in sorted(cents.items())
        ]

    def _centroid_frame() -> DataFrame:
        from xena_gdc_etl_spark.operators.partitioning import local_rows_df

        return local_rows_df(
            vectors.sparkSession,
            _centroid_rows_sorted(),
            StructType(
                [
                    StructField(centroid_id, LongType()),
                    StructField(vec_col, ArrayType(DoubleType())),
                ]
            ),
        )

    for _ in range(iterations):
        # the state is already driver-side — hand ivf_assign the rows
        # instead of a frame it would pay a limit+collect job to read back
        assigned = ivf_assign(
            vectors,
            _centroid_rows_sorted(),
            id_col=id_col,
            vec_col=vec_col,
            centroid_id=centroid_id,
        )
        # element-wise mean per cell (_cell_mean_agg's Arrow (sum, count)
        # partial); the collect is k rows of d doubles — index state,
        # never data
        rows = _cell_mean_agg(assigned, centroid_id, vec_col).collect()
        for r in rows:
            # a cell that attracted no vectors has no row and keeps its
            # previous centroid instead of silently vanishing
            cents[r[centroid_id]] = list(r["__mean"])
    return _centroid_frame()


def norm_outliers(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    z_threshold: float = 2.0,
) -> DataFrame:
    """Embedding health screen: per-vector L2 norm, its z-score against
    the corpus norm distribution, and an outlier flag (|z| > threshold).
    Collapsed/exploded embeddings (near-zero or huge norms — encoder
    failures, wrong preprocessing) are the vector-side analog of the
    text quality filters and should be screened before dedup/ANN, where
    they distort cells and cosine thresholds.

    Plan: one scan computing the norm (codegen higher-order aggregate,
    no Python), a 1-row mean/stddev aggregate broadcast back, zero
    shuffles of the corpus. stddev is the SAMPLE one (stddev_samp) —
    matched exactly by the oracle.
    """
    e = F.col(vec_col).cast("array<double>")
    norm = F.sqrt(
        F.aggregate(e, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    with_norm = vectors.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col), norm.alias("__norm")
    )
    stats = with_norm.agg(
        F.avg("__norm").alias("__mu"),
        F.stddev_samp("__norm").alias("__sd"),
    )
    z = (F.col("__norm") - F.col("__mu")) / F.col("__sd")
    return with_norm.join(F.broadcast(stats)).select(
        F.col(id_col),
        F.round("__norm", 6).alias("norm"),
        F.round(z, 6).alias("z"),
        (F.abs(z) > z_threshold).cast("int").alias("is_outlier"),
    )


def ivf_train_step(
    vectors: DataFrame,
    centroids: "DataFrame | Sequence[tuple]",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
) -> DataFrame:
    """ONE Lloyd round under a FIXED centroid state, returned as a
    DataFrame — the per-round body of :func:`ivf_train` factored out so
    the trainer's numerics can be oracle-gated: assignment (rounded-6
    cosine, smallest-centroid-id tiebreak — ``ivf_assign``) followed by
    the element-wise per-cell mean of the RAW vectors, all
    SQL-expressible once the centroid state is frozen. Cells that
    attract no vectors keep their previous centroid (``ivf_train``'s
    keep-previous rule) with ``n_members = 0``.

    ``centroids``: a DataFrame, or a driver-side sequence of
    ``(centroid_id, vector)`` tuples — same contract and same result as
    :func:`ivf_assign`; the sequence form skips the collect job.

    Output: (centroid_id, n_members, ``vec_col`` = updated centroid).
    Fully distributed — one broadcast-matmul assignment pass + one
    partial-aggregated groupBy; nothing corpus-sized reaches the driver.
    """
    if isinstance(centroids, DataFrame):
        prev = centroids.select(
            F.col(centroid_id),
            F.col(vec_col).cast("array<double>").alias("__prev"),
        )
    else:
        # driver-side state (see ivf_assign): no collect job for the
        # assignment, and the keep-previous join side becomes a ONE-slice
        # local frame — a k-slice default would cost a task per core in
        # the broadcast-build job for k tiny rows. None vectors are
        # dropped first, as _centroid_rows does for the assignment.
        centroids = [(c, v) for c, v in centroids if v is not None]
        if not centroids:
            raise ValueError(
                "ivf_train_step needs at least one non-None centroid "
                "vector; the centroid sequence is empty or all-None"
            )
        from xena_gdc_etl_spark.operators.partitioning import local_rows_df

        spark = vectors.sparkSession
        prev = local_rows_df(
            spark,
            [(int(c), [float(x) for x in v]) for c, v in centroids],
            f"{centroid_id} long, __prev array<double>",
        )
    assigned = ivf_assign(
        vectors, centroids, id_col=id_col, vec_col=vec_col,
        centroid_id=centroid_id,
    )
    agg = _cell_mean_agg(assigned, centroid_id, vec_col)
    return (
        prev
        .join(agg, centroid_id, "left")
        .select(
            F.col(centroid_id),
            F.coalesce("n_members", F.lit(0)).cast("long").alias(
                "n_members"
            ),
            F.when(F.col("n_members").isNotNull(), F.col("__mean"))
            .otherwise(F.col("__prev"))
            .alias(vec_col),
        )
    )


# One cap-configured notice per process (INFO): see cosine_dup_pairs.
_CAP_NOTICE_LOGGED = False


def capped_cell_count(
    assigned: DataFrame,
    max_cell_size: int,
    centroid_id: str = "centroid_id",
) -> int:
    """Number of IVF cells whose membership exceeds ``max_cell_size`` —
    the on-demand accounting for :func:`cosine_dup_pairs`'s cap opt-out
    (the pairs plan itself stays action-free). One map-side-partial
    groupBy reduced to a single driver row.
    """
    return (
        assigned.groupBy(centroid_id)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > max_cell_size)
        .count()
    )


def cosine_dup_pairs(
    assigned: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
    threshold: float = 0.95,
    max_cell_size: int | None = None,
    block_size: int = 10_000,
) -> DataFrame:
    """Embedding near-duplicate pairs: cosine ≥ threshold, candidates limited
    to vectors sharing an IVF cell (bucketed, not global O(n²)).

    Hot cells are SUB-SHARDED, not dropped: a cell with n > ``block_size``
    members splits into ``nb = ceil(n/block_size)`` deterministic id-hash
    blocks and each (block_i ≤ block_j) pair becomes its own task —
    triangle tasks for i == j, cross tasks otherwise — so every task
    scores at most ~2·block_size vectors while the PAIR SET stays exactly
    the uncapped one (near-duplicates concentrate in hot cells, which is
    precisely where a fail-open drop would un-deduplicate). The total
    O(n²/…) sim count is inherent to exact pairing — for degenerate
    mega-cells re-train a finer index rather than raising block counts.

    ``max_cell_size`` is an optional TOTAL cap for deliberate cost
    ceilings: cells above it are excluded before pairing, and — per the
    no-silent-caps convention — the number of dropped cells is logged at
    WARNING (callers that need the count can pre-aggregate sizes). With
    the default ``None`` the operator is exact and matches a caps-free
    oracle regardless of cell-size distribution.
    """
    out_schema = StructType(
        [
            StructField("a", LongType()),
            StructField("b", LongType()),
            StructField("sim", DoubleType()),
        ]
    )

    def _block_pairs(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        bi, bj = int(key[1]), int(key[2])
        vids = pdf[id_col].to_numpy(dtype=np.int64)
        vm = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        vm /= _safe_norms(vm)
        if bi == bj:
            sims = np.round(vm @ vm.T, 6)
            iu, ju = np.triu_indices(len(vids), k=1)
            li, ri = vids[iu], vids[ju]
            vals = sims[iu, ju]
        else:
            left = pdf["__b"].to_numpy() == bi
            sims = np.round(vm[left] @ vm[~left].T, 6)
            iu, ju = np.nonzero(np.ones_like(sims, dtype=bool))
            li, ri = vids[left][iu], vids[~left][ju]
            vals = sims[iu, ju]
        # canonical (a < b) orientation regardless of row order in the cell
        ai, bi_ = np.minimum(li, ri), np.maximum(li, ri)
        keep = vals >= threshold
        return pd.DataFrame({"a": ai[keep], "b": bi_[keep], "sim": vals[keep]})

    cells = assigned.select(centroid_id, id_col, vec_col)
    sizes = cells.groupBy(centroid_id).agg(F.count(F.lit(1)).alias("__n"))
    if max_cell_size is not None:
        # Lazy accounting: no job at construction time (plan building must
        # stay action-free — the former eager count here ran a full
        # corpus aggregation per call just to log). Configuring the cap is
        # NOT a problem by itself, so this logs at INFO, once per process
        # — WARNING is reserved for an actual drop, which only a job can
        # observe; callers wanting that signal call
        # :func:`capped_cell_count` (one bounded groupBy) before/after the
        # run. Sub-sharding is the default path precisely so this opt-out
        # is rarely used.
        import logging

        global _CAP_NOTICE_LOGGED
        if not _CAP_NOTICE_LOGGED:
            _CAP_NOTICE_LOGGED = True
            logging.getLogger(__name__).info(
                "cosine_dup_pairs: max_cell_size=%d configured — cells "
                "over the cap are excluded from pairing (fail-open for "
                "dedup); call capped_cell_count() for the actual dropped-"
                "cell count; the default sub-sharding path "
                "(max_cell_size=None) pairs every cell exactly",
                max_cell_size,
            )
        sizes = sizes.filter(F.col("__n") <= max_cell_size)
    nb = F.greatest(
        F.lit(1), F.ceil(F.col("__n") / F.lit(block_size))
    ).cast("int")
    sized = cells.join(
        F.broadcast(sizes.select(centroid_id, nb.alias("__nb"))), centroid_id
    )
    blocked = sized.withColumn(
        "__b", F.pmod(F.xxhash64(F.col(id_col)), F.col("__nb")).cast("int")
    )
    # replicate each vector to every (its block, partner block) task key;
    # replication factor = nb per vector, 1 when the cell fits one block
    tasks = (
        blocked.withColumn(
            "__t", F.explode(F.sequence(F.lit(0), F.col("__nb") - 1))
        )
        .withColumn("__bi", F.least("__b", "__t"))
        .withColumn("__bj", F.greatest("__b", "__t"))
    )
    return tasks.groupBy(centroid_id, "__bi", "__bj").applyInPandas(
        _block_pairs, schema=out_schema
    )


def semantic_dedup(
    assigned: DataFrame,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
    pairs: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al., 2023): vectors
    whose embeddings are near-identical (cosine ≥ τ within an IVF cell)
    form clusters; one representative per cluster survives.

    Plan: candidate pairs come cell-bucketed from ``cosine_dup_pairs``
    (never global O(n²); hot cells sub-shard into block-pair tasks, so
    the pair set is exact and matches a caps-free oracle); clusters are
    ``connected_components`` (dedup.py) over the τ-pair graph itself —
    a union-find on the driver under its measured edge cap, the
    alternating-star contraction above it. The keep decision (smallest id
    represents the cluster) is a projection off the labels, not a
    per-cluster window.

    Returns (id, cluster_id, keep ∈ {0,1}); singletons keep themselves.

    ``pairs`` injects an already-materialized τ-pair frame (e.g. the
    session-scoped shared cache in workload.py) so dedup variants that
    share candidate generation don't recompute it; when omitted the pairs
    are computed here. CONTRACT: an injected frame is used as-is — the
    ``threshold``/column arguments describe only the self-computed path,
    and nothing can validate that an injected frame was built at the same
    τ, so the caller owns that consistency (the workload cache keys on
    (sf_dir, τ) for exactly this reason).
    """
    from xena_gdc_etl_spark.operators.dedup import connected_components

    if pairs is None:
        pairs = cosine_dup_pairs(
            assigned, id_col=id_col, vec_col=vec_col,
            centroid_id=centroid_id, threshold=threshold,
        )
    labels = connected_components(pairs, assigned.select(id_col), id_col=id_col)
    return labels.select(
        F.col(id_col),
        F.col("cluster_id"),
        (F.col("cluster_id") == F.col(id_col)).cast("bigint").alias("keep"),
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): the memory side of the IVF-PQ layout that makes
# billion-vector ANN feasible — each d-dim float vector compresses to m
# uint8 codes (one per subspace), and query-time distances come from an
# m×k lookup table (asymmetric distance computation, ADC) instead of
# touching raw vectors. Jégou et al., "Product Quantization for Nearest
# Neighbor Search", TPAMI 2011 (public method).
# ---------------------------------------------------------------------------


def _pq_codes(vm: np.ndarray, books: "list[np.ndarray]") -> np.ndarray:
    """Nearest-subcentroid codes, (n, m) int32: per subspace the argmin
    of the rounded-9 squared distance (first min ⇒ smallest id)."""
    sub = books[0].shape[1]
    codes = np.zeros((len(vm), len(books)), dtype=np.int32)
    for j, book in enumerate(books):
        sv = vm[:, j * sub : (j + 1) * sub]
        d2 = ((sv[:, None, :] - book[None, :, :]) ** 2).sum(axis=2)
        codes[:, j] = np.argmin(np.round(d2, 9), axis=1)
    return codes


def _pq_accumulate(
    vm: np.ndarray, books: "list[np.ndarray]", sums: np.ndarray,
    counts: np.ndarray,
) -> None:
    """Add each subvector of ``vm`` to its nearest subcentroid's running
    (sum, count) — ``sums`` (m, k, sub) and ``counts`` (m, k), in place."""
    codes = _pq_codes(vm, books)
    m, k, sub = sums.shape
    for j in range(m):
        sv = vm[:, j * sub : (j + 1) * sub]
        for c in range(k):
            mask = codes[:, j] == c
            if mask.any():
                sums[j, c] += sv[mask].sum(axis=0)
                counts[j, c] += int(mask.sum())


def _lloyd_fold(
    vectors: DataFrame,
    keys: "tuple[str, ...]",
    sub: int,
    state,
    partial: Callable[..., list],
) -> "list[tuple[tuple, np.ndarray]]":
    """One Lloyd round's (sum, count) fold, shared by the PQ trainers.
    ``state`` is broadcast; ``partial(state, batches)`` returns one task's
    ``(*keys, n, s0, …, s{sub-1})`` tuples — a group's member count and
    the sum of its members' ``sub``-wide segments — which one
    partial-aggregated groupBy sums per key and collects (groups × sub
    doubles, never rows). Returns ``(key tuple, mean segment)`` for each
    group with members: an empty group has no mean, so the caller keeps
    its previous centroid."""
    sums = [f"s{i}" for i in range(sub)]
    cols = [*keys, "n", *sums]
    schema = StructType(
        [StructField(c, LongType()) for c in (*keys, "n")]
        + [StructField(s, DoubleType()) for s in sums]
    )
    bc = vectors.sparkSession.sparkContext.broadcast(state)

    def _partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        yield pd.DataFrame(partial(bc.value, batches), columns=cols)

    rows = (
        vectors.mapInPandas(_partials, schema=schema)
        .groupBy(*keys)
        .agg(F.sum("n").alias("n"), *[F.sum(s).alias(s) for s in sums])
        .collect()
    )
    bc.destroy()
    n_keys = len(keys)
    return [
        (tuple(r[:n_keys]), np.array(r[n_keys + 1:]) / r["n"])
        for r in rows
        if r["n"] > 0
    ]


def pq_train(
    vectors: DataFrame,
    m: int = 4,
    k: int = 16,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[np.ndarray]:
    """Train per-subspace codebooks with deterministic Lloyd's k-means
    (same determinism contract as ``ivf_train``: smallest-id init, fixed
    iterations, first-min tiebreak). Returns ``m`` arrays of shape (k,
    d/m) on the driver — codebooks are k·d floats TOTAL (kilobytes), the
    one piece of ANN state that is *supposed* to live driver-side and
    broadcast.

    Per round each subspace needs only (sum, count) per centroid — one
    partial-aggregated pass over the corpus computes ALL subspaces'
    assignments and sums inside Arrow batches; the driver folds m×k
    running sums, never rows.
    """
    vectors = vectors.filter(F.col(vec_col).isNotNull())  # nulls dropped
    probe = vectors.select(vec_col).first()
    if probe is None:
        raise ValueError(
            f"pq_train needs at least one non-null '{vec_col}' vector; "
            "input is empty or all-null"
        )
    dim = len(probe[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m

    init_rows = (
        vectors.select(id_col, vec_col).orderBy(id_col).limit(k).collect()
    )
    if len(init_rows) < k:
        raise ValueError(f"need at least k={k} vectors, got {len(init_rows)}")
    books = [
        np.array([r[1][j * sub : (j + 1) * sub] for r in init_rows])
        for j in range(m)
    ]

    def _partial(codebooks: list, batches: Iterator[pd.DataFrame]) -> list:
        sums = np.zeros((m, k, sub))
        counts = np.zeros((m, k), dtype=np.int64)
        for pdf in batches:
            if pdf.empty:
                continue
            vm = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            _pq_accumulate(vm, codebooks, sums, counts)
        return [
            (j, c, int(counts[j, c]), *sums[j, c].tolist())
            for j in range(m)
            for c in range(k)
        ]

    for _ in range(iterations):
        for (j, c), seg in _lloyd_fold(
            vectors.select(id_col, vec_col), ("subspace", "centroid"), sub,
            [b.copy() for b in books], _partial,
        ):
            books[j][c] = seg
    return books


def pq_encode(
    vectors: DataFrame,
    codebooks: list[np.ndarray],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector to its m nearest-subcentroid codes. Codebooks
    broadcast; one batched distance argmin per subspace; output is
    (id, array<int> of length m) — the 8-bit-per-subspace compressed corpus.
    """
    spark = vectors.sparkSession
    vectors = vectors.filter(F.col(vec_col).isNotNull())  # nulls dropped
    bc = spark.sparkContext.broadcast(codebooks)

    out_schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("codes", ArrayType(IntegerType())),
        ]
    )

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        books = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            vm = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(dtype=np.int64),
                    "codes": list(_pq_codes(vm, books)),
                }
            )

    return vectors.select(id_col, vec_col).mapInPandas(
        _encode, schema=out_schema
    )


def _adc_tables(qm: np.ndarray, codebooks: "list[np.ndarray]") -> np.ndarray:
    """ADC lookup tables, (n_query, m, k_codebook): the squared distance
    of each query's j-th subvector to every j-th subspace centroid."""
    sub = codebooks[0].shape[1]
    tables = []
    for j, book in enumerate(codebooks):
        diff = qm[:, None, j * sub : (j + 1) * sub] - book[None, :, :]
        tables.append((diff**2).sum(axis=2))
    return np.stack(tables, axis=1)


def pq_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: list[np.ndarray],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    codes_id_col: str | None = None,
    codes_col: str = "codes",
    round_digits: int = 9,
) -> DataFrame:
    """Approximate top-k by ADC: per query, an m×k_codebook table of
    squared subdistances to every subcentroid; a candidate's distance is m
    table lookups summed — the compressed corpus is never decoded. Same
    two-stage top-k shape as ``cosine_topk`` (batch-local top-k ordered by
    the final criterion, then one cheap global window).

    ``id_col``/``vec_col`` name the QUERY side; the codes side follows
    ``pq_encode``'s output (``id_col``/"codes") unless overridden with
    ``codes_id_col``/``codes_col``. ``round_digits`` rounds the summed ADC
    distance (ranking uses the rounded value, then the id tiebreak) — the
    oracle-gated scorer uses 6 so a cross-engine ulp in the m-term sum
    can't flip a digit the hash compare sees.
    """
    codes_id_col = codes_id_col if codes_id_col is not None else id_col
    missing = [c for c in (codes_id_col, codes_col) if c not in codes.columns]
    if missing:
        raise ValueError(
            f"codes side lacks column(s) {missing}; have {codes.columns} — "
            "pass codes_id_col/codes_col to match your pq_encode output"
        )

    def _scorer(qm: np.ndarray) -> _TopkScorer:
        tabs = _adc_tables(qm, codebooks)
        q_all = np.arange(len(tabs))[:, None, None]
        subspaces = np.arange(len(codebooks))[None, None, :]

        def score(cm: np.ndarray, out: np.ndarray) -> float:
            # dist[q, v] = sum_j tabs[q, j, cm[v, j]], gathered as
            # C-contiguous (queries, rows, m) blocks of ~1M elements.
            # numpy then sums each m-term row in its contiguous-row order
            # (pairwise from 8 terms on, not plain left to right) — the
            # order of ivf_pq_topk's per-row gather, so the two stay
            # bit-identical at every m.
            step = max(1, (1 << 20) // cm.size)
            for lo in range(0, len(tabs), step):
                tabs[q_all[lo:lo + step], subspaces, cm[None]].sum(
                    axis=2, out=out[lo:lo + step]
                )
            np.round(out, round_digits, out=out)
            return 0.0  # the candidate scores ARE the exact values

        return _TopkScorer(
            lambda s: s.astype(np.int64),
            score,
            lambda cm, q_idx, v_idx, d: d[q_idx, v_idx],
            np.float64,
        )

    q_ids, qm = _query_matrix(
        queries, id_col, vec_col, "the query side of pq_topk",
        DEFAULT_MAX_BROADCAST_ROWS,
    )
    return _broadcast_topk(
        codes, codes_id_col, codes_col, q_ids, qm, _scorer, k, "adc_dist",
        descending=False,
    )


def ivf_pq_train(
    vectors: DataFrame,
    n_cells: int,
    m: int,
    k_codebook: int,
    iterations: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[np.ndarray, list[np.ndarray]]:
    """Train IVF centroids AND the m PQ codebooks in ONE corpus scan per
    round. Run separately (``ivf_train`` + ``pq_train``) each round costs
    two full passes plus their driver collects; both trainers need only
    per-group (sum, count) partials, so a single Arrow pass can emit the
    IVF per-cell sums (as m subspace segments — a cell mean is the
    concatenation of its segment means) alongside the PQ per-subcentroid
    sums, halving the jobs the registered ann_ivf_pq query schedules.

    Determinism contract matches the standalone trainers: init = smallest
    ``max(n_cells, k_codebook)`` ids (one collect covers both), cosine
    assignment with round-6 + smallest-id tiebreak for IVF, round-9 L2
    argmin for PQ, empty groups keep their previous centroid. The PQ half
    reproduces ``pq_train`` bit-for-bit (the same ``_pq_accumulate`` per
    batch, the same ``_lloyd_fold``) — pinned by the probe-widening
    equivalence test.
    Returns (cell centroid matrix (n_cells, d), list of m codebooks).
    """
    n_init = max(n_cells, k_codebook)
    vectors = vectors.filter(F.col(vec_col).isNotNull())  # nulls dropped
    init_rows = (
        vectors.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(n_init)
        .collect()
    )
    if not init_rows:
        raise ValueError(
            f"ivf_pq_train needs at least one non-null '{vec_col}' vector"
        )
    if len(init_rows) < n_init:
        raise ValueError(
            f"need at least {n_init} vectors, got {len(init_rows)}"
        )
    dim = len(init_rows[0][1])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    cents = np.array([r[1] for r in init_rows[:n_cells]], dtype=np.float64)
    books = [
        np.array([r[1][j * sub : (j + 1) * sub] for r in init_rows[:k_codebook]])
        for j in range(m)
    ]

    def _partial(state: tuple, batches: Iterator[pd.DataFrame]) -> list:
        cn, codebooks = state
        k_c = len(cn)
        ivf_sums = np.zeros((m, k_c, sub))
        ivf_counts = np.zeros(k_c, dtype=np.int64)
        pq_sums = np.zeros((m, k_codebook, sub))
        pq_counts = np.zeros((m, k_codebook), dtype=np.int64)
        for pdf in batches:
            if pdf.empty:
                continue
            vm = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            nearest_cell = _nearest_cells(vm, cn)[:, 0]
            for c in range(k_c):
                mask = nearest_cell == c
                if mask.any():
                    ivf_counts[c] += int(mask.sum())
                    for j in range(m):
                        ivf_sums[j, c] += (
                            vm[mask, j * sub : (j + 1) * sub].sum(axis=0)
                        )
            _pq_accumulate(vm, codebooks, pq_sums, pq_counts)
        # kind 0 = an IVF cell's subspace segment, 1 = a PQ subcentroid
        return [
            (0, j, c, int(ivf_counts[c]), *ivf_sums[j, c].tolist())
            for j in range(m)
            for c in range(k_c)
        ] + [
            (1, j, c, int(pq_counts[j, c]), *pq_sums[j, c].tolist())
            for j in range(m)
            for c in range(k_codebook)
        ]

    for _ in range(iterations):
        for (kind, j, c), seg in _lloyd_fold(
            vectors.select(id_col, vec_col), ("kind", "subspace", "centroid"),
            sub, (cents / _safe_norms(cents), [b.copy() for b in books]),
            _partial,
        ):
            if kind == 0:
                cents[c, j * sub : (j + 1) * sub] = seg
            else:
                books[j][c] = seg
    return cents, books


def ivf_pq_encode(
    vectors: DataFrame,
    c_ids: np.ndarray,
    c_norm: np.ndarray,
    codebooks: list[np.ndarray],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Fused inverted-file build: ONE corpus scan computes both the IVF
    cell assignment and the PQ codes — both need only broadcast state
    (normalized centroid matrix + codebooks), so splitting them into
    separate ``ivf_assign`` and ``pq_encode`` scans re-joined on the id
    (the pre-round-4 shape) paid a second full corpus scan plus a
    corpus-wide shuffle for nothing. Semantics are bit-identical to the
    two-pass form: assignment = ``_nearest_cells`` over id-sorted
    centroids (rounded cosine, smallest-id tiebreak), codes = per-subspace
    argmin of rounded squared distance.
    """
    spark = vectors.sparkSession
    vectors = vectors.filter(F.col(vec_col).isNotNull())  # nulls dropped
    bc = spark.sparkContext.broadcast((c_ids, c_norm, codebooks))

    out_schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("centroid_id", LongType()),
            StructField("codes", ArrayType(IntegerType())),
        ]
    )

    def _assign_encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, cmat, books = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            vm = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            nearest = ids[_nearest_cells(vm, cmat)[:, 0]]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(dtype=np.int64),
                    "centroid_id": nearest,
                    "codes": list(_pq_codes(vm, books)),
                }
            )

    par = spark.sparkContext.defaultParallelism
    return _spread_to_cores(
        vectors.select(id_col, vec_col), par
    ).mapInPandas(_assign_encode, schema=out_schema)


def ivf_pq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    n_cells: int = 8,
    m: int = 4,
    k_codebook: int = 16,
    k: int = 5,
    nprobe: int = 2,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ: the full billion-vector ANN layout (Jégou et al., TPAMI
    2011) — IVF restricts WHICH vectors a query scores (``nprobe`` nearest
    cells out of ``n_cells``), PQ restricts WHAT is scored (m uint8 codes
    per vector via ADC tables, never raw floats).

    Scale anatomy, piece by piece:
    - driver state: k×d centroid floats + m codebooks (kilobytes) — the
      only ANN state that lives driver-side, by design;
    - corpus: one assignment matmul + one encode pass, landing as the
      compressed inverted file (cell, id, m codes) — m bytes + a cell id
      per vector, the thing that actually fits 10^9 vectors in RAM;
    - query time: probes (query, cell) pairs join the inverted file ON THE
      CELL KEY — candidate pruning happens in the join, the corpus never
      shuffles — then batch-local ADC top-k and one cheap global window
      over ≤ partitions×k rows per query.

    Exact-recall caveats are PQ's own: ADC distances are approximate, so
    recall is a function of (m, k_codebook, nprobe) — measured in
    tests/test_dedup_similarity.py, not promised.
    """
    spark = vectors.sparkSession
    # ---- fused training: IVF centroids + PQ codebooks from ONE corpus
    # scan per round (see ivf_pq_train). The trained state is kilobytes
    # and lives driver-side by design — in a real deployment it is
    # offline state reused across queries; training here keeps the
    # registered query honest about end-to-end cost. ----
    cm, books = ivf_pq_train(
        vectors, n_cells=n_cells, m=m, k_codebook=k_codebook,
        iterations=iterations, id_col=id_col, vec_col=vec_col,
    )
    c_ids = np.arange(n_cells, dtype=np.int64)
    cn = cm / _safe_norms(cm)
    # fused single-scan inverted file (assignment + codes in one pass)
    inverted = ivf_pq_encode(vectors, c_ids, cn, books, id_col, vec_col)
    q_ids, qm = _query_matrix(
        queries, id_col, vec_col, "the query side of ivf_pq_topk",
        DEFAULT_MAX_BROADCAST_ROWS,
    )
    if not len(q_ids):
        return _empty_topk(spark, "adc_dist")
    order = _nearest_cells(qm, cn, nprobe)
    from xena_gdc_etl_spark.operators.partitioning import local_rows_df

    # One probe per (query id, cell), carrying the query ROWS that probe
    # the cell: a query id given on several rows scores each candidate
    # against every row's own ADC table and keeps the best, so each
    # (query_id, match_id) comes out once whatever the row order.
    rows_of: dict[tuple[int, int], list[int]] = {}
    for qi in range(len(q_ids)):
        for ci in order[qi]:
            rows_of.setdefault((int(q_ids[qi]), int(c_ids[ci])), []).append(qi)
    # size-proportional slicing: default core-count slicing made every
    # consumption of this small probe list a task-per-core job
    probes = local_rows_df(
        spark,
        [(q, c, rows) for (q, c), rows in rows_of.items()],
        "query_id long, centroid_id long, query_rows array<int>",
    )

    bc = spark.sparkContext.broadcast(_adc_tables(qm, books))

    cand = inverted.join(F.broadcast(probes), "centroid_id").select(
        "query_id", "query_rows", F.col(id_col), F.col("codes")
    )

    out_schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("match_id", LongType()),
            StructField("adc_dist", DoubleType()),
        ]
    )

    def _local_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tabs = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            vids = pdf[id_col].to_numpy(dtype=np.int64)
            qids = pdf["query_id"].to_numpy(dtype=np.int64)
            qrows = pdf["query_rows"].to_numpy()
            n_rows = np.fromiter(map(len, qrows), np.int64, len(qrows))
            qrow = np.concatenate(qrows).astype(np.int64)
            cm_ = np.repeat(
                np.stack(pdf["codes"].to_numpy()).astype(np.int64), n_rows, axis=0
            )
            d = np.minimum.reduceat(
                np.round(
                    tabs[qrow[:, None], np.arange(m)[None, :], cm_].sum(axis=1), 9
                ),
                np.cumsum(n_rows) - n_rows,
            )
            yield _first_k_per_query(
                qids, vids, d, k, "adc_dist", descending=False
            )

    local = cand.mapInPandas(_local_topk, schema=out_schema)
    return _rank_topk(local, "adc_dist", k, descending=False)


def cell_label_purity(
    assigned: DataFrame,
    centroid_id: str = "centroid_id",
    label_col: str = "label",
) -> DataFrame:
    """Per-cell label purity of an inverted-file assignment: for every IVF
    cell, the member count, the majority label (ties: smallest label), and
    purity = majority share — the standard external clustering-quality
    check run before trusting an index for semantic dedup or
    cluster-balanced sampling (a low-purity cell means the quantizer is
    mixing populations and τ-pair candidate generation inside it will
    cross semantic boundaries).

    Plan shape: two map-side-partial groupBys — (cell, label) counts, then
    a per-cell ``max(struct)`` argmax — so the reduced frame after the
    first aggregation is #cells × #labels rows regardless of corpus size;
    no window, no driver collect.
    """
    per = assigned.groupBy(centroid_id, label_col).agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    # lexicographic argmax: highest count, then SMALLEST label (negate the
    # label inside the struct so max() prefers it)
    best = F.max(
        F.struct(F.col("__cnt").alias("c"), (-F.col(label_col)).alias("nl"))
    )
    return (
        per.groupBy(centroid_id)
        .agg(
            F.sum("__cnt").alias("__n"),
            best.alias("__best"),
        )
        .select(
            F.col(centroid_id),
            F.col("__n").cast("bigint").alias("n_members"),
            (-F.col("__best.nl")).cast("bigint").alias("majority_label"),
            F.col("__best.c").cast("bigint").alias("n_majority"),
            F.round(F.col("__best.c") / F.col("__n"), 6).alias("purity"),
        )
    )
