"""Deduplication operators for large-scale document corpora.

Exact (hash-group), MinHash signatures + LSH band bucketing, SimHash, and
inverted-index n-gram Jaccard. All hashes are md5-derived (portable,
partition-invariant); no O(n²) global cross joins — candidate generation is
always bucket- or index-join based so the plans survive 100 TB corpora.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from xena_gdc_etl_spark.functions import md5_hash60
from xena_gdc_etl_spark.operators.partitioning import (
    collect_at_most,
    local_rows_df,
    spread,
)
from xena_gdc_etl_spark.operators.seams import seam
from xena_gdc_etl_spark.operators.text import WS_CLASS, WS_RE


# Driver-union-find vs distributed-alternating-star dispatch cap for the
# connected-components operators, CHOSEN FROM MEASUREMENT (local[32],
# BASELINE.md §cc-crossover): the driver path is strictly faster through
# 2M edges on both bracket shapes (clustered 16.4s vs 30.1s, chained
# 29.9s vs 88.8s at 2M), while the REAL 8.49M-edge sf1 LSH graph flips
# (distributed 21.5s vs driver 24.6s, BASELINE §sf1) — the crossover
# sits between 2M and 8.5M, so the default stays at the largest size
# where the driver side measured faster everywhere. Collect volume at
# the cap is 2×2M ids ≈ tens of MB — far below driver-memory relevance;
# above it the distributed path is the safe-and-soon-faster choice.
CC_DRIVER_MAX_EDGES = 2_000_000


def _py(v):
    """numpy scalar → plain python (createDataFrame rejects np types)."""
    return v.item() if hasattr(v, "item") else v


def _offsets(text_col: str, width: int) -> Column:
    """1-based start offsets of every ``width``-gram. Guarded: for text
    shorter than ``width``, ``sequence(1, len-width+1)`` would run BACKWARD
    (Spark sequences descend when stop < start) and emit garbage offsets —
    short/empty docs must yield zero grams instead.
    """
    stop = F.length(F.col(text_col)) - (width - 1)
    return F.when(stop >= 1, F.sequence(F.lit(1), stop)).otherwise(
        F.array().cast("array<int>")
    )


def dedup_exact(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup: md5-group texts, keep the smallest id per group.
    Map-side partial agg on the hash; one shuffle keyed by digest.
    """
    return (
        docs.withColumn("content_hash", F.md5(F.col(text_col)))
        .groupBy("content_hash")
        .agg(
            F.min(F.col(id_col)).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def shingles(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    distinct: bool = True,
) -> DataFrame:
    """Explode each doc into its k-char shingles: (id, shingle).
    posexplode-free form: substring over a generated offset sequence keeps
    everything in whole-stage codegen. ``distinct=False`` skips the dedup
    shuffle — min-hash is multiset-invariant, so signature pipelines don't
    need it.
    """
    offsets = _offsets(text_col, k)
    out = spread(docs).select(
        F.col(id_col),
        F.explode(offsets).alias("__i"),
        F.col(text_col),
    ).select(
        F.col(id_col),
        F.expr(f"substring({text_col}, __i, {k})").alias("shingle"),
    )
    return out.distinct() if distinct else out


def minhash_signatures(
    doc_shingles: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
) -> DataFrame:
    """k independent min-hash slots per doc in ONE aggregation pass.

    Hash budget: one sha256 per shingle yields EIGHT independent 32-bit
    slots (64 hex chars → 8×8-hex chunks), so k slots cost ceil(k/8) digest
    calls per shingle — the digest is the dominant per-row cost at corpus
    scale, and disjoint chunks of a crypto digest are jointly uniform. 32
    bits per slot keeps the per-slot collision odds negligible for min-hash
    (collisions only bias J upward by ~|shingles|/2³²). Portable (sha256 +
    base-16 decode exist in any oracle).
    """
    n_digests = (num_hashes + 7) // 8
    slot_exprs = []
    for d in range(n_digests):
        digest = F.sha2(F.concat(F.lit(f"s{d}:"), F.col("shingle")), 256)
        for c in range(8):
            if len(slot_exprs) == num_hashes:
                break
            slot_exprs.append(
                F.conv(F.substring(digest, 1 + 8 * c, 8), 16, 10).cast("bigint")
            )
    aggs = [
        F.min(expr).alias(f"mh{j}") for j, expr in enumerate(slot_exprs)
    ]
    return doc_shingles.groupBy(F.col(id_col)).agg(*aggs)


def lsh_buckets(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """LSH banding: hash each signature band to a bucket — one (id, band,
    bucket) row per band. Two docs are duplicate candidates iff they share a
    (band, bucket); downstream consumers either self-join this table
    (candidate pairs) or treat it as a doc–bucket bipartite graph (cluster
    labeling) without ever materializing the quadratic pair set.
    """
    n_bands = num_hashes // band_size
    bands = []
    for b in range(n_bands):
        cols = [F.col(f"mh{j}").cast("string") for j in range(b * band_size, (b + 1) * band_size)]
        bands.append(
            F.struct(F.lit(b).alias("band"), F.md5(F.concat_ws("_", *cols)).alias("bucket"))
        )
    return signatures.select(
        F.col(id_col), F.explode(F.array(*bands)).alias("bb")
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH candidate pairs (a < b, distinct): group each (band, bucket) into
    a sorted member array and expand pairs with a higher-order transform.

    One shuffle (the groupBy) computes the signature pipeline exactly once —
    no self-join, so no persist and no double-computed lineage. A hot bucket
    (many near-identical docs) is the one genuinely quadratic spot;
    ``max_bucket_size`` drops over-limit buckets BEFORE pair expansion (a
    bucket of m docs would emit m·(m-1)/2 pairs), which is the standard
    at-scale mitigation — members of a giant bucket are still clustered
    together via every other bucket they share.
    """
    buckets = lsh_buckets(signatures, id_col, num_hashes, band_size)
    grouped = (
        buckets.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_set(F.col(id_col))).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_bucket_size is not None:
        grouped = grouped.filter(F.size("ids") <= max_bucket_size)
    # ids is ascending, so pairing each element with its suffix gives a < b.
    # Expansion as TWO stacked explodes (posexplode the members, explode
    # each member's suffix slice) instead of one nested
    # transform/slice/flatten higher-order expression: Catalyst never
    # compiles lambda functions — the HOF form expanded every pair through
    # interpreted per-element closures, which made the hottest bucket's
    # single expansion task the stage straggler (measured 2.2× the
    # generator form at sf0.1, round 18). Both Generate nodes run in
    # whole-stage codegen and emit exactly the same (a, b) multiset.
    return (
        grouped.select(F.col("ids"), F.posexplode("ids").alias("__i", "a"))
        .select(
            "a",
            F.explode(
                F.slice(F.col("ids"), F.col("__i") + 2, F.size("ids"))
            ).alias("b"),
        )
        .distinct()
    )


def _driver_union_find(edge_pairs):
    """Union-find with path compression over an in-driver edge list;
    returns ``find``, which maps every key seen to its component's root
    (an arbitrary member, not the min — :func:`_driver_labels` picks the
    min node per root). Keys only need equality and hashing, so bucket
    keys can ride as tagged tuples next to plain node ids.
    """
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for a, b in edge_pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    return find


def _driver_labels(
    links: DataFrame, nodes: DataFrame, id_col: str, cap: int, bipartite=False
) -> "DataFrame | None":
    """The driver branch of both connected-components forms: ``None``
    when ``links`` has more than ``cap`` rows, else every node's min-id
    label from ONE bounded collect and a union-find. ``links`` is a
    null-free (node, other) frame whose first column holds every linked
    node: symmetric edges, or (node, bucket) rows with ``bipartite=True``,
    which tags the buckets apart from node ids. The label map joins onto
    ``nodes`` in broadcast (the node set never collects); link-free nodes
    label themselves."""
    pdf = collect_at_most(links, cap, pandas=True) if cap else None
    if pdf is None:
        return None
    node, other = pdf.iloc[:, 0], pdf.iloc[:, 1]
    if bipartite:
        other = (("bucket", b) for b in other)
    find = _driver_union_find(zip(node, other))
    seen = set(node)
    best: dict = {}
    for n in seen:
        r = find(n)
        if r not in best or n < best[r]:
            best[r] = n
    id_type = nodes.schema[id_col].dataType
    # size-proportional slicing: the default core-count slicing made the
    # broadcast build of this tiny label map a task-per-core job
    mdf = local_rows_df(
        nodes.sparkSession,
        [(_py(n), _py(best[find(n)])) for n in seen],
        StructType([StructField("node", id_type), StructField("__cl", id_type)]),
    )
    return (
        nodes.select(F.col(id_col).alias("node"))
        .join(F.broadcast(mdf), "node", "left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce("__cl", "node").alias("cluster_id"),
        )
    )


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "a",
    b_col: str = "b",
    max_iterations: int = 50,
    driver_max_edges: "int | None" = CC_DRIVER_MAX_EDGES,
    validate: bool = False,
    stats: "dict | None" = None,
) -> DataFrame:
    """Cluster duplicate-candidate pairs into components: every node gets
    ``cluster_id`` = the smallest node id reachable from it. This is the step
    that turns pair candidates (LSH / simhash / cosine) into an actionable
    dedup decision — keep ``doc_id == cluster_id``, drop the rest.

    Precondition: every id in ``pairs`` must appear in ``nodes`` (true
    for every caller here — candidate pairs are generated FROM the node
    corpus). Under a violation the two paths legitimately differ: the
    distributed loop silently ignores edges touching unknown ids (they
    have no label row to propagate through), while the driver union-find
    would connect components THROUGH an unknown intermediary and can
    emit a cluster_id that is not a node. Filtering edges against the
    node set would cost a shuffle over the full corpus id set per call
    just to guard an internal invariant, so it is a documented
    precondition instead; pass ``validate=True`` (tests / new callers)
    to pay one anti-join and fail loudly on foreign ids.

    A null endpoint connects nothing: such pairs are dropped before
    either path runs, so every node still gets one row.

    Two paths, identical min-label semantics:

    - pair set ≤ ``driver_max_edges``: the GATED pair list — already
      reduced from the corpus by LSH + a similarity threshold — collects
      in its own bounded probe (two ids per edge; ≈64 MB at the default
      cap) and a union-find labels it (:func:`_driver_labels`, shared
      with the bipartite form), replacing an O(rounds) loop whose every
      round costs a join + groupBy + checkpoint + convergence job. The
      full node set never collects: non-edge nodes stay distributed and
      keep their own id as label. The default cap is the MEASURED
      dispatch crossover (see ``CC_DRIVER_MAX_EDGES`` above): driver
      strictly faster ≤ 2M edges on both bracket shapes, distributed
      faster by 8.5M (real sf1 LSH graph).
    - otherwise: alternating large-star/small-star contraction (Kiveris
      et al., "Connected Components in MapReduce and Beyond", SoCC'14)
      — O(log² n) rounds on ANY graph shape, each round two partial-
      aggregated shuffles over the CURRENT edge set (which collapses
      toward per-component stars), never a per-round join against a
      corpus-sized label frame. Replaced min-label propagation in round
      8: propagation is O(diameter) and the sf1 stress surfaced a
      diameter-25 LSH chain component (26 rounds / 30s; the alternation
      does the same graph in 6 rounds / 13s with identical labels).
      ``localCheckpoint`` truncates lineage each round and the driver
      only ever sees a (count, hash) convergence fingerprint. Pass
      ``driver_max_edges=None`` (or 0) to force this path.

    ``stats``, if given, is filled in place with which path ran and, on
    the distributed path, rounds-to-converge and per-round wall seconds
    (the sf1 stress lane records these in BASELINE.md §sf1).
    """
    import time as _time
    pairs = pairs.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    ).filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
    edges = (
        pairs.union(pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .persist()
    )
    if validate:
        foreign = (
            edges.select(F.col("src").alias("__id"))
            .join(
                nodes.select(F.col(id_col).alias("__id")),
                "__id",
                "left_anti",
            )
            .limit(5)
            .collect()
        )
        if foreign:
            edges.unpersist()
            raise ValueError(
                "connected_components: pairs reference ids absent from "
                f"nodes (first few: {[r[0] for r in foreign]}) — the "
                "pairs ⊆ nodes precondition is violated"
            )
    # symmetric edges: src covers both sides, so each undirected edge is
    # two probe rows. A graph destined for the distributed path pays one
    # ≈64 MB bounded transfer — noise next to the contraction loop.
    labeled = _driver_labels(
        edges, nodes, id_col, 2 * driver_max_edges if driver_max_edges else 0
    )
    if labeled is not None:
        if stats is not None:
            stats["path"] = "driver_union_find"
        edges.unpersist()
        return labeled
    # ---- distributed path: alternating large-star / small-star --------
    # (Kiveris et al., "Connected Components in MapReduce and Beyond",
    # SoCC'14 — public algorithm.) Unlike min-label propagation, which
    # needs O(diameter) rounds (the sf1 stress measured a diameter-25
    # LSH chain component = 26 full edge⋈label rounds), the alternation
    # converges in O(log² n) rounds on ANY graph shape — chains and
    # near-cliques alike — and each round touches only the CURRENT edge
    # set, which monotonically collapses toward per-component stars; no
    # corpus-sized label frame is joined per round.
    #
    #   large-star: every node points its LARGER neighbors at the min of
    #     its closed neighborhood (strictly reduces long chains);
    #   small-star: every node and its ≤-neighbors re-hang onto that min
    #     (flattens local trees into stars).
    #
    # At the fixpoint the (parent > child) edge set IS the star map:
    # child → component-min. Nodes without edges are singletons.
    if stats is not None:
        stats["path"] = "distributed_alternating_star"
        stats["rounds"] = 0
        stats["round_secs"] = []

    def _fp(e: DataFrame):
        # edge-set fingerprint: (count, hash sum) in ONE aggregate —
        # unchanged ⇒ converged (hash-collision risk ~2⁻⁶⁴ per round)
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    def _large_star(e: DataFrame) -> DataFrame:
        # e is the canonical (u > v) edge list; work on its symmetric form
        sym = e.select("u", "v").union(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("mv"))
        # min over the CLOSED neighborhood
        mins = mins.select("u", F.least("mv", "u").alias("m"))
        return (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def _small_star(e: DataFrame) -> DataFrame:
        # canonical orientation u > v, so min(neighbors) < u always
        mins = e.groupBy("u").agg(F.min("v").alias("m"))
        hung = (
            e.join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        return hung

    # canonical undirected form (u > v) from the symmetric pair set
    estar = (
        edges.select(
            F.greatest("src", "dst").alias("u"),
            F.least("src", "dst").alias("v"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev = None
    converged = False
    for _ in range(max_iterations):
        round_t0 = _time.perf_counter()
        estar = _small_star(_large_star(estar)).localCheckpoint(eager=True)
        cur = _fp(estar)
        if stats is not None:
            stats["rounds"] += 1
            stats["round_secs"].append(
                round(_time.perf_counter() - round_t0, 3)
            )
        if cur == prev:
            converged = True
            break
        prev = cur
    edges.unpersist()
    star = estar.select(F.col("u").alias("node"), F.col("v").alias("__cl"))
    if not converged:
        # max_iterations exhausted before the star fixpoint: the edge set
        # can still hold multi-parent children, and joining it as-is would
        # SILENTLY duplicate node rows with conflicting cluster_ids.
        # Practically unreachable (O(log² n) convergence vs 50 rounds),
        # but fail soft-loud: warn, and collapse to one deterministic
        # (possibly unconverged) label per node so output stays one row
        # per node — the old min-label truncation behavior.
        import warnings

        warnings.warn(
            "connected_components: alternating-star did not converge "
            f"within max_iterations={max_iterations}; labels may be "
            "unconverged (one per node, min-parent)",
            RuntimeWarning,
            stacklevel=2,
        )
        star = star.groupBy("node").agg(F.min("__cl").alias("__cl"))
    if stats is not None:
        stats["converged"] = converged
    # the converged (child u → root v) star map labels every non-root;
    # roots and edge-free nodes label themselves
    return (
        nodes.select(F.col(id_col).alias("node"))
        .join(star, "node", "left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce("__cl", "node").alias("cluster_id"),
        )
    )


def minhash_jaccard_estimate(
    pairs: DataFrame,
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    threshold: float = 0.0,
) -> DataFrame:
    """Estimate Jaccard similarity for candidate pairs from their minhash
    signatures: Pr[min-hash collision] = J(A,B), so the slot-agreement rate
    is an unbiased estimate. Two hash-joins against the (narrow) signature
    table — never touches document text, which is what makes the
    LSH → estimate → threshold pipeline cheap at corpus scale.
    """
    sig_a = signatures.select(
        F.col(id_col).alias("a"), *[F.col(f"mh{j}").alias(f"a{j}") for j in range(num_hashes)]
    )
    sig_b = signatures.select(
        F.col(id_col).alias("b"), *[F.col(f"mh{j}").alias(f"b{j}") for j in range(num_hashes)]
    )
    agree = sum(
        F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0)
        for j in range(num_hashes)
    )
    return (
        pairs.join(sig_a, "a")
        .join(sig_b, "b")
        .select(
            "a",
            "b",
            (agree / F.lit(float(num_hashes))).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
    )


def normalize_text(col: Column | str) -> Column:
    """Dedup-normalization: casefold, strip punctuation, collapse runs of
    whitespace, trim — so trivially-reformatted copies hash identically.
    Pure codegen expressions (no Python), portable to any SQL oracle.
    """
    c = F.col(col) if isinstance(col, str) else col
    c = F.lower(c)
    c = F.regexp_replace(c, rf"[^a-z0-9{WS_CLASS}]", "")
    c = F.regexp_replace(c, WS_RE, " ")
    return F.trim(c)


def connected_components_bipartite(
    nodes: DataFrame,
    assignments: DataFrame,
    id_col: str = "doc_id",
    bucket_col: str = "bkey",
    max_iterations: int = 50,
    driver_max_edges: "int | None" = CC_DRIVER_MAX_EDGES,
) -> DataFrame:
    """Duplicate clusters straight from the doc–bucket assignment table.

    Sharing a bucket ⇔ being LSH candidates, so the components of the
    bipartite doc–bucket graph are exactly the components of the candidate
    pair graph — but the bipartite edge list is O(docs × bands), never the
    quadratic pair set.

    Precondition: every doc id in ``assignments`` must appear in
    ``nodes`` (true for every caller — assignments are generated FROM
    the node corpus). Under a violation the paths legitimately differ:
    the driver union-find admits a foreign doc as a cluster
    representative, while the distributed loop only ever propagates
    labels originating from ``nodes``' own ids (and surfaces foreign
    docs a round late). Same economics as
    :func:`connected_components`' precondition — a membership filter
    would shuffle the full corpus id set per call.

    A null doc id or null bucket links nothing: those rows are dropped
    before either path runs, so every node still gets one row and a
    node whose only buckets are null is a singleton.

    An assignment table of at most ``driver_max_edges`` rows is labeled
    by :func:`_driver_labels`, the driver branch shared with
    :func:`connected_components`: one bounded probe collects it and a
    union-find over node ids and tagged bucket keys labels it — identical
    min-label result, none of the per-round join/checkpoint/convergence
    jobs; the full node set never collects (nodes without buckets stay
    distributed as singletons). Above the cap — the 100 TB path — each
    round alternates two tiny partial-aggregated shuffles (bucket-min of
    member labels, doc-min of bucket labels) and converges in half the
    bucket-graph diameter. ``driver_max_edges=None`` (or 0) forces the
    distributed path.
    """
    assign = (
        assignments.select(
            F.col(id_col).alias("node"), F.col(bucket_col).alias("bkey")
        )
        .filter(F.col("node").isNotNull() & F.col("bkey").isNotNull())
        .persist()
    )
    labeled = _driver_labels(
        assign, nodes, id_col, driver_max_edges or 0, bipartite=True
    )
    if labeled is not None:
        assign.unpersist()
        return labeled
    all_labels = nodes.select(
        F.col(id_col).alias("node"), F.col(id_col).alias("cluster_id")
    )
    # Nodes with no bucket (e.g. empty docs with zero shingles) are
    # singletons: the first hop's inner join on node drops them from the
    # iteration automatically — at corpus scale that whole population rides
    # zero rounds — and the final anti-join stitches them back unchanged.
    frozen = all_labels.join(assign, "node", "left_anti")
    labels = all_labels.localCheckpoint(eager=True)

    from pyspark.sql.types import NumericType

    if isinstance(nodes.schema[id_col].dataType, NumericType):
        # exact, strictly-decreasing convergence fingerprint (labels only
        # ever decrease under min-propagation)
        _fingerprint = F.sum(F.col("cluster_id").cast("decimal(38,0)"))
    else:
        # non-numeric ids: 64-bit hash sum — unchanged ⇒ converged except
        # a ~2⁻⁶⁴ cancellation collision per round (see
        # connected_components)
        _fingerprint = F.sum(
            F.xxhash64("node", "cluster_id").cast("decimal(38,0)")
        )

    def _label_sum(df: DataFrame):
        return df.agg(_fingerprint).collect()[0][0]

    def _propagate(lbls: DataFrame) -> DataFrame:
        # A node's own label contributes to each of its buckets' min, so
        # the doc-side min over bucket mins IS the updated label (always
        # <= the old one) — no merge join back against the old labels.
        bucket_min = (
            assign.join(lbls, "node")
            .groupBy("bkey")
            .agg(F.min("cluster_id").alias("bmin"))
        )
        return (
            assign.join(bucket_min, "bkey")
            .groupBy("node")
            .agg(F.min("bmin").alias("cluster_id"))
        )

    prev_sum = None  # first round always changes something worth checking after
    for _ in range(max_iterations):
        # two propagation hops per materialized round: halves the
        # checkpoint + convergence-check job count for the same total hops
        labels = _propagate(_propagate(labels)).localCheckpoint(eager=True)
        cur_sum = _label_sum(labels)
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    assign.unpersist()
    return labels.unionByName(frozen).select(
        F.col("node").alias(id_col), "cluster_id"
    )


def simhash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    lane_width: int = 21,
) -> DataFrame:
    """SimHash: per token a hash; bit_j of the fingerprint is set when the
    sum over tokens of (2*bit_j(h)-1) is positive. Since that sum equals
    2*c_j - T (c_j = tokens with bit j set, T = token count), the sign test
    is exactly ``2*c_j > T`` — so instead of ``bits`` separate ±1 sum
    aggregates the per-bit counts are PACKED into bigint lanes:
    ``63 // lane_width`` lanes per counter, ``ceil(bits / lanes)`` sum
    aggregates plus one count(*). At the default ``lane_width=21`` that is
    21 aggregation-buffer slots for 60 bits instead of 60 — the hash-agg
    update/merge cost (the dominant term of the fingerprint stage) drops
    ~3x with bit-identical output.

    Lane capacity bounds tokens-per-document: a lane holds counts up to
    ``2^lane_width - 1``, so a document with >= 2^21 (~2M) whitespace
    tokens (~10 MB of text) would silently carry across lanes. Raise
    ``lane_width`` (31 -> 2 lanes/counter, capacity 2^31) if the corpus
    carries book-scale single documents; the default is safe for any
    sanely-chunked training corpus.

    The scale default is a full 64-bit fingerprint hashed with the JVM-side
    ``xxhash64`` (every bit independent, codegen, no md5 string round-trip).
    ``bits <= 60`` switches to the md5-derived portable hash so a DuckDB
    oracle can reproduce the fingerprint bit-for-bit — that is the test
    fixture configuration, not the production one.
    """
    if not 1 <= bits <= 64:
        raise ValueError(f"bits must be in [1, 64]; got {bits}")
    # The multiply-spread below is carry/collision-free only while
    # lanes < lane_width: cross terms land at l + m*(lane_width-1), which
    # can only coincide with a wanted lane position l'*lane_width when
    # |l - m| >= lane_width — impossible for l, m < lanes < lane_width.
    # 63 // w < w first holds at w = 8, so narrower lanes would corrupt
    # the packed counts silently; reject them.
    if not 8 <= lane_width <= 62:
        raise ValueError(
            f"lane_width must be in [8, 62] (the multiply-spread needs "
            f"lanes < lane_width for carry-free packing); got {lane_width}"
        )
    tokens = spread(docs).select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), WS_RE)).alias("tok"),
    ).filter(F.col("tok") != "")
    # md5_hash60 yields only 60 usable bits; beyond that the top fingerprint
    # bits would be constant-zero (sum of -1s), shrinking the effective
    # band space. xxhash64 fills all 64.
    if bits <= 60:
        h = md5_hash60(F.col("tok"), seed="sim:")
    else:
        h = F.xxhash64(F.concat(F.lit("sim:"), F.col("tok")))
    lanes = 63 // lane_width
    n_groups = -(-bits // lanes)  # group g holds bits [g*lanes, g*lanes+lanes)
    # h is PROJECTED once before the aggregation: Spark's subexpression
    # elimination does not fully share the hash across the group sum
    # inputs (measured 2x steady-state cost with the hash inlined per
    # aggregate input, round 16), and a bound slot reference also keeps
    # the generated hash-agg update code small.
    hashed = tokens.select(F.col(id_col), h.alias("__h"))
    # Multiply-spread (SWAR): the group's `lanes` contiguous bits are
    # extracted with one shift+mask, then fanned out to their lane
    # positions with a single multiply+mask. Bit l of x lands at
    # l*lane_width via multiplier bit l*(lane_width-1); cross terms land
    # at l + m*(lane_width-1), all distinct from the wanted positions
    # (|l-m| < lane_width-1), so there are no carries and the mask
    # extracts exactly. 4 JVM ops per group per token instead of ~3*4.
    mult = sum(1 << (lane * (lane_width - 1)) for lane in range(lanes))
    spread_mask = sum(1 << (lane * lane_width) for lane in range(lanes))
    hcol = F.col("__h")
    sums = []
    for g in range(n_groups):
        n_in_group = min(lanes, bits - g * lanes)
        x = F.shiftright(hcol, g * lanes).bitwiseAND(
            F.lit((1 << n_in_group) - 1)
        )
        sums.append(
            F.sum((x * F.lit(mult)).bitwiseAND(F.lit(spread_mask))).alias(
                f"g{g}"
            )
        )
    per_doc = hashed.groupBy(F.col(id_col)).agg(
        *sums, F.count(F.lit(1)).alias("__t")
    )
    # Fingerprint reconstruction as ONE constant-size higher-order
    # expression instead of `bits` chained OR-of-when column expressions:
    # the chained form generated a whole-stage source whose Janino compile
    # + JIT tier-up dominated one-shot latency (~3.5 s at sf0.1 vs 0.13 s
    # steady-state — measured round 16). aggregate() over sequence(0,
    # bits-1) is evaluated interpreted, but only over n_docs rows, and its
    # catalyst/codegen footprint no longer scales with `bits`.
    gs = F.array(*[F.col(f"g{g}") for g in range(n_groups)])
    lane_mask = F.lit((1 << lane_width) - 1)
    tok_count = F.col("__t")

    def _bit_term(acc: Column, j: Column) -> Column:
        grp = F.floor(j / lanes).cast("int")
        shift = (j % lanes).cast("int") * lane_width
        c_j = F.call_function(
            "shiftright", F.element_at(gs, grp + 1), shift
        ).bitwiseAND(lane_mask)
        # OR of single-bit patterns, not addition: 1 << 63 is not a valid
        # positive long literal and ANSI addition would overflow at bit 63.
        bit = F.when(
            c_j * 2 > tok_count,
            F.call_function(
                "shiftleft", F.lit(1).cast("bigint"), j.cast("int")
            ),
        ).otherwise(F.lit(0).cast("bigint"))
        return acc.bitwiseOR(bit)

    fp = F.aggregate(
        F.sequence(F.lit(0), F.lit(bits - 1)),
        F.lit(0).cast("bigint"),
        _bit_term,
    )
    return per_doc.select(F.col(id_col), fp.alias("simhash"))


def simhash_pairs(
    fingerprints: DataFrame,
    id_col: str = "doc_id",
    sim_col: str = "simhash",
    bits: int = 64,
    bands: int = 4,
    max_distance: int = 3,
    max_bucket_size: int | None = None,
    match_blocks: int = 1,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance ≤ ``max_distance``.

    Pigeonhole exactness: splitting ``bits`` into ``bands`` equal blocks,
    a pair within Hamming distance d has its d differing bits inside at
    most d blocks, so it agrees EXACTLY on every combination of
    ``bands - d`` untouched blocks — key each signature by every
    C(bands, match_blocks) combination of ``match_blocks`` block values
    and pair only within a (combination, key) bucket: every qualifying
    pair is found without an O(n²) self join, candidates verify exactly
    with ``bit_count(a XOR b)``. Completeness requires
    ``max_distance <= bands - match_blocks`` (checked). This is the
    Manku/Jain/Sarma WWW'07 web-dedup table scheme; ``match_blocks=1``
    (the default) is the familiar "agree on one band" special case.

    **Scale knob — why match_blocks exists.** Random (non-duplicate)
    candidate volume is Θ(tables · N² / 2^keybits): with the classic
    4×16-bit single-block bands, key space 2¹⁶ saturates by birthday
    as N grows — the round-14 100× lane measured the 16-bit oracle
    fixture going quadratic (431× output at 100×), and even 64-bit
    signatures in 16-bit bands give ~7.6M random candidates at 500k
    docs (Θ(4N²/2¹⁶)). Widening the key by matching MORE blocks
    trades a linear table fan-out for an exponential collision drop:
    bands=6, match_blocks=3 → C(6,3)=20 tables keyed on ~32 bits —
    ~582 random candidates at 500k docs, and still complete for
    hamming ≤ 3. Per-doc signature stream is C(bands, match_blocks)
    rows; keep ``match_blocks·(bits//bands) <= 63`` (checked) so the
    folded key stays a bigint.

    A (combination, key) bucket of m docs expands to m·(m-1)/2
    candidate pairs; ``max_bucket_size`` drops over-limit buckets
    BEFORE expansion, same mitigation as ``lsh_candidate_pairs`` — a
    giant bucket means the members also collide in their other tables,
    or are so frequent that a sampled representative suffices.
    """
    import itertools

    if max_distance > bands - match_blocks:
        raise ValueError(
            f"max_distance={max_distance} needs "
            f"bands - match_blocks >= max_distance (pigeonhole "
            f"completeness); got bands={bands}, match_blocks={match_blocks}"
        )
    width = bits // bands
    if match_blocks * width > 63:
        raise ValueError(
            f"match_blocks={match_blocks} x block width {width} exceeds "
            "a bigint key (63 bits); use more bands or fewer match_blocks"
        )
    mask = (1 << width) - 1

    def _block(b: int):
        return F.shiftright(F.col(sim_col), b * width).bitwiseAND(
            F.lit(mask)
        )

    slices = []
    for ci, combo in enumerate(
        itertools.combinations(range(bands), match_blocks)
    ):
        key = None
        for i, b in enumerate(combo):
            part = _block(b) * F.lit(1 << (width * i))
            key = part if key is None else key + part
        slices.append(
            F.struct(F.lit(ci).alias("band"), key.alias("v"))
        )
    # The fingerprint RIDES ALONG in the bucket (8 bytes next to the id)
    # so the Hamming verify happens INLINE at pair expansion — no join
    # back to the fingerprint table, and the `<= max_distance` filter
    # prunes random key collisions BEFORE the distinct's shuffle (a pair
    # colliding in k tables still shuffles k verified copies, but the
    # overwhelmingly more numerous near-miss collisions never leave the
    # expansion task). Two stages instead of four, and strictly less
    # shuffled data at scale.
    buckets = fingerprints.select(
        F.col(id_col),
        F.col(sim_col).alias("__fp"),
        F.explode(F.array(*slices)).alias("bb"),
    ).select(
        id_col, "__fp", F.col("bb.band").alias("band"), F.col("bb.v").alias("v")
    )
    grouped = (
        buckets.groupBy("band", "v")
        .agg(
            F.sort_array(
                F.collect_set(F.struct(F.col(id_col).alias("i"), F.col("__fp").alias("f")))
            ).alias("ids")
        )
        .filter(F.size("ids") > 1)
    )
    if max_bucket_size is not None:
        grouped = grouped.filter(F.size("ids") <= max_bucket_size)
    # Expansion as two stacked codegen explodes + a codegen Filter instead
    # of the nested transform/filter/flatten higher-order expression —
    # same rationale as lsh_candidate_pairs (lambdas stay interpreted
    # forever; generators compile), same output. The Hamming verify still
    # runs INLINE in the expansion stage, before the distinct's shuffle:
    # the Filter sits directly on the Generate output inside one
    # whole-stage-codegen span, so near-miss collisions still never leave
    # the expansion task. a != b: duplicate ids with DIFFERING
    # fingerprints (dirty ingest) occupy two struct entries in one
    # bucket; the old join-back plan could never emit a self-pair, so the
    # inline verify must not either.
    return (
        grouped.select(F.col("ids"), F.posexplode("ids").alias("__i", "__x"))
        .select(
            "__x",
            F.explode(
                F.slice(F.col("ids"), F.col("__i") + 2, F.size("ids"))
            ).alias("__y"),
        )
        .select(
            F.col("__x.i").alias("a"),
            F.col("__y.i").alias("b"),
            F.bit_count(F.col("__x.f").bitwiseXOR(F.col("__y.f")))
            .cast("bigint")
            .alias("hamming"),
        )
        .filter(
            (F.col("hamming") <= F.lit(int(max_distance)))
            & (F.col("a") != F.col("b"))
        )
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_col: str = "source",
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """n-gram Jaccard similarity for candidate pairs sharing a bucket.

    Posting-list form: one shuffle builds per-(bucket, gram) posting sets
    (``collect_set`` — within-doc duplicate grams collapse for free);
    candidate pairs come from a pairwise explode of each posting list, so
    the intersection count needs no self-join. |A∪B| = |A|+|B|-|A∩B|.
    Never a doc×doc cross join; a hot gram's posting list is the one
    quadratic spot — ``max_doc_freq`` drops posting lists longer than the
    cap BEFORE the pairwise explode (the classic document-frequency cut:
    a gram shared by thousands of docs carries no dedup signal but would
    emit |df|² pair rows). Capped grams still count toward each doc's
    denominator ``sz``, so surviving similarities are a strict lower bound
    — exactly the conservative direction for dedup.

    Contract: ``bucket_col`` must be a FUNCTION of ``id_col`` (each doc
    in exactly one bucket). The denominator is derived from the posting
    frame — a doc's posting memberships equal its distinct grams only
    under that contract; a doc spanning buckets would double-count grams
    repeated across them. Enforced at runtime: a multi-bucket doc fails
    the query loudly (``assert_true`` in the sizes aggregate) instead of
    returning a silently wrong denominator.
    """
    grams = spread(docs).select(
        F.col(id_col),
        F.col(bucket_col).alias("bucket"),
        F.explode(_offsets(text_col, n)).alias("__i"),
        F.col(text_col),
    ).select(
        F.col(id_col),
        "bucket",
        F.expr(f"substring({text_col}, __i, {n})").alias("gram"),
    )
    # Checkpoint the FULL posting frame (lazy) and derive BOTH consumers
    # from it: the pair expansion reads the >1 lists, and the per-doc
    # denominator re-explodes the (much smaller than the raw gram
    # stream) posting ids — one corpus tokenize+shuffle total, where
    # aggregating `grams` twice (postings + count_distinct sizes) ran
    # the explode twice with no shareable exchange. Equivalence needs
    # the bucket to be a FUNCTION of the doc (one source per doc, as in
    # every caller here): then a doc's posting memberships are exactly
    # its distinct grams.
    # Eagerly-filled seam — see containment_pairs for the full
    # rationale: lazy localCheckpoint mis-sizes via a flattened
    # LogicalRDD, an unfilled cache mis-sizes via the child's estimate
    # (both hide the explode fan-out and bait corpus-sized broadcasts);
    # the fill is work every consumer needs anyway and leaves ACTUAL
    # bytes for the planner.
    postings_all = seam(
        grams.groupBy("bucket", "gram")
        .agg(F.collect_set(F.col(id_col)).alias("ids"))
    )
    postings = postings_all.filter(F.size("ids") > 1)
    if max_doc_freq is not None:
        postings = postings.filter(F.size("ids") <= max_doc_freq)
    inter = (
        postings.select(F.explode("ids").alias("a"), F.col("ids"))
        .select("a", F.explode("ids").alias("b"))
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    # Broken-expression guard (round-9 advisor): a bucket column that is
    # NULL on EVERY row (with rows present) is a broken bucket expression
    # — min/max are both NULL per doc and eqNullSafe alone would pass it
    # silently. A PER-DOC null bucket stays legitimate (real corpora have
    # null sources — NULL is one bucket key, and the skew/dirty-key
    # robustness suite pins that); only the all-rows-NULL case raises.
    # 1-row aggregate over the already-checkpointed posting frame,
    # broadcast-joined so it is load-bearing, not prunable.
    guard = postings_all.agg(
        F.when(
            F.assert_true(
                (F.count("bucket") > 0) | (F.count(F.lit(1)) == 0),
                F.lit(
                    "ngram_jaccard_pairs: bucket_col is NULL on every row "
                    "— broken bucket expression (pass F.lit(...) for a "
                    "single global bucket)"
                ),
            ).isNull(),
            F.lit(1),
        ).alias("__bucket_ok")
    )
    sizes = (
        postings_all.select(F.explode("ids").alias(id_col), "bucket")
        .groupBy(F.col(id_col))
        # min/max are plain partial aggs (map-side combine, no distinct
        # expansion); min==max (null-safe) ⟺ one non-null bucket per doc,
        # same loud failure as the count_distinct form at a fraction of
        # the cost; __has_null catches the NULL+'a' mixed-bucket doc that
        # null-skipping min/max alone would miss
        .agg(
            F.count(F.lit(1)).alias("__sz"),
            F.min("bucket").alias("__bmin"),
            F.max("bucket").alias("__bmax"),
            F.max(F.col("bucket").isNull().cast("int")).alias("__has_null"),
        )
        # assert_true sits INSIDE the sz expression (not a droppable side
        # column Catalyst would prune): it returns null on pass, so the
        # when() keeps it load-bearing and a contract violation raises
        .select(
            F.col(id_col),
            F.when(
                F.assert_true(
                    F.col("__bmin").eqNullSafe(F.col("__bmax"))
                    & ~(
                        (F.col("__has_null") == 1)
                        & F.col("__bmin").isNotNull()
                    ),
                    F.concat(
                        F.lit(
                            "ngram_jaccard_pairs: bucket_col must be a "
                            "function of id_col, but doc "
                        ),
                        F.col(id_col).cast("string"),
                        F.lit(" appears in multiple buckets"),
                    ),
                ).isNull(),
                F.col("__sz"),
            ).alias("sz"),
        )
    )
    sa = sizes.select(F.col(id_col).alias("a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col(id_col).alias("b"), F.col("sz").alias("szb"))
    return (
        inter.join(sa, "a")
        .join(sb, "b")
        .join(F.broadcast(guard))
        .withColumn(
            "jaccard",
            F.round(
                (F.col("inter") * F.col("__bucket_ok"))
                / (F.col("sza") + F.col("szb") - F.col("inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def ngram_contamination(
    train: DataFrame,
    test: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Benchmark-contamination check: for each train doc, the fraction of
    its distinct word n-grams that appear anywhere in the held-out ``test``
    corpus (the GPT-3/C4-style n-gram decontamination test).

    Plan: both sides explode to distinct n-grams; the test gram set
    (bounded by the eval corpus, small relative to training data) is
    broadcast, so the probe is a map-side hash join — the 100 TB train side
    never shuffles. Docs with fewer than ``n`` tokens yield no grams and are
    absent from the result.
    """
    from xena_gdc_etl_spark.operators.text import _tokens, ngram_structs

    def grams(df: DataFrame) -> DataFrame:
        # spread: documents are compact on disk — without the pre-explode
        # repartition the tokenize+explode runs at scan parallelism.
        # ngram_structs (codegen tuples), not word_ngrams (interpreted
        # string join): grams are internal keys here, never output, and
        # tuple equality == string equality.
        return spread(df).select(
            F.col(id_col),
            F.explode(
                ngram_structs(_tokens(F.lower(F.col(text_col))), n)
            ).alias("gram"),
        ).distinct()

    test_grams = grams(test).select("gram").distinct().withColumn(
        "__hit", F.lit(1)
    )
    # no broadcast HINT: a held-out set is usually eval-suite-sized and
    # AQE broadcasts it from the distinct's RUNTIME stats — but heldout
    # size is caller data, and a forced broadcast of a corpus-sized
    # heldout is a driver OOM where the unhinted plan degrades to a
    # gram-keyed shuffle join (the round-11 broadcast audit's one
    # knob-less corpus-proportional hint)
    return (
        grams(train)
        .join(test_grams, "gram", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("__hit").alias("n_hit"),
        )
        .select(
            F.col(id_col),
            F.col("n_grams").cast("bigint").alias("n_grams"),
            F.col("n_hit").cast("bigint").alias("n_hit"),
            F.round(F.col("n_hit") / F.col("n_grams"), 6).alias("contam_frac"),
        )
    )


def dup_span_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact-substring duplication marking (the detection half of
    Lee et al. 2022 "Deduplicating Training Data Makes Language Models
    Better" — public method; span removal is a trivial follow-on filter):
    for each doc, how many of its distinct word ``n``-grams appear in at
    least one OTHER document, and the duplicated-span fraction.

    Plan (suffix arrays don't distribute; posting lists do): explode each
    doc to distinct n-grams ONCE; the posting aggregation keeps, per gram,
    the distinct-doc count and the min/max doc id — a gram is cross-doc
    duplicated iff ``n_docs >= 2``, and joining (min_id, max_id) back lets
    each doc test "some OTHER doc has it" without a second corpus pass.
    Two shuffles total, both on the gram key, both with map-side partials.
    ``max_doc_freq`` drops over-hot grams (boilerplate) BEFORE the join,
    the house pre-expansion hot-key cap — dropped grams still count in
    ``n_spans`` but are reported in ``n_capped`` (no silent caps).

    Docs with fewer than ``n`` tokens yield no grams and are absent,
    matching the oracle.
    """
    from xena_gdc_etl_spark.operators.text import _tokens, ngram_structs

    # Two consumers read the gram frame (the posting aggregation and the
    # join probe — different subtree shapes, so exchange reuse does not
    # apply); eagerly-filled seam so the dominant tokenize+explode+
    # distinct stage runs once AND the planner sees the frame's ACTUAL
    # size (see containment_pairs: both lazy localCheckpoint and an
    # unfilled cache hide the explode fan-out and bait corpus-sized
    # broadcasts). Grams are codegen tuples (ngram_structs), not joined
    # strings: internal keys only, tuple distinct == string distinct.
    grams = seam(
        spread(docs).select(
            F.col(id_col),
            F.explode(
                F.array_distinct(
                    ngram_structs(_tokens(F.lower(F.col(text_col))), n)
                )
            ).alias("gram"),
        )
    )
    posting = grams.groupBy("gram").agg(
        F.count(F.lit(1)).alias("__n_docs"),
        F.min(id_col).alias("__min_id"),
        F.max(id_col).alias("__max_id"),
    )
    dup = posting.filter(F.col("__n_docs") >= 2)
    capped = F.lit(False)
    if max_doc_freq is not None:
        capped = F.col("__n_docs") > max_doc_freq
        dup = dup.withColumn("__capped", capped)
    else:
        dup = dup.withColumn("__capped", capped)
    joined = grams.join(dup, "gram", "left")
    # "some OTHER doc has this gram": with n_docs >= 2 that is always true;
    # the min/max carry makes the predicate explicit and null-safe.
    is_dup = F.col("__n_docs").isNotNull() & ~F.col("__capped") & (
        (F.col("__min_id") != F.col(id_col))
        | (F.col("__max_id") != F.col(id_col))
    )
    return (
        joined.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(is_dup.cast("int")).alias("n_dup_spans"),
            F.sum((F.col("__capped")).cast("int")).alias("n_capped"),
        )
        .select(
            F.col(id_col),
            F.col("n_spans").cast("bigint").alias("n_spans"),
            F.col("n_dup_spans").cast("bigint").alias("n_dup_spans"),
            F.coalesce(F.col("n_capped"), F.lit(0))
            .cast("bigint")
            .alias("n_capped"),
            F.round(F.col("n_dup_spans") / F.col("n_spans"), 6).alias(
                "dup_span_frac"
            ),
        )
    )


# One cap-configured notice per process (INFO) — same discipline as
# similarity._CAP_NOTICE_LOGGED.
_CONTAINMENT_CAP_LOGGED = False


def containment_pairs(
    docs: DataFrame,
    candidates: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    strategy: str = "join",
    max_shingles_per_doc: int | None = None,
) -> DataFrame:
    """Exact shingle containment for candidate pairs (Broder 1997, "On
    the resemblance and containment of documents" — public method):
    ``C(A,B) = |S(A) ∩ S(B)| / |S(A)|``. Containment is the quote /
    doc-inside-doc detector: a short document fully embedded in a long
    one scores near 1.0 here while its Jaccard stays low, so a
    Jaccard-gated dedup pass never sees it.

    ``candidates`` is the (a, b) pair frame (a < b), typically LSH
    candidates — containment is only ever computed per candidate pair,
    never all-pairs. Candidate pairs whose docs both HAVE shingles but
    share none keep a 0-count row; a pair involving a SHINGLE-LESS doc
    (text shorter than ``k`` chars — such a doc can still reach the
    candidate set via its LSH bucket) is EXCLUDED: containment has a
    zero denominator there (the DuckDB oracle mirrors this). Both
    strategies return identical rows (value-pinned in tests):

    - ``strategy="join"`` (default): distinct shingles once; the
      intersection count is two hash joins (pair→a-side shingles keyed
      on id, then on (b, shingle)) followed by a map-side-partial pair
      groupBy; sizes join back on each end. Every shuffled ROW is one
      (id, shingle) — bounded regardless of how big any single document
      is, which is what makes this the safe default for corpora with
      unchunked monster documents. Cost: the pair⋈shingle join
      materializes Σ |S(a)| over the pairs (~56M intermediate rows at
      the sf0.1 query's 28k pairs).
    - ``strategy="array"``: one ``collect_set`` per doc, then the
      intersection is JVM-side ``array_intersect`` on the two arrays
      carried into each pair row — no pair×shingle fan-out at all, and
      sizes fall out of ``size()`` for free. Measured 2.6 s → 0.9 s on
      the sf0.1 registered query (exact string arrays — no hashing, so
      exactness is by construction, not probabilistic). The trade: a
      row now carries a document's whole distinct-shingle set, so
      per-row payload is bounded by DOCUMENT size, not by a constant —
      right for chunked/bounded corpora (this engine's pipelines chunk
      upstream, operators/text.py chunk_documents), wrong for a corpus
      with gigabyte documents, which is why it is opt-in.
      ``max_shingles_per_doc`` is the array strategy's payload cap: a
      doc whose DISTINCT shingle count exceeds it is EXCLUDED from
      pairing (the same exclusion class as shingle-less docs — its
      pairs vanish rather than its array OOMing an executor), with a
      one-time INFO notice naming the knob; ``None`` (default, the
      registered config) caps nothing and is plan-identical to the
      uncapped round-17 form. Ignored by the join strategy, whose rows
      are constant-width by construction.
    """
    if strategy not in ("join", "array"):
        raise ValueError(
            f"strategy must be 'join' or 'array', got {strategy!r}"
        )
    if strategy == "array":
        # seam the per-doc arrays (eager fill): both pair-join sides
        # read it, and the filled cache reports ACTUAL bytes so the
        # planner broadcasts at small scale / shuffles at corpus scale
        # — same rationale as the join strategy's shingle seam below.
        arr_src = (
            shingles(docs, id_col, text_col, k=k, distinct=True)
            .groupBy(id_col)
            .agg(F.collect_set("shingle").alias("__sh"))
        )
        if max_shingles_per_doc is not None:
            global _CONTAINMENT_CAP_LOGGED
            if not _CONTAINMENT_CAP_LOGGED:
                _CONTAINMENT_CAP_LOGGED = True
                import logging

                logging.getLogger(__name__).info(
                    "containment_pairs: max_shingles_per_doc=%d "
                    "configured — docs over the cap are excluded from "
                    "pairing (their candidate pairs are dropped, not "
                    "mis-scored); the default (None) carries every "
                    "doc's full distinct-shingle array",
                    max_shingles_per_doc,
                )
            arr_src = arr_src.filter(
                F.size("__sh") <= max_shingles_per_doc
            )
        arr = seam(arr_src)
        a_arr = arr.select(F.col(id_col).alias("a"), F.col("__sh").alias("__ha"))
        b_arr = arr.select(F.col(id_col).alias("b"), F.col("__sh").alias("__hb"))
        common = F.size(F.array_intersect("__ha", "__hb"))
        return (
            candidates.join(a_arr, "a")
            .join(b_arr, "b")
            .select(
                "a",
                "b",
                common.cast("bigint").alias("n_common"),
                F.size("__ha").cast("bigint").alias("n_a"),
                F.size("__hb").cast("bigint").alias("n_b"),
                F.round(common / F.size("__ha"), 6).alias("containment_a"),
                F.round(common / F.size("__hb"), 6).alias("containment_b"),
            )
        )
    # Three consumers read the distinct-shingle frame (sizes + both join
    # sides); share it via an EAGERLY-FILLED persist. Why this exact
    # shape (measured at the §sf10 100× lane):
    # - NOT localCheckpoint(eager=False): its .rdd conversion executes
    #   the stages at construction under AQE AND flattens the frame to a
    #   LogicalRDD whose static estimate hides the ~100× explode
    #   fan-out — the planner then BROADCAST a 250M-row posting side
    #   (>1 GiB driver materialization, job killed by maxResultSize).
    # - NOT a bare lazy persist: an UNFILLED InMemoryRelation also
    #   reports its child's estimate (same lie), and cached scans have
    #   no exchange for AQE to re-measure, so the bogus broadcast
    #   survives to runtime ("Not enough memory to build and broadcast").
    # - seam()'s eager count() fills the cache (work every consumer
    #   needs anyway), after which the relation reports ACTUAL bytes —
    #   downstream joins broadcast at small scale and shuffle at corpus
    #   scale, the right plan at every size with no hand-placed hints —
    #   and registers the frame for bounded eviction + release().
    sh = seam(shingles(docs, id_col, text_col, k=k, distinct=True))
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"))
    a_sh = sh.select(F.col(id_col).alias("a"), "shingle")
    b_sh = sh.select(F.col(id_col).alias("b"), "shingle")
    inter = (
        candidates.join(a_sh, "a")
        .join(b_sh, ["b", "shingle"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("__common"))
    )
    common = F.coalesce(F.col("__common"), F.lit(0))
    return (
        candidates.join(inter, ["a", "b"], "left")
        .join(sizes.select(F.col(id_col).alias("a"), F.col("__n").alias("__na")), "a")
        .join(sizes.select(F.col(id_col).alias("b"), F.col("__n").alias("__nb")), "b")
        .select(
            "a",
            "b",
            common.cast("bigint").alias("n_common"),
            F.col("__na").cast("bigint").alias("n_a"),
            F.col("__nb").cast("bigint").alias("n_b"),
            F.round(common / F.col("__na"), 6).alias("containment_a"),
            F.round(common / F.col("__nb"), 6).alias("containment_b"),
        )
    )


def cross_source_dup_rates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source CROSS-SOURCE duplication rate: the fraction of a
    source's documents whose exact text also appears in at least one
    OTHER source — the between-crawl contamination signal that decides
    whether two ingests can be mixed without re-deduplicating (a
    within-source duplicate does not count). Two hash-keyed shuffles:
    digest → spans-multiple-sources flag (min(source) != max(source):
    plain partial aggs, no count_distinct expansion — the same trick as
    ngram_jaccard's bucket contract), then a group back to the source.
    Text crosses the wire only as its md5 digest.
    """
    hashed = docs.select(
        F.col(source_col).alias("source"), F.md5(text_col).alias("__h")
    )
    # collapse to one row per (source, digest) FIRST: every later stage —
    # the cross-flag aggregate and the join — then runs over the
    # deduplicated frame, which at corpus scale (duplicates are the norm)
    # is far smaller than the raw row stream
    per_sh = hashed.groupBy("source", "__h").agg(
        F.count(F.lit(1)).alias("__c")
    )
    per_hash = per_sh.groupBy("__h").agg(
        (~F.min("source").eqNullSafe(F.max("source"))).alias("__cross")
    )
    return (
        per_sh.join(per_hash, "__h")
        .groupBy("source")
        .agg(
            F.sum("__c").cast("bigint").alias("n_docs"),
            F.sum(
                F.when(F.col("__cross"), F.col("__c")).otherwise(F.lit(0))
            ).cast("bigint").alias("n_cross_dup"),
        )
        .select(
            "source",
            "n_docs",
            "n_cross_dup",
            F.round(F.col("n_cross_dup") / F.col("n_docs"), 6).alias(
                "cross_dup_rate"
            ),
        )
    )
