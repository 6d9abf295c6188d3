"""Unit tests for dedup/similarity/text/multimodal operators on small
controlled inputs (exact expectations, determinism properties).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from xena_gdc_etl_spark.operators import dedup as dd
from xena_gdc_etl_spark.operators import multimodal as mm
from xena_gdc_etl_spark.operators import similarity as sim
from xena_gdc_etl_spark.operators import text as tx


def docs_df(spark, texts):
    return spark.createDataFrame(
        [(i, t, f"src{i % 2}") for i, t in enumerate(texts)],
        ["doc_id", "text", "source"],
    )


def test_dedup_exact_groups_identical_texts(spark):
    df = docs_df(spark, ["aaa bbb", "ccc ddd", "aaa bbb", "aaa bbb"])
    out = {r.keep_id: r.n_dups for r in dd.dedup_exact(df).collect()}
    assert out == {0: 3, 1: 1}


def test_minhash_identical_docs_same_signature(spark):
    # docs 2 ("ab", shorter than k) and 3 (empty) have no shingles, so
    # they get no signature row at all
    df = docs_df(
        spark, ["the quick brown fox jumps", "the quick brown fox jumps", "ab", ""]
    )
    sig = dd.minhash_signatures(dd.shingles(df, k=5, distinct=False)).collect()
    assert sorted(r.doc_id for r in sig) == [0, 1]
    s0 = [r for r in sig if r.doc_id == 0][0]
    s1 = [r for r in sig if r.doc_id == 1][0]
    assert [s0[f"mh{j}"] for j in range(8)] == [s1[f"mh{j}"] for j in range(8)]


def test_lsh_pairs_catch_identical_docs(spark):
    df = docs_df(
        spark,
        ["the quick brown fox jumps over it", "the quick brown fox jumps over it",
         "completely different words entirely here now"],
    )
    sig = dd.minhash_signatures(dd.shingles(df, k=5, distinct=False))
    pairs = {(r.a, r.b) for r in dd.lsh_candidate_pairs(sig).collect()}
    assert (0, 1) in pairs
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_simhash_partition_invariant(spark):
    df = docs_df(spark, ["alpha beta gamma delta epsilon zeta"] * 1)
    one = dd.simhash(df).collect()[0].simhash
    many = dd.simhash(df.repartition(7)).collect()[0].simhash
    assert one == many


def test_ngram_jaccard_identical_docs_is_one(spark):
    df = docs_df(spark, ["abcdefghij klmnop", "abcdefghij klmnop"])
    # same source bucket needed: force one bucket
    df = df.withColumn("source", F.lit("s"))
    out = dd.ngram_jaccard_pairs(df, n=3, threshold=0.0).collect()
    assert len(out) == 1 and out[0].jaccard == 1.0


def test_ngram_jaccard_multi_bucket_doc_fails_loudly(spark):
    # contract: bucket must be a function of the doc — the posting-frame
    # denominator derivation double-counts grams repeated across a doc's
    # buckets, so a doc spanning buckets must raise, not return a wrong
    # jaccard
    rows = [
        (0, "abcdefghij klmnop", "s1"),
        (0, "abcdefghij klmnop", "s2"),  # same doc, second bucket
        (1, "abcdefghij klmnop", "s1"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    with pytest.raises(Exception, match="multiple buckets"):
        dd.ngram_jaccard_pairs(df, n=3, threshold=0.0).collect()


def test_ngram_jaccard_all_null_bucket_fails_loudly(spark):
    # round-9 advisor: a bucket column that is NULL on EVERY row is a
    # broken bucket expression and must fail loudly (min/max are both
    # NULL per doc and a bare eqNullSafe would silently pass it)
    rows = [
        (0, "abcdefghij klmnop", None),
        (1, "abcdefghij klmnop", None),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    with pytest.raises(Exception, match="NULL on every row"):
        dd.ngram_jaccard_pairs(df, n=3, threshold=0.0).collect()


def test_ngram_jaccard_partial_null_bucket_is_legitimate(spark):
    # a PER-DOC null bucket is real data (corpora have null sources) —
    # NULL is one bucket key; docs inside it pair normally and the query
    # must not raise (the skew/dirty-key robustness suite's posture)
    rows = [
        (0, "abcdefghij klmnop", None),
        (1, "abcdefghij klmnop", None),
        (2, "abcdefghij klmnop", "s1"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    out = dd.ngram_jaccard_pairs(df, n=3, threshold=0.0).collect()
    assert {(r.a, r.b) for r in out} == {(0, 1)}  # null bucket pairs 0-1


def test_ngram_jaccard_mixed_null_bucket_doc_fails_loudly(spark):
    # a doc spanning the NULL bucket AND a named one is still the
    # multi-bucket contract violation — null-skipping min/max alone
    # would miss it (__has_null catches it)
    rows = [
        (0, "abcdefghij klmnop", None),
        (0, "abcdefghij klmnop", "s1"),
        (1, "abcdefghij klmnop", "s1"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    with pytest.raises(Exception, match="multiple buckets"):
        dd.ngram_jaccard_pairs(df, n=3, threshold=0.0).collect()


def _emb_df(spark):
    vecs = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.9, 0.1]),
        (4, [1.0, 0.01, 0.0]),
    ]
    return spark.createDataFrame(vecs, ["vec_id", "embedding"])


def test_cosine_topk_exact_neighbors(spark):
    emb = _emb_df(spark)
    out = sim.cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=2).collect()
    assert [r.match_id for r in sorted(out, key=lambda r: r.rank)] == [4, 1]


def test_cosine_topk_excludes_every_duplicate_self_row(spark):
    # Dirty ingest can land the same vec_id twice; BOTH copies must be
    # excluded as self matches — a first-occurrence-only sink lets the
    # second copy survive as a spurious sim=1.0 neighbor.
    vecs = [
        (0, [1.0, 0.0, 0.0]),
        (0, [1.0, 0.0, 0.0]),
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
    ]
    emb = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    out = sim.cosine_topk(emb, emb.filter(F.col("vec_id") == 0).limit(1), k=2).collect()
    assert all(r.match_id != 0 for r in out)
    assert [r.match_id for r in sorted(out, key=lambda r: r.rank)] == [1, 2]


def test_ivf_assign_puts_vector_with_nearest_centroid(spark):
    emb = _emb_df(spark)
    centroids = emb.filter(F.col("vec_id").isin(0, 2)).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    out = {r.vec_id: r.centroid_id for r in sim.ivf_assign(emb, centroids).collect()}
    assert out[1] == 0 and out[4] == 0
    assert out[3] == 2


def test_ivf_assign_and_train_step_accept_driver_rows(spark):
    """The driver-side (centroid_id, vector) sequence form must be
    row-identical to the DataFrame form for both ivf_assign and
    ivf_train_step (it skips only the collect job, never the math), and
    the oversized-state guard must still fire."""
    import pytest

    emb = _emb_df(spark)
    cent_df = emb.filter(F.col("vec_id").isin(0, 2)).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    cent_rows = [(r.centroid_id, list(r.embedding)) for r in cent_df.collect()]

    a = sim.ivf_assign(emb, cent_df)
    b = sim.ivf_assign(emb, cent_rows)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    sa = sim.ivf_train_step(emb, cent_df)
    sb = sim.ivf_train_step(emb, cent_rows)
    assert sa.exceptAll(sb).count() == 0 and sb.exceptAll(sa).count() == 0

    with pytest.raises(ValueError, match="more than"):
        sim.ivf_assign(emb, cent_rows, max_driver_rows=1)


def test_cosine_dup_pairs_threshold(spark):
    emb = _emb_df(spark)
    centroids = emb.filter(F.col("vec_id").isin(0, 2)).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    assigned = sim.ivf_assign(emb, centroids)
    pairs = {(r.a, r.b) for r in sim.cosine_dup_pairs(assigned, threshold=0.99).collect()}
    # cell {0,1,4}: cos(0,1)=.9939, cos(0,4)≈1, cos(1,4)=.9950 — all ≥ .99
    # cell {2,3}: cos(2,3)=.9939 ≥ .99. Cross-cell pairs never evaluated.
    assert pairs == {(0, 1), (0, 4), (1, 4), (2, 3)}


def test_capped_cell_count_accounting(spark):
    # the on-demand accounting behind cosine_dup_pairs' max_cell_size
    # opt-out: counts exactly the cells whose membership EXCEEDS the cap
    emb = _emb_df(spark)
    centroids = emb.filter(F.col("vec_id").isin(0, 2)).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    assigned = sim.ivf_assign(emb, centroids)
    # cells: {0,1,4} (size 3) and {2,3} (size 2)
    assert sim.capped_cell_count(assigned, max_cell_size=1) == 2
    assert sim.capped_cell_count(assigned, max_cell_size=2) == 1
    assert sim.capped_cell_count(assigned, max_cell_size=3) == 0
    # and the capped pairs frame is consistent with the accounting: with
    # cap=2 the 3-member cell is excluded, leaving only the (2,3) pair
    capped = {
        (r.a, r.b)
        for r in sim.cosine_dup_pairs(
            assigned, threshold=0.99, max_cell_size=2
        ).collect()
    }
    assert capped == {(2, 3)}


def test_embed_cosine_dup_query_not_vacuous(spark, sf_dir):
    # the registered query must EMIT pairs on the fixture — the driver's
    # hash gate passed three rounds on 0-vs-0 rows before τ was tuned to
    # the random-embedding cosine spread (σ ≈ 1/√64)
    from xena_gdc_etl_spark.workload import QUERIES

    assert QUERIES["embed_cosine_dup"](spark, sf_dir).count() > 0


def test_token_counts_exact(spark):
    df = docs_df(spark, ["ab cd  ef", "hi!"])
    out = {r.doc_id: (r.ws_tokens, r.bpe_tokens) for r in tx.token_counts(df).collect()}
    assert out[0] == (3, 3)
    assert out[1] == (1, 2)  # "hi" + "!"


def test_lang_id_picks_stopword_language(spark):
    df = docs_df(spark, ["der hund und die katze ist nicht da",
                         "the cat and the dog is in it"])
    out = {r.doc_id: r.predicted_lang for r in tx.lang_scores(df).collect()}
    assert out[0] == "de" and out[1] == "en"


def test_fingerprint_is_order_sensitive(spark):
    df = docs_df(spark, ["abc", "acb"])
    fps = [r.fingerprint for r in tx.fingerprints(df).orderBy("doc_id").collect()]
    assert fps[0] != fps[1]


def test_multimodal_features_deterministic_and_batched(spark):
    docs = docs_df(spark, ["hello", "world", "spark"]).repartition(2)
    media = mm.attach_binary_payload(docs)
    out = mm.extract_features(media).collect()
    assert len(out) == 3
    by_id = {r.media_id: r for r in out}
    assert by_id[0].n_bytes == 5
    assert len(by_id[0].features) == 8
    assert all(0.0 <= f <= 1.0 for f in by_id[0].features)
    # deterministic across runs/partitionings
    again = {r.media_id: r.features for r in mm.extract_features(media.repartition(3)).collect()}
    assert again[1] == by_id[1].features


def test_connected_components_pairs(spark):
    # components: {1,2,3,7} (chain 1-2, 2-3, 3-7), {5,6}, singleton {9}
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (7, 3), (5, 6)], ["a", "b"]
    )
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 5, 6, 7, 9]], ["doc_id"])
    out = {r.doc_id: r.cluster_id for r in dd.connected_components(pairs, nodes).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 7: 1, 5: 5, 6: 5, 9: 9}


def test_connected_components_iteration_exhaustion_one_row_per_node(spark):
    """Round-8 advisor (low): if max_iterations exhausts before the star
    fixpoint, the intermediate edge set can hold multi-parent children and
    the final left join would silently DUPLICATE node rows. The guard must
    warn and still emit exactly one row per node (min-parent label)."""
    import warnings

    # long chain => needs >0 alternation rounds; max_iterations=0 exits
    # the loop unconverged with the raw canonical edge set as the "star"
    chain = [(i + 1, i) for i in range(1, 12)]
    pairs = spark.createDataFrame(chain, ["a", "b"])
    nodes = spark.createDataFrame([(i,) for i in range(1, 13)], ["doc_id"])
    stats = {}
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        rows = dd.connected_components(
            pairs, nodes, driver_max_edges=None, max_iterations=0, stats=stats
        ).collect()
    assert stats["converged"] is False
    assert any("did not converge" in str(w.message) for w in caught)
    ids = [r.doc_id for r in rows]
    assert sorted(ids) == list(range(1, 13))  # one row per node, no dups
    # converged run on the same graph: no warning, correct labels
    stats2 = {}
    out = {
        r.doc_id: r.cluster_id
        for r in dd.connected_components(
            pairs, nodes, driver_max_edges=None, stats=stats2
        ).collect()
    }
    assert stats2["converged"] is True
    assert out == {i: 1 for i in range(1, 13)}


def test_connected_components_bipartite_matches_pair_form(spark):
    # doc->bucket memberships; components via shared buckets:
    # b1:{10,11}, b2:{11,12}, b3:{20,21} => {10,11,12}, {20,21}, {30}
    assign = spark.createDataFrame(
        [(10, "b1"), (11, "b1"), (11, "b2"), (12, "b2"), (20, "b3"), (21, "b3"), (30, "b4")],
        ["doc_id", "bkey"],
    )
    # node 40 has NO bucket row (zero-shingle doc): must come back as its
    # own singleton via the frozen path, not vanish
    nodes = spark.createDataFrame(
        [(i,) for i in [10, 11, 12, 20, 21, 30, 40]], ["doc_id"]
    )
    out = {
        r.doc_id: r.cluster_id
        for r in dd.connected_components_bipartite(nodes, assign).collect()
    }
    assert out == {10: 10, 11: 10, 12: 10, 20: 20, 21: 20, 30: 30, 40: 40}


def test_connected_components_paths_agree(spark):
    """The driver union-find fallback and the distributed min-label loops
    produce identical labelings (min reachable id) for BOTH graph forms —
    driver_max_edges=None forces the distributed path."""
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (7, 3), (5, 6)], ["a", "b"]
    )
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 5, 6, 7, 9]], ["doc_id"])
    fast = {r.doc_id: r.cluster_id for r in dd.connected_components(pairs, nodes).collect()}
    dist = {
        r.doc_id: r.cluster_id
        for r in dd.connected_components(
            pairs, nodes, driver_max_edges=None
        ).collect()
    }
    assert fast == dist == {1: 1, 2: 1, 3: 1, 7: 1, 5: 5, 6: 5, 9: 9}

    assign = spark.createDataFrame(
        [(10, "b1"), (11, "b1"), (11, "b2"), (12, "b2"), (20, "b3"), (21, "b3"), (30, "b4")],
        ["doc_id", "bkey"],
    )
    bnodes = spark.createDataFrame(
        [(i,) for i in [10, 11, 12, 20, 21, 30, 40]], ["doc_id"]
    )
    bfast = {
        r.doc_id: r.cluster_id
        for r in dd.connected_components_bipartite(bnodes, assign).collect()
    }
    bdist = {
        r.doc_id: r.cluster_id
        for r in dd.connected_components_bipartite(
            bnodes, assign, driver_max_edges=None
        ).collect()
    }
    assert bfast == bdist == {
        10: 10, 11: 10, 12: 10, 20: 20, 21: 20, 30: 30, 40: 40,
    }


def test_connected_components_string_ids_both_paths(spark):
    # string doc ids exercise the hash-based convergence fingerprint in
    # the distributed loops (the exact decimal-sum fingerprint is
    # numeric-only); both graph forms, both paths, identical labels
    pairs = spark.createDataFrame([("d-b", "d-a"), ("d-b", "d-c")], ["a", "b"])
    nodes = spark.createDataFrame(
        [(i,) for i in ["d-a", "d-b", "d-c", "d-z"]], ["doc_id"]
    )
    want = {"d-a": "d-a", "d-b": "d-a", "d-c": "d-a", "d-z": "d-z"}
    for cap in (1_000_000, None):
        got = {
            r.doc_id: r.cluster_id
            for r in dd.connected_components(
                pairs, nodes, driver_max_edges=cap
            ).collect()
        }
        assert got == want, f"cap={cap}"
    assign = spark.createDataFrame(
        [("d-a", "b1"), ("d-b", "b1"), ("d-b", "b2"), ("d-c", "b2")],
        ["doc_id", "bkey"],
    )
    for cap in (1_000_000, None):
        got = {
            r.doc_id: r.cluster_id
            for r in dd.connected_components_bipartite(
                nodes, assign, driver_max_edges=cap
            ).collect()
        }
        assert got == want, f"bipartite cap={cap}"


def test_connected_components_string_ids_driver_path(spark):
    # the driver union-find must round-trip non-numeric ids (GDC-style
    # UUID doc ids) through pandas and back into the broadcast mapping
    pairs = spark.createDataFrame(
        [("d-b", "d-a"), ("d-b", "d-c")], ["a", "b"]
    )
    nodes = spark.createDataFrame(
        [(i,) for i in ["d-a", "d-b", "d-c", "d-z"]], ["doc_id"]
    )
    out = {r.doc_id: r.cluster_id for r in dd.connected_components(pairs, nodes).collect()}
    assert out == {"d-a": "d-a", "d-b": "d-a", "d-c": "d-a", "d-z": "d-z"}


@pytest.mark.parametrize(
    "cap", [dd.CC_DRIVER_MAX_EDGES, None], ids=["driver", "distributed"]
)
@pytest.mark.parametrize("form", ["pairs", "bipartite"])
def test_connected_components_null_links_connect_nothing(spark, form, cap):
    """A null pair endpoint or a null bucket links nothing, on both forms
    and both branches: one row per node, and a node whose only links are
    null is a singleton. Null endpoints used to raise ``KeyError: nan``
    (long ids) or a ``TypeError`` (string ids) on the pairwise driver
    branch; the bipartite distributed branch dropped null-bucket-only
    nodes and its driver branch merged them into one cluster."""
    for typ, ids in (("long", [1, 2, 3, 4]), ("string", ["a", "b", "c", "d"])):
        n1, n2, n3, n4 = ids
        nodes = spark.createDataFrame([(i,) for i in ids], f"doc_id {typ}")
        if form == "pairs":
            links = spark.createDataFrame(
                [(n1, n2), (n3, None), (None, n4), (None, None)],
                f"a {typ}, b {typ}",
            )
            out = dd.connected_components(links, nodes, driver_max_edges=cap)
        else:
            links = spark.createDataFrame(
                [(n1, "b1"), (n2, "b1"), (n3, None), (n4, None), (None, "b1")],
                f"doc_id {typ}, bkey string",
            )
            out = dd.connected_components_bipartite(
                nodes, links, driver_max_edges=cap
            )
        rows = out.collect()
        assert len(rows) == 4, (typ, rows)
        assert {r.doc_id: r.cluster_id for r in rows} == {
            n1: n1, n2: n1, n3: n3, n4: n4,
        }, typ


def test_connected_components_validate_rejects_foreign_ids(spark):
    # pairs ⊆ nodes is a documented precondition (the two paths
    # legitimately differ under a violation); validate=True pays one
    # anti-join and fails loudly instead
    pairs = spark.createDataFrame([("d-a", "d-x")], ["a", "b"])
    nodes = spark.createDataFrame([("d-a",), ("d-b",)], ["doc_id"])
    with pytest.raises(ValueError, match="absent from nodes"):
        dd.connected_components(pairs, nodes, validate=True)
    # a conforming pair set passes under validate
    ok_pairs = spark.createDataFrame([("d-a", "d-b")], ["a", "b"])
    out = {
        r.doc_id: r.cluster_id
        for r in dd.connected_components(
            ok_pairs, nodes, validate=True
        ).collect()
    }
    assert out == {"d-a": "d-a", "d-b": "d-a"}


def test_connected_components_stats_report_path_and_rounds(spark):
    pairs = spark.createDataFrame([("d-a", "d-b"), ("d-b", "d-c")], ["a", "b"])
    nodes = spark.createDataFrame(
        [(i,) for i in ["d-a", "d-b", "d-c"]], ["doc_id"]
    )
    st_driver: dict = {}
    dd.connected_components(pairs, nodes, stats=st_driver).collect()
    assert st_driver["path"] == "driver_union_find"
    st_dist: dict = {}
    dd.connected_components(
        pairs, nodes, driver_max_edges=0, stats=st_dist
    ).collect()
    assert st_dist["path"] == "distributed_alternating_star"
    assert st_dist["rounds"] >= 2  # at least one change round + fixpoint
    assert len(st_dist["round_secs"]) == st_dist["rounds"]


def test_connected_components_random_graphs_paths_agree(spark):
    # fixed-seed random graphs: the alternating-star distributed engine
    # must label exactly like the driver union-find on arbitrary shapes
    # (mixed cliques, chains, singletons)
    import random

    rng = random.Random(8)
    n = 200
    edges = set()
    # sparse random edges + a deliberate long chain + a clique
    for _ in range(150):
        a, b = rng.randrange(n), rng.randrange(n)
        if a != b:
            edges.add((max(a, b), min(a, b)))
    for i in range(100, 140):  # chain
        edges.add((i + 1, i))
    for i in range(150, 160):  # clique block
        for j in range(150, i):
            edges.add((i, j))
    pairs = spark.createDataFrame(sorted(edges), ["a", "b"])
    nodes = spark.createDataFrame([(i,) for i in range(n)], ["doc_id"])
    fast = {
        r.doc_id: r.cluster_id
        for r in dd.connected_components(pairs, nodes).collect()
    }
    dist = {
        r.doc_id: r.cluster_id
        for r in dd.connected_components(
            pairs, nodes, driver_max_edges=0
        ).collect()
    }
    assert fast == dist
    assert len(fast) == n


def test_connected_components_chain_converges_logarithmically(spark):
    # a 64-node path graph has diameter 63: pure min-label propagation
    # needs ~64 rounds, pointer-jumping must land it in O(log n)
    n = 64
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["a", "b"]
    )
    nodes = spark.createDataFrame([(i,) for i in range(n)], ["doc_id"])
    st: dict = {}
    out = dd.connected_components(
        pairs, nodes, driver_max_edges=0, stats=st
    ).collect()
    assert {r.cluster_id for r in out} == {0}
    assert len(out) == n
    assert st["rounds"] <= 12, st["rounds"]


def test_spread_to_cores_skips_filled_scans(spark):
    # a frame already at (or above) core parallelism must NOT pay the
    # spread shuffle; an underfilled one must — unless it is so small
    # that the matmul-family size floor says one task beats the fan-out
    from xena_gdc_etl_spark.plans import shuffle_count

    par = spark.sparkContext.defaultParallelism
    wide = spark.range(1000).repartition(par + 4).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"),
    )
    # Range stats are 8 B/row: 4M rows ≈ 32 MiB — above the matmul floor
    # (4 MiB), below par x 16 MiB underfill at any par >= 2
    narrow = spark.range(4_000_000).coalesce(1).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"),
    )
    tiny = spark.range(1000).coalesce(1).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"),
    )
    spread_wide = sim._spread_to_cores(wide, par)
    spread_narrow = sim._spread_to_cores(narrow, par)
    spread_tiny = sim._spread_to_cores(tiny, par)
    # shuffle_count counts the input's own repartition too, so compare
    # DELTAS: spreading must add zero exchanges to the filled frame and
    # exactly one to the underfilled frame; the sub-floor frame stays
    # single-task (constant fan-out: the exchange would cost more than
    # the compute it parallelizes)
    assert shuffle_count(spread_wide) == shuffle_count(wide)
    assert shuffle_count(spread_narrow) == shuffle_count(narrow) + 1
    assert shuffle_count(spread_tiny) == shuffle_count(tiny)


def test_minhash_jaccard_estimate_bounds(spark):
    df = docs_df(spark, ["the quick brown fox jumps over", "the quick brown fox jumps over",
                         "totally different content here now"])
    sig = dd.minhash_signatures(dd.shingles(df, k=3, distinct=False), num_hashes=8)
    pairs = spark.createDataFrame([(0, 1), (0, 2)], ["a", "b"])
    out = {(r.a, r.b): r.est_jaccard for r in dd.minhash_jaccard_estimate(pairs, sig).collect()}
    assert out[(0, 1)] == 1.0  # identical docs agree on every slot
    assert out[(0, 2)] < 1.0


def test_normalize_text(spark):
    df = docs_df(spark, ["  Hello,   WORLD!! ", "hello world"])
    out = [r.n for r in df.select(dd.normalize_text("text").alias("n")).collect()]
    assert out[0] == out[1] == "hello world"


def test_quantize_int8_reconstruction(spark):
    emb = spark.createDataFrame(
        [(0, [1.0, -2.0, 0.5]), (1, [0.1, 0.0, -0.1])],
        "vec_id long, embedding array<double>",
    )
    out = {r.vec_id: r for r in sim.quantize_int8(emb).collect()}
    assert out[0].q == [64, -127, 32]  # floor(x*63.5+0.5)
    assert all(-127 <= q <= 127 for r in out.values() for q in r.q)
    # reconstruction error bounded by half a quantization step
    for r in out.values():
        orig = {0: [1.0, -2.0, 0.5], 1: [0.1, 0.0, -0.1]}[r.vec_id]
        for x, q in zip(orig, r.q):
            assert abs(q / r.scale - x) <= (0.5 / r.scale) + 1e-9


def test_ivf_train_converges_and_deterministic(spark):
    # two tight 2-D clusters around (0,0) and (10,10)
    pts = [(i, [0.9 + 0.01 * i, 1.1 - 0.01 * i]) for i in range(4)] + [
        (i + 4, [10.0 + 0.05 * i, 9.9 - 0.05 * i]) for i in range(4)
    ]
    vecs = spark.createDataFrame(pts, "vec_id long, embedding array<double>")
    cents = {
        r.centroid_id: r.embedding
        for r in sim.ivf_train(vecs, k=2, iterations=3).collect()
    }
    assert len(cents) == 2
    small = min(cents.values(), key=lambda c: c[0])
    big = max(cents.values(), key=lambda c: c[0])
    assert all(abs(x - y) < 0.2 for x, y in zip(small, [0.915, 1.085]))
    assert all(x > 9.5 for x in big)
    # byte-deterministic on a rerun over the SAME partitioning
    rerun = {
        r.centroid_id: r.embedding
        for r in sim.ivf_train(vecs, k=2, iterations=3).collect()
    }
    assert rerun == cents
    # repartitioning re-associates the per-cell mean fold, so the
    # contract across partitionings is ulp-level agreement, not byte
    # equality (the conditional core-spread no longer canonicalizes an
    # input that already fills the cores — see _spread_to_cores)
    again = {
        r.centroid_id: r.embedding
        for r in sim.ivf_train(vecs.repartition(5), k=2, iterations=3).collect()
    }
    assert set(again) == set(cents)
    for cid, vec in cents.items():
        assert all(
            abs(a - b) < 1e-9 for a, b in zip(vec, again[cid])
        ), (cid, vec, again[cid])


def test_norm_outliers_flags_and_null_safety(spark):
    """Null embeddings drop (not crash); the obvious outlier is flagged
    and unit-norm vectors are not."""
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.0, 1.0]),
        (2, [0.8, 0.6]),
        (3, [100.0, 0.0]),  # the outlier
        (4, None),
    ]
    vecs = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    out = {r.vec_id: r for r in sim.norm_outliers(vecs).collect()}
    assert set(out) == {0, 1, 2, 3}
    assert out[3].is_outlier == 0 or out[3].z > 0  # sanity: z positive
    # with 4 points {1,1,1,100}: z(100) = (100-25.75)/sd > 1.49 ≈ sd 49.5
    assert out[3].z > 1.4
    assert out[0].is_outlier == 0 and out[1].is_outlier == 0


def test_cc_dispatch_default_is_the_measured_crossover():
    """The driver/distributed dispatch cap is a measured constant
    (BASELINE §cc-crossover): driver strictly
    faster ≤ 2M edges on both bracket shapes, distributed faster by the
    real 8.5M-edge sf1 graph. Pin the default to the documented
    measurement so a drive-by edit can't silently detach them; both
    dispatch sides' LABEL parity is pinned by test_cc_property and the
    boundary tests above."""
    import inspect

    assert dd.CC_DRIVER_MAX_EDGES == 2_000_000
    for fn in (dd.connected_components, dd.connected_components_bipartite):
        sig = inspect.signature(fn)
        assert (
            sig.parameters["driver_max_edges"].default
            == dd.CC_DRIVER_MAX_EDGES
        ), fn.__name__


def test_ivf_train_step_is_the_trainer_round_body(spark):
    """ivf_train(iterations=1) must equal ivf_train_step run on the
    trainer's own init state (the k smallest-id vectors) — the factored
    step IS the round body, so the oracle-gated kmeans_round query
    really gates the trainer's numerics."""
    pts = [(i, [0.9 + 0.01 * i, 1.1 - 0.01 * i]) for i in range(4)] + [
        (i + 4, [10.0 + 0.05 * i, 9.9 - 0.05 * i]) for i in range(4)
    ]
    vecs = spark.createDataFrame(pts, "vec_id long, embedding array<double>")
    trained = {
        r.centroid_id: r.embedding
        for r in sim.ivf_train(vecs, k=2, iterations=1).collect()
    }
    init = spark.createDataFrame(
        [(0, pts[0][1]), (1, pts[1][1])],
        "centroid_id long, embedding array<double>",
    )
    stepped = {
        r.centroid_id: r.embedding
        for r in sim.ivf_train_step(vecs, init).collect()
    }
    assert set(stepped) == set(trained)
    for cid in trained:
        assert all(
            abs(a - b) < 1e-12 for a, b in zip(trained[cid], stepped[cid])
        ), (cid, trained[cid], stepped[cid])


def test_ivf_train_step_empty_cell_keeps_previous(spark):
    """A cell that attracts no vectors keeps its frozen centroid with
    n_members = 0 (ivf_train's keep-previous rule)."""
    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.99, 0.01])],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [-1.0, 0.0])],
        "centroid_id long, embedding array<double>",
    )
    out = {r.centroid_id: r for r in sim.ivf_train_step(vecs, cents).collect()}
    assert out[0].n_members == 2
    assert out[1].n_members == 0 and out[1].embedding == [-1.0, 0.0]


def test_ivf_train_step_sequence_form_drops_none_and_rejects_empty(spark):
    """The driver-side centroid sequence honours the DataFrame form's null
    contract: a None vector is dropped (not a TypeError), and an empty or
    all-None sequence is a clear ValueError (not an IndexError)."""
    import pytest

    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.99, 0.01])],
        "vec_id long, embedding array<double>",
    )
    state = [(0, None), (1, [1.0, 0.0]), (2, [-1.0, 0.0])]
    out = {r.centroid_id: r for r in sim.ivf_train_step(vecs, state).collect()}
    assert set(out) == {1, 2}
    assert out[1].n_members == 2
    assert out[2].n_members == 0 and out[2].embedding == [-1.0, 0.0]
    for bad in ([], [(0, None)]):
        with pytest.raises(ValueError, match="empty or all-None"):
            sim.ivf_train_step(vecs, bad)


def test_resize_media_deterministic_dims(spark):
    media = mm.attach_binary_payload(docs_df(spark, ["hello world", "spark engine"]))
    out = {r.media_id: r for r in mm.resize_media(media, width=8, height=4).collect()}
    assert all(len(bytes(r.payload)) == 32 for r in out.values())
    assert all((r.width, r.height) == (8, 4) for r in out.values())
    again = {r.media_id: bytes(r.payload) for r in mm.resize_media(media.repartition(3), 8, 4).collect()}
    assert again == {k: bytes(v.payload) for k, v in out.items()}


def test_sample_frames_expands_cardinality(spark):
    texts = ["x" * 200, "y" * 200, "z" * 200]  # ids 0,1,2 → modality video for id 2
    media = mm.attach_binary_payload(docs_df(spark, texts))
    frames = mm.sample_frames(media, frame_bytes=32, every_n=2).collect()
    assert all(r.media_id == 2 for r in frames)  # only the video row
    # 200 bytes → 6 frames → sampled 0,2,4
    assert sorted(r.frame_idx for r in frames) == [0, 2, 4]
    assert all(len(bytes(r.frame_payload)) == 32 for r in frames)


def test_scrub_pii_redacts_and_counts(spark):
    df = docs_df(spark, [
        "contact me at jane.doe@example.com or +1 555-123-4567 now",
        "server 192.168.0.1 is fine",
        "nothing sensitive here",
    ])
    out = {r.doc_id: r for r in tx.scrub_pii(df).collect()}
    assert out[0].n_email == 1 and out[0].n_phone == 1
    assert "<EMAIL>" in out[0].scrubbed_text and "<PHONE>" in out[0].scrubbed_text
    assert "jane.doe" not in out[0].scrubbed_text
    assert out[1].n_ipv4 == 1 and "<IP>" in out[1].scrubbed_text
    assert out[2].scrubbed_text == "nothing sensitive here"


def test_simhash_pairs_finds_close_fingerprints(spark):
    # hand-built fingerprints: 0b1111000011110000 vs flipped-2-bits copy
    # (hamming 2, must be found), vs a far fingerprint (hamming 8, dropped)
    fps = spark.createDataFrame(
        [(1, 0b1111000011110000), (2, 0b1111000011111100),
         (3, 0b0000111111110000)],
        ["doc_id", "simhash"],
    )
    out = {(r.a, r.b): r.hamming for r in dd.simhash_pairs(
        fps, bits=16, bands=4, max_distance=3
    ).collect()}
    assert out == {(1, 2): 2}


def test_simhash_pairs_pigeonhole_guard(spark):
    fps = spark.createDataFrame([(1, 0)], ["doc_id", "simhash"])
    with pytest.raises(ValueError):
        dd.simhash_pairs(fps, bits=16, bands=4, max_distance=4)


def test_simhash_pairs_exact_duplicates_hamming_zero(spark):
    df = docs_df(spark, ["the quick brown fox jumps", "the quick brown fox jumps"])
    fps = dd.simhash(df, bits=16)
    out = dd.simhash_pairs(fps, bits=16, bands=4, max_distance=3).collect()
    assert [(r.a, r.b, r.hamming) for r in out] == [(0, 1, 0)]


def test_simhash_64bit_default_uses_full_width(spark):
    # The 64-bit scale default must be partition-invariant and actually
    # populate the top nibble of the fingerprint (bits 60-63 come from
    # xxhash64, not the 60-bit md5 path) across a modest vocabulary.
    texts = [f"word{i} token{i * 7} item{i * 13} thing{i * 29}" for i in range(40)]
    df = docs_df(spark, texts)
    fps1 = {r.doc_id: r.simhash for r in dd.simhash(df).collect()}
    fps2 = {r.doc_id: r.simhash for r in dd.simhash(df.repartition(7)).collect()}
    assert fps1 == fps2
    assert any(fp >> 60 != 0 for fp in fps1.values())  # top bits in play


def test_simhash_pairs_64bit_handles_negative_fingerprints(spark):
    # bit 63 set -> fingerprint is a negative long; banding and bit_count
    # verification must still be exact. fp_b flips 2 low bits of fp_a.
    fp_a = -(2**63) + 0xF0F0
    fp_b = fp_a ^ 0b0011
    fps = spark.createDataFrame(
        [(1, fp_a), (2, fp_b), (3, 0x0FF0)], ["doc_id", "simhash"]
    )
    out = {
        (r.a, r.b): r.hamming
        for r in dd.simhash_pairs(fps, max_distance=3).collect()
    }
    assert out == {(1, 2): 2}


def test_simhash_pairs_exact_duplicates_default_config(spark):
    df = docs_df(spark, ["the quick brown fox jumps", "the quick brown fox jumps"])
    out = dd.simhash_pairs(dd.simhash(df)).collect()
    assert [(r.a, r.b, r.hamming) for r in out] == [(0, 1, 0)]


def _pq_vectors(spark, n=40, dim=8, seed_groups=4):
    # clustered synthetic vectors: group g centers at g*10 in every dim
    rows = [
        (i, [float((i % seed_groups) * 10 + (i % 3) * 0.1 + d * 0.01) for d in range(dim)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_pq_train_encode_shapes_and_determinism(spark):
    vecs = _pq_vectors(spark)
    books = sim.pq_train(vecs, m=4, k=4, iterations=2)
    assert len(books) == 4 and all(b.shape == (4, 2) for b in books)
    # deterministic: retraining gives identical codebooks
    books2 = sim.pq_train(vecs, m=4, k=4, iterations=2)
    for a, b in zip(books, books2):
        assert (a == b).all()
    codes = {r.vec_id: r.codes for r in sim.pq_encode(vecs, books).collect()}
    assert len(codes) == 40
    assert all(len(c) == 4 and all(0 <= x < 4 for x in c) for c in codes.values())
    # identical vectors encode identically; distant groups encode differently
    assert codes[0] == codes[12]  # same group (i % 4 == 0), same pattern
    assert codes[0] != codes[1]


def test_pq_encode_partition_invariant(spark):
    vecs = _pq_vectors(spark)
    books = sim.pq_train(vecs, m=4, k=4, iterations=2)
    one = {r.vec_id: list(r.codes) for r in sim.pq_encode(vecs, books).collect()}
    many = {
        r.vec_id: list(r.codes)
        for r in sim.pq_encode(vecs.repartition(7), books).collect()
    }
    assert one == many


def test_pq_topk_finds_group_neighbours(spark):
    vecs = _pq_vectors(spark)
    books = sim.pq_train(vecs, m=4, k=8, iterations=3)
    codes = sim.pq_encode(vecs, books)
    queries = vecs.filter(F.col("vec_id") < 4)  # one per group
    out = sim.pq_topk(codes, queries, books, k=5)
    rows = out.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r.match_id)
    for qid, matches in by_q.items():
        assert len(matches) == 5
        # ADC neighbours of a group-g query are overwhelmingly group-g
        same_group = sum(1 for m_ in matches if m_ % 4 == qid % 4)
        assert same_group >= 4, (qid, matches)
    # a None codes row (dirty ingest) is dropped like a None vector is,
    # not crashed on, and changes nothing
    dirty = codes.unionByName(
        spark.createDataFrame([(999, None)], "vec_id long, codes array<int>")
    )
    again = sim.pq_topk(dirty, queries, books, k=5).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, rows))


def test_ivf_pq_topk_recall_and_determinism(spark):
    vecs = _pq_vectors(spark, n=48, dim=8, seed_groups=4)
    queries = vecs.filter(F.col("vec_id") < 4)
    out = sim.ivf_pq_topk(
        vecs, queries, n_cells=4, m=4, k_codebook=8, k=5, nprobe=2
    )
    rows = out.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r.match_id)
    assert set(by_q) == {0, 1, 2, 3}
    for qid, matches in by_q.items():
        assert len(matches) == 5
        # neighbours of a group-g query are overwhelmingly group-g
        same = sum(1 for m_ in matches if m_ % 4 == qid % 4)
        assert same >= 4, (qid, matches)
    # deterministic + partition-invariant (hash/window tiebreaks only)
    again = sim.ivf_pq_topk(
        vecs.repartition(7), queries, n_cells=4, m=4, k_codebook=8, k=5, nprobe=2
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_ivf_pq_probe_widening_recovers_pq_topk(spark):
    # with nprobe = n_cells the IVF restriction vanishes: results must
    # equal plain pq_topk over the full corpus (same codebooks/k)
    vecs = _pq_vectors(spark, n=40, dim=8, seed_groups=4)
    queries = vecs.filter(F.col("vec_id") < 3)
    full = sim.ivf_pq_topk(
        vecs, queries, n_cells=4, m=4, k_codebook=8, k=4, nprobe=4
    ).collect()
    books = sim.pq_train(vecs, m=4, k=8, iterations=3)
    plain = sim.pq_topk(
        sim.pq_encode(vecs, books), queries, books, k=4
    ).collect()
    assert sorted(map(tuple, full)) == sorted(map(tuple, plain))


def test_pq_respects_custom_id_column(spark):
    vecs = _pq_vectors(spark).withColumnRenamed("vec_id", "item_id")
    books = sim.pq_train(vecs, m=4, k=4, iterations=2, id_col="item_id")
    codes = sim.pq_encode(vecs, books, id_col="item_id")
    assert codes.columns == ["item_id", "codes"]
    out = sim.pq_topk(
        codes, vecs.filter(F.col("item_id") < 2), books, id_col="item_id", k=3
    )
    assert {r.query_id for r in out.collect()} == {0, 1}


def test_broadcast_side_size_guard(spark):
    import pytest

    vecs = _pq_vectors(spark, n=20)
    with pytest.raises(ValueError, match="collected"):
        sim.cosine_topk(vecs, vecs, k=2, max_driver_rows=10)
    with pytest.raises(ValueError, match="collected"):
        sim.ivf_assign(
            vecs,
            vecs.withColumnRenamed("vec_id", "centroid_id"),
            max_driver_rows=10,
        )
    # under the bound, results are unchanged
    q = vecs.filter(F.col("vec_id") < 3)
    a = sim.cosine_topk(vecs, q, k=2).collect()
    b = sim.cosine_topk(vecs, q, k=2, max_driver_rows=10).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_pq_clear_errors_on_bad_inputs(spark):
    import pytest

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="empty or all-null"):
        sim.pq_train(empty, m=4, k=4)
    vecs = _pq_vectors(spark)
    books = sim.pq_train(vecs, m=4, k=4, iterations=1)
    mislabeled = sim.pq_encode(vecs, books).withColumnRenamed("codes", "cd")
    with pytest.raises(ValueError, match="codes_id_col/codes_col"):
        sim.pq_topk(mislabeled, vecs.limit(1), books)


def test_semantic_dedup_clusters_and_keep(spark):
    # cell A: vecs 0,1,4 mutually similar; cell B: 2,3 similar. With a high
    # tau, transitive closure still merges 0-1-4 (0~1, 1~4 at least) and
    # keeps only the smallest id of each cluster.
    emb = _emb_df(spark)
    centroids = emb.filter(F.col("vec_id").isin(0, 2)).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    assigned = sim.ivf_assign(emb, centroids)
    out = {r.vec_id: (r.cluster_id, r.keep)
           for r in sim.semantic_dedup(assigned, threshold=0.99).collect()}
    assert out[0] == (0, 1) and out[1] == (0, 0) and out[4] == (0, 0)
    assert out[2] == (2, 1) and out[3] == (2, 0)
    # raising tau past every pairwise sim -> everything is a kept singleton
    solo = {r.vec_id: (r.cluster_id, r.keep)
            for r in sim.semantic_dedup(assigned, threshold=1.01).collect()}
    assert all(c == v and k == 1 for v, (c, k) in solo.items())


def test_leakage_safe_split_keeps_clusters_together(spark):
    """leakage_safe_split contract: every near-dup cluster lands entirely
    on ONE side of the split (the contamination guard for eval sets), and
    the assignment is a pure function of the cluster id."""
    from pyspark.sql import functions as F

    from xena_gdc_etl_spark.operators.sampling import split_assign

    # two 3-doc clusters + singletons, as (doc_id, cluster_id) labels
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 4), (7, 7), (8, 8)],
        ["doc_id", "cluster_id"],
    )
    out = split_assign(labels, "cluster_id").select(
        "doc_id", "cluster_id", "split"
    )
    per_cluster = (
        out.groupBy("cluster_id")
        .agg(F.count_distinct("split").alias("n_splits"))
        .collect()
    )
    assert all(r.n_splits == 1 for r in per_cluster)
    # deterministic: re-running yields byte-identical assignments
    a = sorted(tuple(r) for r in out.collect())
    b = sorted(
        tuple(r)
        for r in split_assign(labels, "cluster_id")
        .select("doc_id", "cluster_id", "split")
        .collect()
    )
    assert a == b


def test_ivf_assign_probes_widen_search(spark):
    """Multi-probe contract: nprobe rows per vector; the first probe is
    exactly ivf_assign's cell; feeding probes into ivf_topk can only
    widen the candidate set (top-k sims ≥ single-cell sims per query)."""
    emb = _emb_df(spark)
    centroids = emb.filter(F.col("vec_id").isin(0, 2)).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    probes = sim.ivf_assign(emb, centroids, nprobe=2)
    rows = probes.collect()
    assert len(rows) == 2 * emb.count()
    single = {r.vec_id: r.centroid_id for r in sim.ivf_assign(emb, centroids).collect()}
    # the NEAREST probe per vector == ivf_assign's choice
    from collections import defaultdict

    by_vec = defaultdict(set)
    for r in rows:
        by_vec[r.vec_id].add(r.centroid_id)
    assert all(single[v] in cells for v, cells in by_vec.items())
    assert all(cells == {0, 2} for cells in by_vec.values())  # 2 cells total

    assigned = sim.ivf_assign(emb, centroids)
    q1 = sim.ivf_topk(assigned, assigned.filter(F.col("vec_id") == 1), k=3)
    q2 = sim.ivf_topk(
        assigned,
        sim.ivf_assign(
            emb.filter(F.col("vec_id") == 1), centroids, nprobe=2
        ),
        k=3,
    )
    s1 = sorted((r.sim for r in q1.collect()), reverse=True)
    s2 = sorted((r.sim for r in q2.collect()), reverse=True)
    assert len(s2) >= len(s1)
    assert all(b >= a for a, b in zip(s1, s2))  # widened search dominates


def test_ivf_assign_multi_probe_accepts_driver_rows(spark):
    """The multi-probe form takes the driver-side (centroid_id, vector)
    sequence too, with the same rows as the DataFrame form."""
    emb = _emb_df(spark)
    cent_df = emb.filter(F.col("vec_id").isin(0, 2, 4)).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    cent_rows = [(r.centroid_id, list(r.embedding)) for r in cent_df.collect()]
    a = sim.ivf_assign(emb, cent_df, nprobe=2)
    b = sim.ivf_assign(emb, cent_rows, nprobe=2)
    assert a.count() == 2 * emb.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def _brute_topk(cands, k, descending):
    """(query_id, match_id, score, rank) rows: each query's first k
    candidates by score, then match_id ascending."""
    out = []
    for q in sorted({c[0] for c in cands}):
        mine = sorted(
            (c for c in cands if c[0] == q),
            key=lambda c: (-c[2] if descending else c[2], c[1]),
        )
        out += [(q, mid, s, r + 1) for r, (_, mid, s) in enumerate(mine[:k])]
    return sorted(out)


def test_ivf_topk_randomized_brute_equivalence(spark):
    """ivf_topk == a NumPy brute force over the assigned rows: for every
    query row, every member row of the same cell whose id differs,
    rounded cosine DESC, then id asc. Small integer vectors make tied
    scores common; member and query ids repeat (dirty ingest)."""
    import numpy as np

    rng = np.random.default_rng(1414)
    for case, (n, n_cells, nprobe, k) in enumerate([
        (40, 3, 1, 4),
        (90, 4, 2, 6),
        (120, 5, 5, 3),
    ]):
        vecs = rng.integers(-1, 2, size=(n, 3)).astype(float)
        ids = rng.integers(0, n // 2, size=n)
        rows = [(int(ids[i]), [float(x) for x in vecs[i]]) for i in range(n)]
        schema = "vec_id bigint, embedding array<double>"
        emb = spark.createDataFrame(rows, schema)
        cents = [(c, [float(x) for x in rng.normal(size=3)])
                 for c in range(n_cells)]
        assigned = sim.ivf_assign(emb, cents)
        queries = sim.ivf_assign(
            spark.createDataFrame(rows[: n // 4], schema), cents, nprobe=nprobe
        )
        got = sorted(
            tuple(r) for r in sim.ivf_topk(assigned, queries, k=k).collect()
        )

        def unit(v):
            v = np.array(v)
            norm = np.linalg.norm(v)
            return v / norm if norm else v

        members = [(r.vec_id, r.centroid_id, unit(r.embedding))
                   for r in assigned.collect()]
        cands = [
            (q.vec_id, mid, round(float(unit(q.embedding) @ mv), 6))
            for q in queries.collect()
            for mid, cell, mv in members
            if cell == q.centroid_id and mid != q.vec_id
        ]
        assert len({c[2] for c in cands}) < len(cands) / 4, "ties are rare"
        assert got == _brute_topk(cands, k, descending=True), f"case {case}"


def test_ivf_pq_topk_all_cells_randomized_brute_equivalence(spark):
    """ivf_pq_topk with nprobe = n_cells == a NumPy brute force over the
    whole corpus: ADC distance (the m table lookups summed, rounded to 9
    digits), then id asc, self rows excluded. The trained state comes
    from ivf_pq_train on the same frame. The corpus repeats a few
    vectors, so tie groups straddle the cut at k; corpus ids repeat,
    including query ids."""
    import numpy as np

    rng = np.random.default_rng(2718)
    n_cells, m, kc = 4, 2, 4
    for case, (n, k) in enumerate([(40, 3), (80, 7)]):
        pool = rng.integers(-1, 2, size=(5, 4)).astype(float)
        vecs = pool[rng.integers(0, len(pool), size=n)]
        ids = np.arange(n)
        # repeats only among ids past the training init (the smallest
        # max(n_cells, kc) ids), so the trained state is well defined
        ids[n - 8:] = [12, 15, 12, 11, 15, 17, 19, 10]
        emb = spark.createDataFrame(
            [(int(ids[i]), [float(x) for x in vecs[i]]) for i in range(n)],
            "vec_id bigint, embedding array<double>",
        ).coalesce(1)
        # one row per query id; ids 12 and 15 also repeat in the corpus
        queries = spark.createDataFrame(
            [(int(ids[i]), [float(x) for x in vecs[i]]) for i in (0, 3, 12, 15)],
            "vec_id bigint, embedding array<double>",
        )
        got = sorted(
            tuple(r)
            for r in sim.ivf_pq_topk(
                emb, queries, n_cells=n_cells, m=m, k_codebook=kc, k=k,
                nprobe=n_cells, iterations=2,
            ).collect()
        )
        _, books = sim.ivf_pq_train(emb, n_cells, m, kc, 2)
        sub = 4 // m
        codes = np.stack([
            np.argmin(np.round(
                ((vecs[:, None, j * sub:(j + 1) * sub] - books[j][None]) ** 2)
                .sum(axis=2), 9), axis=1)
            for j in range(m)
        ], axis=1)
        cands = []
        for q in queries.collect():
            qv = np.array(q.embedding)
            tabs = np.stack([
                ((qv[j * sub:(j + 1) * sub] - books[j]) ** 2).sum(axis=1)
                for j in range(m)
            ])
            dist = np.round(tabs[np.arange(m)[None, :], codes].sum(axis=1), 9)
            cands += [(q.vec_id, int(ids[i]), float(dist[i]))
                      for i in range(n) if ids[i] != q.vec_id]
        assert len({c[2] for c in cands}) < len(cands) / 4, "ties are rare"
        assert got == _brute_topk(cands, k, descending=False), f"case {case}"


def test_ivf_pq_topk_duplicate_query_id_rows(spark):
    """A query id given on two rows (vectors v and -v): every candidate is
    scored against both rows' ADC tables and kept once, at its best
    distance, so the result is the same in either row order, no match_id
    repeats, and with every cell probed it equals a brute force taking
    each candidate's minimum over the two rows."""
    import numpy as np

    rng = np.random.default_rng(5)
    n, n_cells, m, kc, k = 40, 4, 2, 4, 3
    vecs = rng.normal(size=(n, 4))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<double>",
    ).coalesce(1)
    v1 = [float(x) for x in vecs[7]]
    rows = [(100, v1), (100, [-x for x in v1])]

    def run(query_rows):
        queries = spark.createDataFrame(
            query_rows, "vec_id bigint, embedding array<double>"
        )
        return sorted(
            tuple(r)
            for r in sim.ivf_pq_topk(
                emb, queries, n_cells=n_cells, m=m, k_codebook=kc, k=k,
                nprobe=n_cells, iterations=2,
            ).collect()
        )

    got = run(rows)
    assert got == run(rows[::-1])
    assert len({r[1] for r in got}) == len(got) == k

    _, books = sim.ivf_pq_train(emb, n_cells, m, kc, 2)
    sub = 4 // m
    codes = np.stack([
        np.argmin(np.round(
            ((vecs[:, None, j * sub:(j + 1) * sub] - books[j][None]) ** 2)
            .sum(axis=2), 9), axis=1)
        for j in range(m)
    ], axis=1)
    dists = []
    for _, qv in rows:
        tabs = np.stack([
            ((np.array(qv)[j * sub:(j + 1) * sub] - books[j]) ** 2).sum(axis=1)
            for j in range(m)
        ])
        dists.append(np.round(tabs[np.arange(m)[None, :], codes].sum(axis=1), 9))
    best = np.minimum(*dists)
    cands = [(100, i, float(best[i])) for i in range(n)]
    assert got == _brute_topk(cands, k, descending=False)


def test_suggest_n_cells_scaling_and_clamps():
    """n_cells ≈ rows/target, clamped to [min_cells, broadcast cap];
    degenerate inputs fail loudly."""
    import pytest

    assert sim.suggest_n_cells(0) == 1
    assert sim.suggest_n_cells(4096) == 1
    assert sim.suggest_n_cells(4097) == 2
    assert sim.suggest_n_cells(1_000_000, target_cell_rows=1000) == 1000
    # ceiling: the centroid matrix is driver-collected/broadcast
    assert (
        sim.suggest_n_cells(10**12, target_cell_rows=1)
        == sim.DEFAULT_MAX_BROADCAST_ROWS
    )
    assert sim.suggest_n_cells(100, min_cells=8) == 8
    with pytest.raises(ValueError):
        sim.suggest_n_cells(-1)
    with pytest.raises(ValueError):
        sim.suggest_n_cells(10, target_cell_rows=0)


def test_multimodal_decoder_branch_selection(spark):
    """The optional real-decode path (round-10 verdict task 7): branch
    selection matches the environment, the missing-dependency failure is
    explicit, the stub default is unchanged, and an injected decoder
    threads through extract_features with the same schema — tested under
    whichever branch this container supports."""
    name, fn = mm.select_decoder()
    if mm.HAS_PIL:
        assert (name, fn) == ("pil", mm.decode_real)
        import io

        from PIL import Image

        buf = io.BytesIO()
        Image.new("L", (16, 16), color=128).save(buf, format="PNG")
        feats = mm.decode_real(buf.getvalue(), n_features=8)
        assert len(feats) == 8
        assert all(0.0 <= v <= 1.0 for v in feats)
    else:
        assert (name, fn) == ("stub", mm.decode_stub)
        import pytest as _pytest

        with _pytest.raises(NotImplementedError, match="Pillow"):
            mm.decode_real(b"\x89PNG whatever", n_features=8)

    # the default stays the stub regardless of what is installed
    # (decoding real codecs is an explicit opt-in — see select_decoder)
    docs = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id long, text string"
    )
    media = mm.attach_binary_payload(docs)
    default_rows = {
        r.media_id: r.features for r in mm.extract_features(media).collect()
    }
    assert default_rows == {
        r.media_id: r.features
        for r in mm.extract_features(media, decoder=mm.decode_stub).collect()
    }

    # an injected decoder threads through with identical plumbing/schema
    def halves(payload: bytes, n: int) -> list[float]:
        return [0.5] * n

    injected = mm.extract_features(media, n_features=4, decoder=halves)
    assert injected.schema == mm.extract_features(media).schema
    assert {tuple(r.features) for r in injected.collect()} == {(0.5,) * 4}


def test_simhash_pairs_match_blocks_equivalence(spark):
    """Manku combination banding (match_blocks > 1) must find EXACTLY the
    brute-force hamming <= d pair set, and exactly what the classic
    one-band scheme finds — on synthetic 64-bit signatures with planted
    near-dups (distances 0-4 incl. errors packed into one block and
    spread across blocks), negatives included (bit 63 set: arithmetic
    shiftright must not corrupt block extraction)."""
    import itertools

    base = 0x5A5A_C3C3_0F0F_9999  # bit 63 set -> negative as bigint
    sigs = [
        ("b0", base),
        ("d0", base),                         # distance 0
        ("d1", base ^ (1 << 7)),              # 1 bit, block 0
        ("d3_packed", base ^ 0b111),          # 3 bits, all in block 0
        ("d3_spread", base ^ (1 << 3) ^ (1 << 23) ^ (1 << 43)),  # 3 blocks
        ("d4", base ^ (1 << 1) ^ (1 << 17) ^ (1 << 33) ^ (1 << 49)),
        ("far", 0x1234_5678_9ABC_DEF0),
    ]

    def to_i64(v):
        return v - (1 << 64) if v >= 1 << 63 else v

    ids = {name: i for i, (name, _) in enumerate(sigs)}
    df = spark.createDataFrame(
        [(i, to_i64(v)) for i, (_, v) in enumerate(sigs)],
        "doc_id bigint, simhash bigint",
    )
    vals = {i: v for i, (_, v) in enumerate(sigs)}
    brute = {
        (a, b, bin(vals[a] ^ vals[b]).count("1"))
        for a, b in itertools.combinations(sorted(vals), 2)
        if bin(vals[a] ^ vals[b]).count("1") <= 3
    }
    assert brute  # fixture sanity: some pairs qualify
    assert (ids["b0"], ids["d4"], 4) not in brute  # ...and some don't
    for bands, match in ((4, 1), (6, 3), (8, 5)):
        got = {
            tuple(r)
            for r in dd.simhash_pairs(
                df, bits=64, bands=bands, max_distance=3,
                match_blocks=match,
            ).collect()
        }
        assert got == brute, f"bands={bands}, match_blocks={match}"
    with pytest.raises(ValueError, match="pigeonhole"):
        dd.simhash_pairs(df, bits=64, bands=4, max_distance=3,
                         match_blocks=2)
    with pytest.raises(ValueError, match="bigint"):
        dd.simhash_pairs(df, bits=64, bands=2, max_distance=0,
                         match_blocks=2)


def test_simhash_pairs_one_expansion_form(spark):
    """Pair expansion is the two-Generate codegen form for every bucket
    profile: combination banding (match_blocks > 1, tiny buckets) and the
    saturated-key one-band profile alike, with no interpreted lambda
    expression. Both are correctness-pinned against brute force above."""
    df = spark.createDataFrame(
        [(0, 7), (1, 7)], "doc_id bigint, simhash bigint"
    )
    manku = dd.simhash_pairs(
        df, bits=64, bands=6, max_distance=3, match_blocks=3
    )._jdf.queryExecution().executedPlan().toString()
    classic = dd.simhash_pairs(
        df, bits=64, bands=4, max_distance=3
    )._jdf.queryExecution().executedPlan().toString()
    for plan in (manku, classic):
        assert "posexplode" in plan and "lambdafunction" not in plan


def test_sq_l2_topk_exact_and_dup_id_safe(spark):
    """sq_l2_topk == brute-force (rounded d2 asc, id asc) top-k with
    self-matches excluded, including a duplicated query id in the corpus
    (both copies must be sunk) and an exact d2 tie broken by id."""
    import itertools

    import numpy as np

    vecs = {
        1: [0.0, 0.0], 2: [1.0, 0.0], 3: [0.0, 1.0],
        4: [1.0, 1.0], 5: [2.0, 0.0],
    }
    rows = [(i, [float(x) for x in v]) for i, v in vecs.items()]
    rows.append((1, [5.0, 5.0]))  # duplicated id: second self copy
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    qdf = df.filter("vec_id = 1").limit(1)
    got = sorted(
        (r.query_id, r.match_id, r.d2, r.rank)
        for r in sim.sq_l2_topk(df, qdf, k=3).collect()
    )
    # brute force from id 1 = [0,0]: d2 -> 2:1, 3:1, 4:2, 5:4; both id-1
    # rows excluded; tie 2/3 at d2=1 broken by id
    assert got == [(1, 2, 1.0, 1), (1, 3, 1.0, 2), (1, 4, 2.0, 3)]
    # empty query side -> empty frame, stable schema
    empty = sim.sq_l2_topk(df, df.filter("vec_id = 99"), k=3)
    assert empty.count() == 0
    assert empty.columns == ["query_id", "match_id", "d2", "rank"]

def test_topk_dup_heavy_chunk_self_leak_guard(spark):
    """Regression (r14 ADVICE): a chunk where duplicated query-id copies
    leave fewer than k finite entries (n-dup < k < n) made the partition
    threshold itself +inf (sq_l2) / -inf (cosine), and inf<=inf re-
    admitted the sunk self rows — an exact-dup self copy then re-scored
    to d2=0 / sim=1.0 and ranked #1, violating the self-excluded
    contract. 200 self copies + 3 distinct rows over the spread's 32
    round-robin partitions make EVERY populated chunk hit that geometry
    (each holds >k rows with at most one non-self entry)."""
    rows = [(1, [1.0, 1.0])] * 200
    rows += [(2, [1.1, 1.0]), (3, [1.5, 1.0]), (4, [3.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    qdf = spark.createDataFrame(
        [(1, [1.0, 1.0])], "vec_id bigint, embedding array<double>"
    )
    got = sorted(
        (r.match_id, r.rank) for r in sim.sq_l2_topk(df, qdf, k=2).collect()
    )
    assert got == [(2, 1), (3, 2)]  # no self copy may appear
    got_c = sorted(
        (r.match_id, r.rank) for r in sim.cosine_topk(df, qdf, k=2).collect()
    )
    assert got_c == [(2, 1), (3, 2)]


def test_sq_l2_topk_large_magnitude_margin(spark):
    """Regression (r14 ADVICE): the fixed 1e-2 float32 candidate margin
    silently cut true top-k members once ||v||^2 outgrew the O(100)
    regime — the expansion's float32 cancellation error scales with the
    squared norms. With ~1e3-magnitude coordinates (||v||^2 ~ 2e6) two
    vectors closer to the query than a float32-favored decoy must still
    win under the data-scaled margin."""
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.normal(0.0, 1000.0, size=64)
    rows = [(1, [float(x) for x in base])]
    # true neighbors: tiny exact offsets from the query
    rows.append((2, [float(x) for x in base + 0.001]))
    rows.append((3, [float(x) for x in base - 0.002]))
    # crowd: far vectors whose float32 d2 may undercut the true ones —
    # large enough that every spread chunk holds n > k rows, so the
    # float32 candidate cut actually runs (tiny corpora take the
    # isfinite-only n<=k branch and would never exercise the margin)
    for i in range(4, 2004):
        rows.append((i, [float(x) for x in base + rng.normal(0.0, 0.5, 64)]))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    qdf = spark.createDataFrame(
        [(1, [float(x) for x in base])], "vec_id bigint, embedding array<double>"
    )
    got = sim.sq_l2_topk(df, qdf, k=2).collect()
    assert sorted((r.match_id, r.rank) for r in got) == [(2, 1), (3, 2)]
    # exact float64 distances survive the re-score
    d2 = {r.match_id: r.d2 for r in got}
    assert d2[2] == pytest.approx(64 * 0.001**2, rel=1e-3)
    assert d2[3] == pytest.approx(64 * 0.002**2, rel=1e-3)


def test_sq_l2_topk_randomized_brute_equivalence(spark):
    """Seeded randomized equivalence vs a NumPy brute force applying the
    operator's exact contract (rounded d2 asc, id asc, ALL self rows
    excluded) — sweeps magnitudes (unit vs ~1e3 coordinates, exercising
    the data-scaled margin), duplicate ids on both corpus and query ids,
    and corpus sizes spanning the n<=k / n>k chunk branches. The last
    case is one partition of two full TOPK_CHUNK_ROWS chunks, so the
    block-min threshold cut runs."""
    import numpy as np

    rng = np.random.default_rng(2026)
    for case, (n, k, scale, n_dup) in enumerate([
        (5, 10, 1.0, 0),      # n <= k branch
        (40, 3, 1.0, 3),      # dup ids, small
        (120, 10, 1000.0, 5),  # large magnitude + dups
        (300, 5, 1.0, 0),
        (200, 10, 1000.0, 20),
        (2 * sim.TOPK_CHUNK_ROWS, 10, 1000.0, 30),
    ]):
        d = int(rng.integers(4, 17))
        ids = list(range(n))
        # duplicate ids: reuse existing ids for the last n_dup rows
        for j in range(n_dup):
            ids[n - 1 - j] = int(rng.integers(0, n // 2))
        vecs = rng.normal(0.0, scale, size=(n, d))
        qid = int(rng.integers(0, n // 2))
        qvec = vecs[ids.index(qid)]
        rows = [(ids[i], [float(x) for x in vecs[i]]) for i in range(n)]
        df = spark.createDataFrame(
            rows, "vec_id bigint, embedding array<double>"
        )
        if n >= sim.TOPK_CHUNK_ROWS:
            df = df.coalesce(1)
        qdf = spark.createDataFrame(
            [(qid, [float(x) for x in qvec])],
            "vec_id bigint, embedding array<double>",
        )
        got = [
            (r.match_id, r.d2, r.rank)
            for r in sim.sq_l2_topk(df, qdf, k=k)
            .orderBy("rank")
            .collect()
        ]
        # brute force: every corpus ROW (dup ids are distinct rows),
        # all rows carrying the query id excluded
        cand = [
            (ids[i], round(float(np.sum((vecs[i] - qvec) ** 2)), 6))
            for i in range(n)
            if ids[i] != qid
        ]
        cand.sort(key=lambda t: (t[1], t[0]))
        want = [(m, d2, r + 1) for r, (m, d2) in enumerate(cand[:k])]
        # identical (d2, id) ties are interchangeable rows: compare as
        # sorted multisets with the rank sequence
        assert sorted(got) == sorted(want), f"case {case}"
        assert [r for _, _, r in got] == list(range(1, len(want) + 1))


def test_cosine_topk_randomized_brute_equivalence(spark):
    """Mirror of the sq_l2 randomized sweep for cosine_topk: rounded sim
    DESC, id asc, all self rows excluded; magnitudes are irrelevant after
    normalization but dup ids and the n<=k / n>k branches are swept."""
    import numpy as np

    rng = np.random.default_rng(4094)
    for case, (n, k, n_dup) in enumerate([
        (5, 10, 0),
        (60, 3, 4),
        (250, 5, 12),
    ]):
        d = int(rng.integers(4, 17))
        ids = list(range(n))
        for j in range(n_dup):
            ids[n - 1 - j] = int(rng.integers(0, n // 2))
        vecs = rng.normal(0.0, 1.0, size=(n, d))
        qid = int(rng.integers(0, n // 2))
        qvec = vecs[ids.index(qid)]
        rows = [(ids[i], [float(x) for x in vecs[i]]) for i in range(n)]
        df = spark.createDataFrame(
            rows, "vec_id bigint, embedding array<double>"
        )
        qdf = spark.createDataFrame(
            [(qid, [float(x) for x in qvec])],
            "vec_id bigint, embedding array<double>",
        )
        got = [
            (r.match_id, r.sim, r.rank)
            for r in sim.cosine_topk(df, qdf, k=k).orderBy("rank").collect()
        ]
        qn = qvec / np.linalg.norm(qvec)
        cand = []
        for i in range(n):
            if ids[i] == qid:
                continue
            v = vecs[i] / np.linalg.norm(vecs[i])
            cand.append((ids[i], round(float(np.dot(qn, v)), 6)))
        cand.sort(key=lambda t: (-t[1], t[0]))
        want = [(m, s, r + 1) for r, (m, s) in enumerate(cand[:k])]
        assert sorted(got) == sorted(want), f"case {case}"
        assert [r for _, _, r in got] == list(range(1, len(want) + 1))


def test_pq_topk_randomized_brute_equivalence(spark):
    """pq_topk == a per-query NumPy loop applying the operator's exact
    contract (ADC distance = the m table lookups summed per row, rounded;
    then id asc; all self rows excluded). Coarse rounding makes ties
    everywhere, dup ids sit on both sides, and the one-partition case of
    two full TOPK_CHUNK_ROWS chunks runs the block-min threshold cut."""
    import numpy as np

    rng = np.random.default_rng(1107)
    m, sub, kc = 4, 2, 4
    books = [rng.normal(size=(kc, sub)) for _ in range(m)]
    for case, (n, k, digits, n_dup) in enumerate([
        (6, 10, 9, 0),  # n <= k branch
        (300, 5, 1, 10),
        (2 * sim.TOPK_CHUNK_ROWS, 5, 1, 40),
    ]):
        ids = list(range(n))
        for j in range(n_dup):
            ids[n - 1 - j] = int(rng.integers(0, 4))
        codes = rng.integers(0, kc, size=(n, m))
        df = spark.createDataFrame(
            [(ids[i], [int(c) for c in codes[i]]) for i in range(n)],
            "vec_id bigint, codes array<int>",
        )
        if n >= sim.TOPK_CHUNK_ROWS:
            df = df.coalesce(1)
        qvecs = rng.normal(size=(4, m * sub))
        qdf = spark.createDataFrame(
            [(q, [float(x) for x in qvecs[q]]) for q in range(4)],
            "vec_id bigint, embedding array<double>",
        )
        got = sorted(
            tuple(r)
            for r in sim.pq_topk(df, qdf, books, k=k, round_digits=digits)
            .collect()
        )
        want = []
        for q in range(4):
            tabs = np.stack(
                [
                    ((qvecs[q, j * sub:(j + 1) * sub] - books[j]) ** 2).sum(1)
                    for j in range(m)
                ]
            )
            dist = np.round(tabs[np.arange(m)[None, :], codes].sum(axis=1), digits)
            cand = sorted(
                (float(dist[i]), ids[i]) for i in range(n) if ids[i] != q
            )
            want += [(q, mid, d, r + 1) for r, (d, mid) in enumerate(cand[:k])]
        assert got == sorted(want), f"case {case}"


def test_simhash_pairs_duplicate_ids_never_self_pair(spark):
    # dirty ingest: one doc_id with two DIFFERING fingerprints lands
    # twice in the same bucket; the inline verify must not emit (7, 7)
    from xena_gdc_etl_spark.operators import dedup as dd

    fps = spark.createDataFrame(
        [(7, 0x0001), (7, 0x0003), (9, 0x0001)], ["doc_id", "simhash"]
    )
    out = dd.simhash_pairs(fps, bits=16, bands=4, max_distance=3).collect()
    assert all(r.a != r.b for r in out)
    assert {(r.a, r.b) for r in out} == {(7, 9)}


def test_simhash_lane_width_bound_rejected(spark):
    # lanes < lane_width is the carry-free condition; 7 gives lanes=9
    from xena_gdc_etl_spark.operators import dedup as dd

    df = spark.createDataFrame([(1, "a b c", "s")], ["doc_id", "text", "source"])
    import pytest as _pytest

    with _pytest.raises(ValueError):
        dd.simhash(df, bits=16, lane_width=7)
    # the smallest legal width still matches the default output
    assert (
        dd.simhash(df, bits=16, lane_width=8).collect()[0].simhash
        == dd.simhash(df, bits=16).collect()[0].simhash
    )


@pytest.mark.parametrize("second", [7, 21])
@pytest.mark.parametrize("op", ["cosine_topk", "sq_l2_topk", "pq_topk"])
def test_broadcast_topk_duplicate_query_id_rows(spark, op, second):
    """A query id given on two rows lists each match once, at its best
    score over the rows: 40 random 4-d vectors, query id 100 given
    ``vecs[7]`` and ``vecs[second]``, k=3 (the same vector twice listed
    every match twice). The result equals a brute force over the two
    single-row queries that keeps each match's best score."""
    import numpy as np

    rng = np.random.default_rng(5)
    vecs = rng.normal(size=(40, 4))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<double>",
    ).coalesce(1)
    rows = [(100, [float(x) for x in vecs[i]]) for i in (7, second)]
    if op == "pq_topk":
        books = sim.pq_train(emb, m=2, k=4, iterations=2)
        codes = sim.pq_encode(emb, books)

        def run(query_rows, k):
            queries = spark.createDataFrame(query_rows, "vec_id bigint, embedding array<double>")
            return sim.pq_topk(codes, queries, books, k=k).collect()
    else:
        def run(query_rows, k):
            queries = spark.createDataFrame(query_rows, "vec_id bigint, embedding array<double>")
            return getattr(sim, op)(emb, queries, k=k).collect()

    got = run(rows, 3)
    assert [r.rank for r in sorted(got, key=lambda r: r.rank)] == [1, 2, 3]
    assert len({r.match_id for r in got}) == len(got) == 3
    assert sorted(got) == sorted(run(rows[::-1], 3))
    # brute force: each match's best score over the two single-row queries
    score_col = got[0].__fields__[2]
    best = {}
    for row in rows:
        for r in run([row], 40):
            s, prev = r[score_col], best.get(r.match_id)
            if prev is None or (s > prev if op == "cosine_topk" else s < prev):
                best[r.match_id] = s
    order = sorted(best, key=lambda m: ((-best[m] if op == "cosine_topk" else best[m]), m))
    assert [(r.match_id, r[score_col]) for r in sorted(got, key=lambda r: r.rank)] == [
        (m, best[m]) for m in order[:3]
    ]
