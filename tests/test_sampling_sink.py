"""Deterministic sampling, the partitioned parquet sink, and property tests
(hypothesis) for filter-spec semantics and minhash partition-invariance."""

from __future__ import annotations

import os
import shutil
import tempfile

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from xena_gdc_etl_spark.filters import FilterSpec
from xena_gdc_etl_spark.operators import dedup as dd
from xena_gdc_etl_spark.operators.sampling import (
    rebalance_groups,
    sample_by_group,
    split_assign,
    stratified_sample,
    weighted_sample,
)
from xena_gdc_etl_spark.sources.parquet_sink import write_partitioned


def test_split_assign_deterministic_and_complete(spark):
    df = spark.range(2000).withColumnRenamed("id", "k")
    out = split_assign(df, "k")
    counts = {r.split: r.n for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "valid", "test"}
    assert sum(counts.values()) == 2000
    assert 0.7 < counts["train"] / 2000 < 0.9
    # invariant under repartitioning (pure function of the key)
    again = split_assign(df.repartition(7), "k")
    assert out.select("k", "split").subtract(again.select("k", "split")).count() == 0


def test_stratified_sample_fraction(spark):
    df = spark.range(5000).withColumnRenamed("id", "k")
    n = stratified_sample(df, "k", 0.2).count()
    assert 0.15 * 5000 < n < 0.25 * 5000
    assert stratified_sample(df, "k", 0.0).count() == 0
    assert stratified_sample(df, "k", 1.0).count() == 5000


def test_sample_by_group_rates(spark):
    df = spark.createDataFrame(
        [(i, "common" if i % 2 == 0 else "rare") for i in range(2000)], ["k", "g"]
    )
    out = sample_by_group(df, "g", "k", {"common": 0.1, "rare": 1.0})
    counts = {r.g: r.n for r in out.groupBy("g").agg(F.count("*").alias("n")).collect()}
    assert counts["rare"] == 1000
    assert counts.get("common", 0) < 250


def test_weighted_sample_rate_tracks_weight(spark):
    df = spark.range(4000).withColumnRenamed("id", "k")
    # weight 0 drops all, weight 1 keeps all, out-of-range weights clamp
    assert weighted_sample(df, "k", F.lit(0.0)).count() == 0
    assert weighted_sample(df, "k", F.lit(1.0)).count() == 4000
    assert weighted_sample(df, "k", F.lit(7.5)).count() == 4000
    assert weighted_sample(df, "k", F.lit(-3.0)).count() == 0
    n = weighted_sample(df, "k", F.lit(0.3)).count()
    assert 0.25 * 4000 < n < 0.35 * 4000
    # deterministic: a row's fate is a pure function of (key, seed)
    a = weighted_sample(df, "k", F.lit(0.3)).collect()
    b = weighted_sample(df.repartition(13), "k", F.lit(0.3)).collect()
    assert sorted(r.k for r in a) == sorted(r.k for r in b)


def test_rebalance_groups_uniform_and_target(spark):
    rows = [(i, "big" if i < 3000 else ("mid" if i < 3900 else "small"))
            for i in range(4000)]
    df = spark.createDataFrame(rows, ["k", "g"])
    # uniform: every group downsamples toward the smallest (100 rows)
    out = rebalance_groups(df, "g", "k")
    counts = {r.g: r.n for r in out.groupBy("g").agg(F.count("*").alias("n")).collect()}
    assert counts["small"] == 100  # smallest group keeps everything
    for g in ("big", "mid"):
        assert 50 < counts[g] < 160, counts
    # explicit target: 'big' should dominate the kept mixture
    out2 = rebalance_groups(df, "g", "k", target={"big": 0.9, "mid": 0.05, "small": 0.05})
    c2 = {r.g: r.n for r in out2.groupBy("g").agg(F.count("*").alias("n")).collect()}
    assert c2["big"] == 3000  # target share above natural share -> keep all
    assert c2["mid"] < 400 and c2["small"] == 100


def test_write_partitioned_layout_roundtrip(spark):
    d = tempfile.mkdtemp(prefix="sink_")
    try:
        events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        write_partitioned(
            events, d, partition_by=["event_type"], sort_within=["user_id"],
            max_records_per_file=1000,
        )
        subdirs = {p for p in os.listdir(d) if p.startswith("event_type=")}
        assert len(subdirs) >= 2  # hive layout for partition pruning
        back = spark.read.parquet(d)
        assert back.count() == events.count()
        # partition filter prunes to one directory's files
        one = sorted(subdirs)[0].split("=", 1)[1]
        assert back.filter(F.col("event_type") == one).count() > 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    include=st.dictionaries(
        st.sampled_from(["a", "b"]), st.lists(st.integers(0, 3), min_size=1, max_size=3), max_size=2
    ),
    exclude=st.dictionaries(
        st.sampled_from(["a", "b"]), st.lists(st.integers(0, 3), min_size=1, max_size=3), max_size=2
    ),
)
def test_filterspec_matches_python_semantics(spark, include, exclude):
    rows = [(i % 4, (i // 4) % 4) for i in range(16)]
    df = spark.createDataFrame(rows, ["a", "b"])
    got = {
        tuple(r) for r in FilterSpec(include, exclude).apply(df).collect()
    }
    expected = {
        (a, b)
        for a, b in rows
        if all({"a": a, "b": b}[k] in v for k, v in include.items())
        and all({"a": a, "b": b}[k] not in v for k, v in exclude.items())
    }
    assert got == expected


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(st.text(alphabet="abcdef ", min_size=5, max_size=30), min_size=1, max_size=6))
def test_minhash_partition_invariant(spark, texts):
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    sig1 = dd.minhash_signatures(dd.shingles(df.repartition(1), k=3, distinct=False), num_hashes=4)
    sig5 = dd.minhash_signatures(dd.shingles(df.repartition(5), k=3, distinct=False), num_hashes=4)
    assert sorted(map(tuple, sig1.collect())) == sorted(map(tuple, sig5.collect()))


def test_bucketed_tables_join_with_zero_shuffle(spark, sf_dir, tmp_path):
    from xena_gdc_etl_spark.catalog import Catalog
    from xena_gdc_etl_spark.plans import formatted_plan, shuffle_count
    from xena_gdc_etl_spark.sources.parquet_sink import write_bucketed

    cat = Catalog(spark, sf_dir)
    write_bucketed(
        cat.orders.select("o_orderkey", "o_custkey"),
        "orders_b", ["o_orderkey"], 4, path=str(tmp_path / "orders_b"),
    )
    write_bucketed(
        cat.lineitem.select("l_orderkey", "l_quantity"),
        "lineitem_b", ["l_orderkey"], 4, path=str(tmp_path / "lineitem_b"),
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("lineitem_b").join(
            spark.table("orders_b"),
            spark.table("lineitem_b")["l_orderkey"]
            == spark.table("orders_b")["o_orderkey"],
        )
        plan = formatted_plan(joined)
        # the pre-paid shuffle: sort-merge join straight off the bucketed
        # scans, zero Exchange nodes
        assert "SortMergeJoin" in plan
        assert shuffle_count(joined) == 0
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_write_manifest_detects_content_change(spark, tmp_path):
    from xena_gdc_etl_spark.sources.parquet_sink import (
        write_manifest,
        write_partitioned,
    )

    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0)], ["id", "g", "v"]
    )
    out = str(tmp_path / "ds")
    write_partitioned(df, out, partition_by=["g"])
    m = write_manifest(df, out, partition_by=["g"])
    assert m["total_rows"] == 3
    assert [p["g"] for p in m["partitions"]] == ["a", "b"]
    # digest is order/partitioning-independent ...
    m2 = write_manifest(df.repartition(5), out, partition_by=["g"])
    assert m2 == m
    # ... but any value change flips it
    mutated = df.withColumn(
        "v", F.when(F.col("id") == 1, 99.0).otherwise(F.col("v"))
    )
    m3 = write_manifest(mutated, out, partition_by=["g"])
    assert m3["partitions"][0]["digest"] != m["partitions"][0]["digest"]
    import json, os
    assert json.load(open(os.path.join(out, "_manifest.json"))) == m3


def test_write_manifest_rejects_wide_key(spark, tmp_path):
    import pytest

    from xena_gdc_etl_spark.sources.parquet_sink import write_manifest

    df = spark.range(50).withColumn("v", F.col("id") * 2)
    with pytest.raises(ValueError, match="not driver-sized"):
        write_manifest(df, str(tmp_path), partition_by=["id"], max_partitions=10)


def test_write_manifest_keyed_is_two_jobs(spark, tmp_path, job_ids):
    """The width check is the bounded collect of the keyed aggregate
    itself (its shuffle stage + the collect), not a distinct-count probe
    in front of it (5 jobs)."""
    from xena_gdc_etl_spark.sources.parquet_sink import write_manifest

    df = spark.range(200).withColumn("g", F.col("id") % 4)
    m, ids = job_ids(
        lambda: write_manifest(df, str(tmp_path), partition_by=["g"])
    )
    assert len(ids) == 2, ids
    assert [p["g"] for p in m["partitions"]] == [0, 1, 2, 3]
    assert [p["rows"] for p in m["partitions"]] == [50] * 4


def test_write_manifest_digest_sees_paired_duplicate_swap(spark, tmp_path):
    """The XOR fold this digest replaced cancelled paired duplicates:
    {r1, r1} and {r2, r2} both XORed to 0 with equal counts. The wrapping
    sum must tell them apart (and stay order/multiplicity-sensitive)."""
    from xena_gdc_etl_spark.sources.parquet_sink import write_manifest

    a = spark.createDataFrame([(1, "x"), (1, "x")], ["id", "v"])
    b = spark.createDataFrame([(2, "y"), (2, "y")], ["id", "v"])
    ma = write_manifest(a, str(tmp_path / "a"))
    mb = write_manifest(b, str(tmp_path / "b"))
    assert ma["total_rows"] == mb["total_rows"] == 2
    da = ma["partitions"][0]["digest"]
    db = mb["partitions"][0]["digest"]
    assert da != db
    # digests are canonicalized into [0, 2^64)
    assert 0 <= da < 1 << 64 and 0 <= db < 1 << 64
    # tripling a duplicate row changes the digest too (multiplicity-aware)
    mc = write_manifest(
        spark.createDataFrame([(1, "x")] * 3, ["id", "v"]), str(tmp_path / "c")
    )
    assert mc["partitions"][0]["digest"] != da


def test_ann_index_path_validation():
    """Scheme guard: remote schemes rejected loudly (single-slash form
    too); colon-in-first-segment relative paths rejected with an error
    naming the './' escape hatch, which itself parses as local."""
    import pytest

    from xena_gdc_etl_spark.sources.ann_index import _local_index_paths

    local, uri = _local_index_paths("/tmp/some/idx", "t")
    assert local == "/tmp/some/idx" and uri == "file:///tmp/some/idx"
    for bad in ("hdfs://nn/idx", "hdfs:/nn/idx", "s3a://bucket/idx"):
        with pytest.raises(ValueError, match="local path or file://"):
            _local_index_paths(bad, "t")
    # relative path whose first segment contains ':' → loud, with hatch
    with pytest.raises(ValueError, match="prefix it with './'"):
        _local_index_paths("my:dir/idx", "t")
    local, uri = _local_index_paths("./my:dir/idx", "t")
    assert local.endswith("/my:dir/idx") and uri == "file://" + local


def test_ann_index_roundtrip(spark, tmp_path):
    """Saved centroids + PQ codebooks load back bit-identical, reassign
    identically, and an incomplete save (no sentinel) fails loudly."""
    import numpy as np
    import pytest

    from xena_gdc_etl_spark.catalog import Catalog
    from xena_gdc_etl_spark.operators import similarity as sim
    from xena_gdc_etl_spark.sources.ann_index import (
        load_ann_index,
        save_ann_index,
    )

    emb = Catalog(spark, "/root/testdata/sf0.001").embeddings
    cents = sim.ivf_train(emb, k=4, iterations=2)
    books = sim.pq_train(emb, m=4, k=8, iterations=2)
    path = str(tmp_path / "idx")
    manifest = save_ann_index(cents, path, codebooks=books)
    assert manifest["n_centroids"] == 4 and manifest["pq"]["m"] == 4

    cents2, books2, mf = load_ann_index(spark, path)
    assert mf == manifest
    for a, b in zip(books, books2):
        np.testing.assert_array_equal(np.asarray(a), b)
    before = sorted(
        (r.vec_id, r.centroid_id)
        for r in sim.ivf_assign(emb, cents).collect()
    )
    after = sorted(
        (r.vec_id, r.centroid_id)
        for r in sim.ivf_assign(emb, cents2).collect()
    )
    assert before == after

    with pytest.raises(FileNotFoundError, match="not a complete"):
        load_ann_index(spark, str(tmp_path / "nope"))

    # re-save over an existing index: the OLD sentinel must be gone before
    # any table write, so a crash mid-overwrite can never leave a stale
    # sentinel endorsing partial data. Simulate the crash by making the
    # centroid write fail after save_ann_index has begun.
    import os
    from unittest import mock

    sentinel = os.path.join(path, "_index.json")
    assert os.path.exists(sentinel)
    with mock.patch.object(
        type(cents.coalesce(1).write), "parquet", side_effect=OSError("disk")
    ):
        with pytest.raises(OSError, match="disk"):
            save_ann_index(cents, path, codebooks=books)
    assert not os.path.exists(sentinel), "stale sentinel survived a crash"
    with pytest.raises(FileNotFoundError, match="not a complete"):
        load_ann_index(spark, path)
    # a clean re-save restores a loadable index
    save_ann_index(cents, path, codebooks=books)
    load_ann_index(spark, path)

    # non-local paths are rejected loudly (sentinel uses local file IO)
    with pytest.raises(ValueError, match="local path"):
        save_ann_index(cents, "s3a://bucket/idx")
    with pytest.raises(ValueError, match="local path"):
        load_ann_index(spark, "hdfs://nn/idx")

    # a legitimate LOCAL file:// URI is accepted and normalized — both
    # halves (local-IO sentinel, Spark-writer tables) land in one place
    uri_path = tmp_path / "idx_uri"
    save_ann_index(cents, "file://" + str(uri_path), codebooks=books)
    assert os.path.exists(os.path.join(str(uri_path), "_index.json"))
    cents3, books3, _ = load_ann_index(spark, "file://" + str(uri_path))
    for a, b in zip(books, books3):
        np.testing.assert_array_equal(np.asarray(a), b)
    assert sorted(
        (r.centroid_id, tuple(r.embedding)) for r in cents3.collect()
    ) == sorted((r.centroid_id, tuple(r.embedding)) for r in cents.collect())
    with pytest.raises(ValueError, match="file://"):
        save_ann_index(cents, "file://otherhost/idx")


def test_token_stats_artifact_roundtrip(spark, tmp_path):
    """save → load round-trips the tf frame, the vocab rollup matches a
    fresh aggregation, and the manifest carries the corpus totals."""
    from xena_gdc_etl_spark.operators.text import doc_term_freqs
    from xena_gdc_etl_spark.sources.token_stats import (
        load_token_stats,
        save_token_stats,
    )

    docs = spark.createDataFrame(
        [(0, "a b a"), (1, "b c"), (2, "a")],
        "doc_id long, text string",
    )
    tf = doc_term_freqs(docs)
    man = save_token_stats(tf, str(tmp_path / "stats"))
    assert man == {
        "format_version": 1,
        "tokenizer": "ws_lower_v1",
        "n_docs": 3,
        "n_tokens": 6,
        "n_vocab": 3,
    }
    tf2, vocab, man2 = load_token_stats(spark, str(tmp_path / "stats"))
    assert man2 == man
    assert sorted(map(tuple, tf2.collect())) == sorted(map(tuple, tf.collect()))
    v = {r.tok: (r.tf, r.doc_freq) for r in vocab.collect()}
    assert v == {"a": (3, 2), "b": (2, 2), "c": (1, 1)}


def test_token_stats_artifact_guards(spark, tmp_path):
    """Incomplete artifacts (no sentinel), tokenizer mismatches, and
    remote schemes all fail loudly."""
    import pytest

    from xena_gdc_etl_spark.operators.text import doc_term_freqs
    from xena_gdc_etl_spark.sources.token_stats import (
        load_token_stats,
        save_token_stats,
    )

    docs = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
    tf = doc_term_freqs(docs)
    with pytest.raises(FileNotFoundError, match="_stats.json"):
        load_token_stats(spark, str(tmp_path / "nowhere"))
    save_token_stats(tf, str(tmp_path / "s2"))
    with pytest.raises(ValueError, match="tokenizer"):
        load_token_stats(spark, str(tmp_path / "s2"), tokenizer="bpe_v9")
    with pytest.raises(ValueError, match="local"):
        save_token_stats(tf, "hdfs://nn/stats")


def test_rebalance_groups_keeps_null_group(spark):
    """A NULL group key is a regular group: the rates join must be
    null-safe or every null-keyed row silently vanishes (round-16 review
    finding)."""
    from xena_gdc_etl_spark.operators.sampling import rebalance_groups

    df = spark.createDataFrame(
        [(None, i) for i in range(40)] + [("web", i + 100) for i in range(40)],
        "source string, doc_id bigint",
    )
    out = rebalance_groups(df, "source", "doc_id")
    groups = {r.source for r in out.select("source").distinct().collect()}
    assert None in groups and "web" in groups
    # uniform target: both groups have equal size, so ~all rows survive
    assert out.count() > 40


def test_split_assign_rejects_non_unit_fractions(spark):
    import pytest as _pytest

    from xena_gdc_etl_spark.operators.sampling import split_assign

    df = spark.createDataFrame([(1,)], ["k"])
    with _pytest.raises(ValueError):
        split_assign(df, "k", {"train": 0.5, "valid": 0.25})
    # exact unit sums still fine
    split_assign(df, "k", {"train": 0.75, "valid": 0.25}).collect()


def test_mixture_plan_zero_token_group_plans_zero(spark):
    """Under ANSI mode target/0 would THROW; a zero-token group must
    instead plan rate 0, epochs 0, 0 tokens (round-16 review finding)."""
    from xena_gdc_etl_spark.operators.sampling import (
        mixture_plan,
        mixture_temperature,
    )

    df = spark.createDataFrame(
        [("web", 100), ("web", 200), ("empty", 0), ("nulls", None)],
        "source string, n_tokens int",
    )
    rows = {r.source: r for r in mixture_plan(df, "source", "n_tokens").collect()}
    for g in ("empty", "nulls"):
        assert rows[g].group_tokens == 0
        assert rows[g].sample_rate == 0.0
        assert rows[g].epochs == 0.0
        assert rows[g].planned_tokens == 0
    # web holds all 300 tokens; uniform target = 300/3 groups = 100 →
    # rate 1/3, planned 100 — degenerate groups do not distort the math
    assert rows["web"].sample_rate == 0.333333
    assert rows["web"].planned_tokens == 100
    trows = {
        r.source: r
        for r in mixture_temperature(df, "source", "n_tokens").collect()
    }
    for g in ("empty", "nulls"):
        assert trows[g].token_share == 0.0
        assert trows[g].temp_weight == 0.0
        assert trows[g].resample_factor == 0.0
