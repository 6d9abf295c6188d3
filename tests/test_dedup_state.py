"""Durable dedup-decision artifact (sources/dedup_state.py): roundtrip,
param/NULL guards, and the day-N stability contract — an arrival joining
an existing cluster inherits its frozen representative, so yesterday's
keep decisions never flip."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from xena_gdc_etl_spark.sources import dedup_state as ds

P = dict(num_hashes=8, shingle_k=5, band_size=2)


def _frozen(spark):
    # day-0 decisions: cluster {100, 140} rep 100; singletons 120, 130
    return spark.createDataFrame(
        [(100, 100), (140, 100), (120, 120), (130, 130)],
        "doc_id bigint, cluster_rep bigint",
    )


def test_roundtrip_and_sentinel(spark, tmp_path):
    d = str(tmp_path / "state")
    manifest = ds.save_dedup_decisions(_frozen(spark), d, **P)
    assert manifest["n_docs"] == 4
    loaded, m2 = ds.load_dedup_decisions(spark, d, **P)
    assert m2 == manifest
    assert sorted(tuple(r) for r in loaded.collect()) == sorted(
        tuple(r) for r in _frozen(spark).collect()
    )


def test_param_mismatch_refused(spark, tmp_path):
    d = str(tmp_path / "state")
    ds.save_dedup_decisions(_frozen(spark), d, **P)
    with pytest.raises(ValueError, match="params"):
        ds.load_dedup_decisions(
            spark, d, num_hashes=16, shingle_k=5, band_size=2
        )


def test_missing_sentinel_refused(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        ds.load_dedup_decisions(spark, str(tmp_path / "nope"), **P)


def test_save_refuses_non_integral_and_nulls(spark, tmp_path):
    bad_type = spark.createDataFrame(
        [("x", 1)], ["doc_id", "cluster_rep"]
    )
    with pytest.raises(ValueError, match="integral"):
        ds.save_dedup_decisions(bad_type, str(tmp_path / "b1"), **P)
    bad_null = spark.createDataFrame(
        [(1, None)], "doc_id bigint, cluster_rep bigint"
    )
    with pytest.raises(ValueError, match="NULL"):
        ds.save_dedup_decisions(bad_null, str(tmp_path / "b2"), **P)
    assert not os.path.exists(str(tmp_path / "b2" / "_dedup_state.json"))


def test_dayN_arrival_inherits_frozen_rep(spark, tmp_path):
    """The headline contract: arrival 7 (smaller than every landed id)
    near-dups landed doc 140 — under plain min-id re-clustering it
    would STEAL the representative from 100 and flip 100's keep
    decision; under the frozen artifact it inherits rep 100 and every
    frozen row is untouched."""
    d = str(tmp_path / "state")
    ds.save_dedup_decisions(_frozen(spark), d, **P)
    frozen, _ = ds.load_dedup_decisions(spark, d, **P)

    new_nodes = spark.createDataFrame(
        [(7,), (8,), (9,)], "doc_id bigint"
    )
    cross = spark.createDataFrame(
        [(7, 140)], "new_id bigint, landed_id bigint"
    )
    # 8 and 9 duplicate each other but nothing landed
    new_pairs = spark.createDataFrame([(8, 9)], "a bigint, b bigint")

    got = {
        r.doc_id: r.cluster_rep
        for r in ds.incremental_cc_update(
            frozen, new_nodes, cross, new_pairs
        ).collect()
    }
    assert got == {7: 100, 8: 8, 9: 8}

    # roll the artifact forward and check stability: frozen rows
    # byte-identical, arrival decisions appended
    new_rows = ds.incremental_cc_update(frozen, new_nodes, cross, new_pairs)
    ds.save_dedup_decisions(frozen.unionByName(new_rows), d, **P)
    rolled, m = ds.load_dedup_decisions(spark, d, **P)
    assert m["n_docs"] == 7
    rolled_map = {r.doc_id: r.cluster_rep for r in rolled.collect()}
    for r in _frozen(spark).collect():  # keep decisions never flip
        assert rolled_map[r.doc_id] == r.cluster_rep
    assert rolled_map[7] == 100 and rolled_map[7] != 7  # 7 is a drop


def test_bridge_component_inherits_smallest_rep(spark):
    """An increment component touching TWO frozen clusters inherits the
    smallest rep; frozen labels stay distinct (merge deferred to the
    next full rebuild — the documented compromise)."""
    frozen = _frozen(spark)
    new_nodes = spark.createDataFrame([(50,), (51,)], "doc_id bigint")
    cross = spark.createDataFrame(
        [(50, 120), (51, 130)], "new_id bigint, landed_id bigint"
    )
    new_pairs = spark.createDataFrame([(50, 51)], "a bigint, b bigint")
    got = {
        r.doc_id: r.cluster_rep
        for r in ds.incremental_cc_update(
            frozen, new_nodes, cross, new_pairs
        ).collect()
    }
    assert got == {50: 120, 51: 120}


def test_no_edges_increment_is_all_keeps(spark):
    frozen = _frozen(spark)
    new_nodes = spark.createDataFrame([(300,), (301,)], "doc_id bigint")
    cross = spark.createDataFrame([], "new_id bigint, landed_id bigint")
    got = {
        r.doc_id: r.cluster_rep
        for r in ds.incremental_cc_update(frozen, new_nodes, cross).collect()
    }
    assert got == {300: 300, 301: 301}


# ---- winnow fingerprint artifact (sources/winnow_index.py) ----


def test_winnow_artifact_roundtrip_and_probe(spark, tmp_path):
    """Freeze the held-out fingerprint set, reload, and pin the probe
    against the artifact EXACTLY equal to the in-session batch
    winnow_contamination."""
    from xena_gdc_etl_spark.catalog import Catalog
    from xena_gdc_etl_spark.operators import text as tx
    from xena_gdc_etl_spark.sources import winnow_index as wi

    docs = Catalog(spark, "/root/testdata/sf0.001").documents
    train = docs.filter(F.col("doc_id") % 10 != 0).limit(100)
    heldout = docs.filter(F.col("doc_id") % 10 == 0)

    d = str(tmp_path / "winnow")
    manifest = wi.save_winnow_fingerprints(heldout, d, k=5, w=4)
    loaded, m2 = wi.load_winnow_fingerprints(spark, d, k=5, w=4)
    assert m2 == manifest
    assert loaded.count() == manifest["n_fps"] > 0
    in_session = tx.winnow_fingerprint_set(heldout)
    assert sorted(r.fp for r in loaded.collect()) == sorted(
        r.fp for r in in_session.collect()
    )

    # probing against the ARTIFACT equals the batch operator: join the
    # train fps to the loaded set (a left join, then a per-doc count)
    want = sorted(
        (r.doc_id, r.n_fps, r.n_hit, r.contam_fp_frac)
        for r in tx.winnow_contamination(train, heldout).collect()
    )
    held_fp = loaded.withColumn("__hit", F.lit(1))
    train_fp = tx._winnow_fps_frame(train, "doc_id", "text", 5, 4).select(
        "doc_id", F.explode("__fps").alias("fp")
    )
    got = sorted(
        (r.doc_id, r.n_fps, r.n_hit, r.contam_fp_frac)
        for r in train_fp.join(held_fp, "fp", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_fps"),
            F.count("__hit").cast("bigint").alias("n_hit"),
            F.round(F.count("__hit") / F.count(F.lit(1)), 6).alias(
                "contam_fp_frac"
            ),
        )
        .collect()
    )
    assert got == want


def test_winnow_artifact_param_mismatch_refused(spark, tmp_path):
    from xena_gdc_etl_spark.catalog import Catalog
    from xena_gdc_etl_spark.sources import winnow_index as wi

    heldout = Catalog(spark, "/root/testdata/sf0.001").documents.limit(20)
    d = str(tmp_path / "winnow2")
    wi.save_winnow_fingerprints(heldout, d, k=5, w=4)
    with pytest.raises(ValueError, match="different"):
        wi.load_winnow_fingerprints(spark, d, k=7, w=4)
    with pytest.raises(FileNotFoundError):
        wi.load_winnow_fingerprints(spark, str(tmp_path / "absent"), k=5, w=4)


def test_crash_mid_swap_detected_and_resave_recovers(spark, tmp_path):
    """The worst crash window is between sentinel removal and the
    staging→final swap: the table may be missing entirely while a stale
    staging dir lingers. Contract: the load REFUSES (the sentinel is
    written last, so no sentinel = mid-save crash), and a plain re-save
    rolls forward — clearing the stale staging dir and re-endorsing —
    with no manual surgery."""
    import shutil

    d = str(tmp_path / "state")
    ds.save_dedup_decisions(_frozen(spark), d, **P)
    # simulate the crash: sentinel gone, live table gone, staging left
    os.remove(os.path.join(d, "_dedup_state.json"))
    shutil.move(
        os.path.join(d, "decisions.parquet"),
        os.path.join(d, "decisions.parquet.staging"),
    )
    with pytest.raises(FileNotFoundError, match="mid-save"):
        ds.load_dedup_decisions(spark, d, **P)
    ds.save_dedup_decisions(_frozen(spark), d, **P)
    assert not os.path.exists(os.path.join(d, "decisions.parquet.staging"))
    loaded, m = ds.load_dedup_decisions(spark, d, **P)
    assert m["n_docs"] == 4 and loaded.count() == 4


def test_star_edges_match_pairwise_oracle_on_hot_bucket(spark, tmp_path):
    """incremental_keep_decisions builds STAR-reduced edges (member →
    bucket min) instead of pairwise bucket self-joins; the oracle SQL is
    the full pairwise recursive closure. This fixture is the adversarial
    corpus for that reduction: a 40-member shared-boilerplate prefix
    bucket (the shape that makes pairwise |B|² and star O(|B|)), a
    pk→sk→pk chain (components must propagate THROUGH star centers,
    not just within one bucket), an increment doc whose only path to a
    frozen rep crosses the chain, and a singleton. Star ≡ pairwise on
    components AND inherited anchors, else this fails."""
    import duckdb

    from xena_gdc_etl_spark.workload import ORACLES, QUERIES

    def mk(prefix: str, suffix: str) -> str:
        return prefix.ljust(128, "p") + "x" * 40 + suffix.rjust(128, "s")

    rows = []
    # hot bucket: one boilerplate prefix, 40 members, both halves
    for i in range(100, 140):
        rows.append((i, mk("BOILERPLATE-LICENSE", f"tail{i}"), "web"))
    # chain: 200 ~pk~ 201 ~sk~ 202 ~pk~ 210(inc) — 210's anchor is 200
    rows += [
        (200, mk("AAA", "BBB"), "web"),
        (201, mk("AAA", "CCC"), "web"),
        (202, mk("DDD", "CCC"), "web"),
        (210, mk("DDD", "EEE"), "web"),
        (400, mk("SOLO", "SOLO2"), "web"),  # singleton increment? 400%10==0
        (401, mk("LONE", "LONE2"), "web"),  # landed singleton
    ]
    sdf = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    sdf.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )

    out = {
        (r["doc_id"], r["cluster_rep"], r["keep"])
        for r in QUERIES["incremental_keep_decisions"](
            spark, str(tmp_path)
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    oracle = set(
        map(tuple, con.execute(ORACLES["incremental_keep_decisions"]).fetchall())
    )
    assert out == oracle
    # spot-pin the scenario semantics, not just equivalence (note the
    # %10==0 docs — 100, 200, 210, 400 — are the INCREMENT half, so the
    # frozen chain is {201, 202} with rep 201):
    by_id = {d: (rep, keep) for d, rep, keep in out}
    assert by_id[210] == (201, 0)  # chain-crossing anchor, never a keep
    assert by_id[200] == (201, 0)  # pk-edge to the same frozen chain
    assert by_id[400] == (400, 1)  # singleton increment keeps itself
    hot_inc = [d for d in range(100, 140) if d % 10 == 0]
    # hot-bucket arrivals inherit the bucket's min LANDED id (101)
    assert all(by_id[d] == (101, 0) for d in hot_inc)


# ---- artifact path normalization (sources/artifact.py) ----


def test_local_artifact_paths_uri_spellings(tmp_path):
    """Every local spelling lands on the SAME filesystem location —
    including the single-slash ``file:/x`` form Spark itself emits
    (a fixed 7-char strip would mangle it to ``<cwd>/mp/x``)."""
    from xena_gdc_etl_spark.sources.artifact import local_artifact_paths

    p = str(tmp_path / "idx")
    expect = (p, "file://" + p)
    assert local_artifact_paths(p, "t") == expect
    assert local_artifact_paths("file://" + p, "t") == expect
    assert local_artifact_paths("file:" + p, "t") == expect  # single-slash
    assert local_artifact_paths("file://localhost" + p, "t") == expect
    with pytest.raises(ValueError, match="local file://"):
        local_artifact_paths("file://otherhost" + p, "t")
    with pytest.raises(ValueError, match="local path or file://"):
        local_artifact_paths("hdfs:/nn" + p, "t")


def test_local_artifact_paths_uppercase_scheme(tmp_path):
    """urlparse matches schemes case-insensitively; the prefix strip
    must agree ('FILE://...' strips like 'file://...', never falling
    into the single-slash branch and keeping '//netloc' in the path)."""
    from xena_gdc_etl_spark.sources.artifact import local_artifact_paths

    p = str(tmp_path / "idx")
    assert local_artifact_paths("FILE://" + p, "t") == (p, "file://" + p)
    assert local_artifact_paths("File:" + p, "t") == (p, "file://" + p)
