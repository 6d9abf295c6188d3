"""The composed corpus-curation example must run end-to-end and uphold the
pipeline's guarantees at fixture scale."""

from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "examples"))


def test_corpus_curation_end_to_end(spark, sf_dir, tmp_path):
    from corpus_curation import curate

    out_dir = str(tmp_path / "curated")
    packed = curate(spark, sf_dir, out_dir)
    rows = packed.collect()
    assert rows, "curation dropped everything"

    total = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert len(rows) < total  # something was filtered/deduped
    # ...but curation must not collapse the corpus (the ungated-bucket
    # clustering failure mode kept 1 doc of 500)
    assert len(rows) > total * 0.3

    # no surviving byte-identical duplicates
    texts = [r.text for r in rows]
    assert len(set(texts)) == len(texts)

    # pack invariants hold after all the filtering
    budget = 256
    for r in rows:
        assert 0 <= r.pack_offset < budget
        assert r.pack_id >= 0

    # the write landed hive-partitioned by source
    parts = [d for d in os.listdir(out_dir) if d.startswith("source=")]
    assert parts
    back = spark.read.parquet(out_dir)
    assert back.count() == len(rows)


def test_curation_preflight_branches(spark):
    """The skew pre-flight profiles the dedup key and branches: a
    template-heavy corpus (one text dominating) gets the LSH bucket cap,
    a long-tail corpus keeps the exact default."""
    from corpus_curation import preflight_bucket_cap

    hot = spark.createDataFrame(
        [(i, "the same boilerplate page") for i in range(80)]
        + [(100 + i, f"unique document number {i}") for i in range(20)],
        "doc_id long, text string",
    )
    assert preflight_bucket_cap(hot, hot_share=0.5, cap=64) == 64

    cold = spark.createDataFrame(
        [(i, f"unique document number {i}") for i in range(100)],
        "doc_id long, text string",
    )
    assert preflight_bucket_cap(cold, hot_share=0.5, cap=64) is None


def test_embedding_curation_example(spark, tmp_path):
    import importlib.util
    import json
    import os

    script = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "examples",
        "embedding_curation.py",
    )
    spec = importlib.util.spec_from_file_location("emb_cur", script)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    out = str(tmp_path / "idx")
    index = mod.curate_embeddings(
        spark, "/root/testdata/sf0.001", out_dir=out, dup_threshold=0.3
    )
    rows = index.collect()
    assert rows, "dedup must keep at least one representative"
    # compressed layout: every vector carries its cell + m codes + int8 payload
    for r in rows[:5]:
        assert 0 <= r.centroid_id < 8 and len(r.codes) == 4
        assert r.scale > 0 and len(r.q) == 64
    m = json.load(open(os.path.join(out, "_manifest.json")))
    assert m["total_rows"] == len(rows)


def test_token_stats_build_example(spark, sf_dir, tmp_path):
    """The build→persist→consume loop runs end-to-end: the consumer scores
    off the LOADED artifact identically to scoring off a fresh tf frame."""
    from xena_gdc_etl_spark.operators.text import (
        doc_term_freqs,
        unigram_logprob_scores,
    )
    from xena_gdc_etl_spark.sources.token_stats import (
        load_token_stats,
        save_token_stats,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = str(tmp_path / "stats")
    save_token_stats(doc_term_freqs(docs), out)
    tf, _vocab, man = load_token_stats(spark, out)
    assert man["n_docs"] == docs.count()
    fresh = {
        r.doc_id: r.lm_score
        for r in unigram_logprob_scores(docs).collect()
    }
    loaded = {
        r.doc_id: r.lm_score
        for r in unigram_logprob_scores(docs, tf=tf).collect()
    }
    assert fresh == loaded


def test_incremental_dedup_daily_example(spark, tmp_path):
    """The day-0 freeze -> day-N probe loop (examples/
    incremental_dedup_daily.py) runs end-to-end over the durable digest
    + MinHash artifacts and agrees with the registered queries: the
    exact half equals incremental_dedup, and the near half equals the
    incremental_lsh_probe pair set."""
    import importlib.util
    import os

    from pyspark.sql import functions as F

    from xena_gdc_etl_spark.catalog import Catalog
    from xena_gdc_etl_spark.workload import QUERIES

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "incdaily", os.path.join(repo, "examples", "incremental_dedup_daily.py")
    )
    ex = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(ex)

    sf_dir = "/root/testdata/sf0.001"
    docs = Catalog(spark, sf_dir).documents
    landed = docs.filter(F.col("doc_id") % 5 == 0)
    new_docs = docs.filter(F.col("doc_id") % 5 != 0)

    state = str(tmp_path / "state")
    ex.day0_snapshot(spark, landed, state)
    exact, near = ex.dayN_probe(spark, new_docs, state)

    got_exact = {(r.doc_id, r.dup_of) for r in exact.collect()}
    want_exact = {
        (r.doc_id, r.dup_of)
        for r in QUERIES["incremental_dedup"](spark, sf_dir).collect()
    }
    assert got_exact == want_exact

    got_near = {(r.new_id, r.landed_id) for r in near.collect()}
    want_near = {
        (r.new_id, r.landed_id)
        for r in QUERIES["incremental_lsh_probe"](spark, sf_dir).collect()
    }
    assert got_near == want_near
    assert got_near, "no near pairs — fixture vacuous"

    # decision leg: arrivals near a landed cluster inherit its frozen
    # rep; rolling the artifact forward never flips a frozen decision
    from xena_gdc_etl_spark.sources import dedup_state as ds

    ex.day0_decisions(spark, landed, state)
    frozen, _ = ds.load_dedup_decisions(
        spark, os.path.join(state, "decisions"),
        num_hashes=ex.NUM_HASHES, shingle_k=ex.SHINGLE_K,
        band_size=ex.BAND_SIZE,
    )
    frozen_map = {r.doc_id: r.cluster_rep for r in frozen.collect()}
    decisions = ex.dayN_decisions(spark, new_docs, near, state)
    dec_map = {r.doc_id: r.cluster_rep for r in decisions.collect()}
    assert set(dec_map) == {r.doc_id for r in new_docs.collect()}
    inherited = {d: r for d, r in dec_map.items() if r % 5 == 0 and r != d}
    assert inherited, "no arrival inherited a landed rep — fixture vacuous"
    for d, r in inherited.items():
        assert frozen_map[r] == r, "inherited rep must be a frozen KEEP"

    ds.save_dedup_decisions(
        frozen.unionByName(decisions),
        os.path.join(state, "decisions"),
        num_hashes=ex.NUM_HASHES, shingle_k=ex.SHINGLE_K,
        band_size=ex.BAND_SIZE,
    )
    rolled, _ = ds.load_dedup_decisions(
        spark, os.path.join(state, "decisions"),
        num_hashes=ex.NUM_HASHES, shingle_k=ex.SHINGLE_K,
        band_size=ex.BAND_SIZE,
    )
    rolled_map = {r.doc_id: r.cluster_rep for r in rolled.collect()}
    for d, r in frozen_map.items():
        assert rolled_map[d] == r, "frozen keep decision flipped"


def test_bpe_tokenizer_train_example(spark, sf_dir):
    """The tokenizer story end-to-end: bpe_train → bpe_encode →
    sequence_pack over TRAINED subword counts. Pins the pipeline's
    invariants rather than exact values: every doc keeps a row, subword
    re-concatenation reproduces each word (spot-checked via counts),
    and the pack layout is gap-free per source."""
    from bpe_tokenizer_train import tokenize_and_pack

    merges, packed = tokenize_and_pack(
        spark, sf_dir, n_merges=16, pack_budget=64
    )
    assert len(merges) == 16
    rows = packed.collect()
    total = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert len(rows) == total  # no doc lost in encode or pack

    for r in rows:
        assert r.n_subwords >= 0
        assert r.pack_id >= 0
        assert 0 <= r.pack_offset < 64

    # gap-free greedy layout: per source, cumulative subwords in doc_id
    # order reproduce (pack_id, pack_offset)
    by_source: dict = {}
    for r in sorted(rows, key=lambda r: (r.source, r.doc_id)):
        start = by_source.get(r.source, 0)
        assert (r.pack_id, r.pack_offset) == (start // 64, start % 64)
        by_source[r.source] = start + r.n_subwords

    # merges actually compress: subword count strictly below character
    # count, at or above whitespace token count × 1 (sanity bounds)
    subs = sum(r.n_subwords for r in rows)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    chars = docs.agg(F.sum(F.length("text"))).collect()[0][0]
    assert 0 < subs < chars
