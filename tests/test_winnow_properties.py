"""Property-based invariants for winnowing fingerprints (operators/text.py
winnow_fingerprints), checked against a direct pure-python reference of the
Schleimer 2003 definition: per-doc k-gram polynomial hashes, sliding
window-of-w minimum, distinct selected prints. The Spark implementation is a
zip_with chain (expression-evaluation constraint documented in the operator);
these tests pin that the chain computes the SAME function, plus the paper's
coverage guarantee.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from xena_gdc_etl_spark.operators.text import (
    FINGERPRINT_BASE,
    FINGERPRINT_MOD,
    WINNOW_DIGEST_BASE,
    WINNOW_GRAM_BASE,
    winnow_fingerprints,
)

K, W = 3, 2  # small parameters exercise every boundary case quickly

_words = st.lists(
    st.sampled_from(["aa", "bb", "cc", "dd", "e"]), min_size=0, max_size=12
)

_SLOW = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _ref_fps(tokens: list[str], k: int, w: int) -> list[int]:
    def chf(tok):
        a = 0
        for c in tok:
            a = (a * FINGERPRINT_BASE + ord(c)) % FINGERPRINT_MOD
        return a

    th = [chf(t) for t in tokens]
    grams = []
    for i in range(len(th) - k + 1):
        a = 0
        for x in th[i : i + k]:
            a = (a * WINNOW_GRAM_BASE + x) % FINGERPRINT_MOD
        grams.append(a)
    if not grams:
        return []
    if len(grams) < w:
        return [min(grams)]
    mins = [min(grams[j : j + w]) for j in range(len(grams) - w + 1)]
    return sorted(set(mins))


def _ref_digest(fps: list[int]) -> int:
    a = 0
    for x in fps:
        a = (a * WINNOW_DIGEST_BASE + x) % FINGERPRINT_MOD
    return a


@_SLOW
@given(docs=st.lists(_words, min_size=1, max_size=5))
def test_winnow_matches_pure_python_reference(spark, docs):
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r
        for r in winnow_fingerprints(df, k=K, w=W).collect()
    }
    for i, toks in enumerate(docs):
        fps = _ref_fps(toks, K, W)
        assert got[i].n_fingerprints == len(fps), (i, toks)
        assert got[i].min_fp == (fps[0] if fps else None)
        assert got[i].fp_digest == _ref_digest(fps)


@_SLOW
@given(
    shared=st.lists(st.sampled_from(["aa", "bb", "cc"]), min_size=K + W - 1,
                    max_size=K + W + 3),
    pre=_words,
    post=_words,
)
def test_winnow_shared_run_guarantee(spark, shared, pre, post):
    """The paper's guarantee: two docs sharing a run of ≥ k+w-1 tokens
    select at least one common fingerprint."""
    a = " ".join(shared)
    b = " ".join(pre + shared + post)
    fa = set(_ref_fps(shared, K, W))
    fb = set(_ref_fps(pre + shared + post, K, W))
    assert fa & fb  # reference upholds the guarantee...
    df = spark.createDataFrame(
        [(0, a), (1, b)], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in winnow_fingerprints(df, k=K, w=W).collect()}
    # ...and the Spark digests equal the reference sets' digests, so the
    # engine inherits it
    assert got[0].fp_digest == _ref_digest(sorted(fa))
    assert got[1].fp_digest == _ref_digest(sorted(fb))


def test_winnow_contamination_guarantee(spark):
    """The winnowing guarantee, asserted end-to-end on the operator: any
    shared substring of >= k+w-1 = 8 tokens between a train doc and the
    held-out set yields at least one shared fingerprint (n_hit >= 1),
    while docs over a disjoint alphabet share nothing (n_hit == 0)."""
    from pyspark.sql import functions as F

    from xena_gdc_etl_spark.operators.text import winnow_contamination

    eval_sentence = "the quick brown fox jumps over the lazy dog"  # 9 toks
    heldout = spark.createDataFrame(
        [(100, f"header words then {eval_sentence} and trailing filler")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            # quotes the eval sentence verbatim inside unrelated text
            (1, f"alpha beta gamma {eval_sentence} delta epsilon zeta"),
            # disjoint vocabulary: no shared 8-token span possible
            (2, "uno dos tres cuatro cinco seis siete ocho nueve diez "
                "once doce trece catorce quince"),
            # fewer than k tokens: no fingerprints, so no output row
            (4, "ab cd"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_fps, r.n_hit)
        for r in winnow_contamination(train, heldout, k=5, w=4).collect()
    }
    assert got[1][1] >= 1, f"guaranteed shared fingerprint missing: {got}"
    assert got[2][1] == 0, f"disjoint doc reported hits: {got}"
    assert 4 not in got, f"fingerprint-less doc has a row: {got}"
    # and a SHORT shared substring (< 8 tokens) may legitimately be
    # missed — the guarantee is one-directional; just assert no crash
    short = spark.createDataFrame(
        [(3, "quick brown fox padding padding2 padding3 padding4 pad5")],
        "doc_id long, text string",
    )
    assert winnow_contamination(short, heldout, k=5, w=4).count() == 1
