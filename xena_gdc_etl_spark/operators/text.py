"""Text-analysis operators for training-data pipelines.

Language ID (stopword-hit heuristic), quality scoring, token counting
(whitespace + BPE-ish regex), and polynomial document fingerprinting. All
pure Column expressions — whole-stage codegen, no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from xena_gdc_etl_spark.operators.partitioning import spread
from xena_gdc_etl_spark.operators.seams import seam

# Small, fixed stopword lists for the heuristic language scorer.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "de", "que", "pour"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "de", "que", "por"],
}

# Whitespace spelled as an explicit class, shared by the Spark operators
# (Java regex) and the DuckDB oracles (RE2): Java's \s includes \x0B where
# RE2's does not, so a bare \s would silently diverge on input containing
# vertical tabs; non-ASCII whitespace (NBSP etc.) is split by neither
# engine. Every tokenizing regex on either side must use this class.
WS_CLASS = " \\t\\n\\r\\f"
WS_RE = rf"[{WS_CLASS}]+"

# BPE-ish token pattern: letter runs, single digits, single punctuation.
TOKEN_PATTERN = rf"[A-Za-z]+|[0-9]|[^A-Za-z0-9{WS_CLASS}]"

FINGERPRINT_MOD = 1_000_000_007
FINGERPRINT_BASE = 31


def _tokens(text_col: Column) -> Column:
    # array_remove, not filter(t != ""): identical output on split()
    # arrays (split never yields nulls, and both forms drop exactly the
    # empty strings), but array_remove is a regular codegen expression
    # while lambda-bearing filter stays interpreted per element forever —
    # this runs per token over the whole corpus in every text query
    # (measured ~25% off a tokenize+aggregate stage at sf0.1, round 18).
    return F.array_remove(F.split(text_col, WS_RE), "")


def token_counts(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Whitespace token count + BPE-ish regex token count per doc."""
    text = F.col(text_col)
    return docs.select(
        F.col(id_col),
        F.size(_tokens(text)).cast("bigint").alias("ws_tokens"),
        F.regexp_count(text, F.lit(TOKEN_PATTERN)).cast("bigint").alias("bpe_tokens"),
    )


def raw_quality_ratios(
    text_col: str = "text",
    toks: "Column | None" = None,
) -> "tuple[Column, Column, Column]":
    """UNROUNDED (n_tokens, punct_ratio, stopword_ratio) expressions — the
    shared feature seam for quality_scores and the logistic scorer.
    Consumers that continue float math from these (the blended score, the
    sigmoid) must take them unrounded: rounding an intermediate and then
    continuing float math is not engine-portable (the rounded decimal has
    no exact double, and Spark rounds via BigDecimal HALF_UP where DuckDB
    rounds in float arithmetic); int/int division and fixed-order
    arithmetic are bit-identical across engines.

    ``toks``: a PRE-STAGED token-array column. Lambda-bearing expressions
    are opaque to Spark's subexpression elimination (the repetition_scores
    finding), so a consumer referencing several of these ratios should
    stage ``_tokens(text)`` in its own projection once and pass the
    column; with ``toks=None`` the expressions inline the tokenization
    per reference.
    """
    text = F.col(text_col)
    if toks is None:
        toks = _tokens(text)
    n_toks = F.size(toks)
    n_chars = F.length(text)
    n_punct = n_chars - F.length(F.regexp_replace(text, rf"[^\w{WS_CLASS}]", ""))
    n_stop = F.size(F.filter(toks, lambda t: F.lower(t).isin(*STOPWORDS["en"])))
    # greatest(n, 1): an empty or whitespace-only document has
    # n_chars/n_toks of 0, and under ANSI mode (the session default)
    # x/0 THROWS — the empty doc's ratios are 0, same guard as
    # quality_filter; oracles mirror with greatest()
    return (
        n_toks,
        n_punct / F.greatest(n_chars, F.lit(1)),
        n_stop / F.greatest(n_toks, F.lit(1)),
    )


def quality_scores(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Heuristic quality features: length, punctuation ratio, stopword
    ratio, mean word length, and a blended 0-1 score.
    """
    text = F.col(text_col)
    # STAGE the token array once (repetition_scores discipline): the
    # ratios below reference it 4x and lambda-bearing expressions are
    # opaque to subexpression elimination — inlined, every doc would
    # re-tokenize per consuming expression in the scan stage
    staged = docs.select(
        F.col(id_col), text, _tokens(text).alias("__toks")
    )
    toks = F.col("__toks")
    n_chars = F.length(text)
    n_toks, punct_ratio, stop_ratio = raw_quality_ratios(
        text_col, toks=toks
    )
    # length(array_join) == Σ length(token) (no separator), and the
    # join+length pair is codegen where the aggregate-fold lambda stays
    # interpreted per token (round-18 HOF sweep)
    mean_word_len = F.length(F.array_join(toks, "")) / F.greatest(
        n_toks, F.lit(1)
    )
    score = (
        F.least(n_toks / F.lit(100.0), F.lit(1.0)) * 0.4
        + (1 - punct_ratio) * 0.3
        + F.least(stop_ratio * 5, F.lit(1.0)) * 0.3
    )
    return staged.select(
        F.col(id_col),
        n_chars.cast("bigint").alias("n_chars_computed"),
        n_toks.cast("bigint").alias("n_tokens"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(mean_word_len, 6).alias("mean_word_len"),
        F.round(score, 6).alias("quality_score"),
    )


def lang_scores(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Stopword-hit language ID: per language, count tokens in its stopword
    list; predict the argmax (ties → lexicographically first language).
    """
    toks = _tokens(F.col(text_col))

    def stop_hits(words: list[str]) -> Column:
        # single-arg lambda: a default-arg closure would make Spark treat it
        # as the (element, index) form and bind the word list to the index
        return F.size(F.filter(toks, lambda t: F.lower(t).isin(*words)))

    cols = {lang: stop_hits(words) for lang, words in STOPWORDS.items()}
    out = docs.select(
        F.col(id_col),
        *[c.cast("bigint").alias(f"score_{lang}") for lang, c in cols.items()],
    )
    langs = sorted(STOPWORDS)
    best = F.greatest(*[F.col(f"score_{lg}") for lg in langs])
    pred = None
    for lg in reversed(langs):
        cond = F.col(f"score_{lg}") == best
        pred = F.when(cond, F.lit(lg)) if pred is None else F.when(cond, F.lit(lg)).otherwise(pred)
    # reversed + overwrite-on-match gives the lexicographically FIRST
    # max-scoring language precedence.
    return out.withColumn("predicted_lang", pred)


def ngram_structs(tokens: Column, n: int) -> Column:
    """Array of n-consecutive-token TUPLES (``array<struct>``) — the
    codegen twin of :func:`word_ngrams` for consumers that never need
    the joined string: built from ``arrays_zip`` over ``n`` shifted
    slices, a regular expression the whole-stage compiler handles, where
    the string form's per-gram ``transform``+``slice``+``array_join``
    lambda stays interpreted forever (measured 6.4× slower building
    trigrams at sf0.1, round 18). Tuple equality == joined-string
    equality (tokens cannot contain whitespace), so distinct counts and
    group/join keys agree exactly with the string form; recover the
    string with ``concat_ws(" ", g["0"], ..)`` after an explode when an
    output needs it. ``greatest(…, 0)`` guards short docs (a negative
    slice length throws); all-empty slices zip to an empty array.
    """
    stop = F.greatest(F.size(tokens) - (n - 1), F.lit(0))
    return F.arrays_zip(*[F.slice(tokens, i + 1, stop) for i in range(n)])


def word_ngrams(tokens: Column, n: int) -> Column:
    """Array of space-joined word n-grams from a token array. Guarded:
    Spark sequences run BACKWARD when stop < start, so docs with fewer than
    ``n`` tokens must yield an empty array, not garbage offsets.
    """
    stop = F.size(tokens) - (n - 1)
    idx = F.when(stop >= 1, F.sequence(F.lit(1), stop)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(idx, lambda i: F.array_join(F.slice(tokens, i, n), " "))


def word_chunks(tokens: Column, width: int) -> Column:
    """Array of space-joined NON-overlapping ``width``-word chunks (the
    passage unit for cross-document exact-passage dedup). The trailing
    partial chunk is dropped — only full-width passages are comparable.
    Guarded against Spark's backward-running sequence for short docs.
    """
    n_chunks = F.floor(F.size(tokens) / width).cast("int")
    idx = F.when(
        n_chunks >= 1, F.sequence(F.lit(0), n_chunks - 1)
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(
        idx, lambda i: F.array_join(F.slice(tokens, i * width + 1, width), " ")
    )


def passage_dedup_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 10,
) -> DataFrame:
    """Per-document cross-corpus repeated-passage fraction — the
    ExactSubstr-style passage dedup signal at word-chunk granularity: a
    passage is "shared" when the identical ``width``-word chunk appears in
    at least one OTHER document.

    Plan: explode distinct chunks per doc, one groupBy computes each
    chunk's document frequency (map-side partial), a narrow self-aggregate
    per doc counts shared chunks. No text re-read, no pair join — the
    output is per-doc, so cardinality never exceeds the corpus.
    """
    chunks = (
        spread(docs)
        .select(
            F.col(id_col),
            F.explode(word_chunks(_tokens(F.col(text_col)), width)).alias(
                "chunk"
            ),
        )
        .distinct()
    )
    df_counts = chunks.groupBy("chunk").agg(
        F.count(F.lit(1)).alias("__df")
    )
    return (
        chunks.join(df_counts, "chunk")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("__df") > 1, 1).otherwise(0)).alias("n_shared"),
        )
        .select(
            F.col(id_col),
            F.col("n_chunks").cast("bigint").alias("n_chunks"),
            F.col("n_shared").cast("bigint").alias("n_shared"),
            F.round(F.col("n_shared") / F.col("n_chunks"), 6).alias(
                "shared_frac"
            ),
        )
    )


def quality_filter(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 30,
    max_words: int = 10_000,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 10.0,
    max_dup_word_frac: float = 0.8,
) -> DataFrame:
    """C4/Gopher-style rule-chain document filter: keep documents whose
    word count, mean word length, and duplicate-word fraction all fall in
    the configured bands. All rules are scan-stage Column predicates
    (no explode, no shuffle, no Python) — at 100 TB this is a single pass
    that parquet row-group statistics can help skip.
    """
    # STAGE the token array (repetition_scores discipline) — the three
    # rule expressions reference it 4x; inlined, the scan re-tokenized
    # every doc per rule
    staged = docs.select(
        F.col(id_col), _tokens(F.col(text_col)).alias("__toks")
    )
    toks = F.col("__toks")
    n_words = F.size(toks)
    # Deliberately the aggregate-fold form, NOT quality_scores'
    # length(array_join): this operator FILTERS on the derived metrics,
    # and predicate pushdown substitutes the staged aliases back into
    # the pushed conjuncts — in the all-codegen form each conjunct
    # re-evaluates the tokenize (filter codegen has no cross-conjunct
    # subexpression elimination), which an interleaved A/B measured at
    # 0.58 s vs 0.37 s for this fold form at sf0.1 (round 18; the
    # lambda keeps the hot path on the interpreted-projection route
    # whose subexpression runtime DOES dedupe the staged tokens).
    mean_wlen = F.aggregate(
        toks, F.lit(0), lambda acc, t: acc + F.length(t)
    ) / F.greatest(n_words, F.lit(1))
    dup_frac = 1 - F.size(F.array_distinct(toks)) / F.greatest(
        n_words, F.lit(1)
    )
    return (
        staged.withColumn("n_words", n_words.cast("bigint"))
        .withColumn("mean_word_len", F.round(mean_wlen, 6))
        .withColumn("dup_word_frac", F.round(dup_frac, 6))
        .filter(
            (F.col("n_words") >= min_words)
            & (F.col("n_words") <= max_words)
            & (F.col("mean_word_len") >= min_mean_word_len)
            & (F.col("mean_word_len") <= max_mean_word_len)
            & (F.col("dup_word_frac") <= max_dup_word_frac)
        )
        .select(id_col, "n_words", "mean_word_len", "dup_word_frac")
    )


def repetition_scores(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Within-document repetition features (the Gopher-style repetition
    filters): duplicate-word fraction and duplicate-bigram fraction. Pure
    higher-order Column expressions — whole-stage codegen, no explode, no
    shuffle; the filter decision is computable in the scan stage.

    The token and bigram arrays are STAGED in an intermediate projection:
    lambda-bearing expressions are opaque to Spark's subexpression
    elimination, so inlining them re-tokenized every document once per
    consumer (~6× the work — measured 22× slower end-to-end at sf0.1).
    CollapseProject leaves the staging in place because the aliases are
    non-cheap and multiply referenced.
    """
    # __bigrams as codegen tuples (ngram_structs): only sizes and the
    # distinct count are consumed, and tuple distinct == string distinct.
    staged = docs.select(
        F.col(id_col), _tokens(F.col(text_col)).alias("__toks")
    ).select(
        id_col, "__toks", ngram_structs(F.col("__toks"), 2).alias("__bigrams")
    )
    n_words = F.size("__toks")
    n_bigrams = F.size("__bigrams")

    def dup_frac(arr: Column, n: Column) -> Column:
        # guarded: empty docs yield NULL (engines disagree on 0/0)
        return F.when(
            n > 0, F.round(1 - F.size(F.array_distinct(arr)) / n, 6)
        )

    return staged.select(
        F.col(id_col),
        n_words.cast("bigint").alias("n_words"),
        dup_frac(F.col("__toks"), n_words).alias("dup_word_frac"),
        dup_frac(F.col("__bigrams"), n_bigrams).alias("dup_bigram_frac"),
    )


def tfidf_keywords(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    tf: DataFrame | None = None,
) -> DataFrame:
    """Top-k keywords per document by tf-idf. Ranking uses only integer
    statistics (tf desc, doc_freq asc, token asc) so it is deterministic
    across engines; the reported score is tf·ln((N+1)/(df+1)).

    Plan: one explode + two-level agg (per-doc tf, then corpus df), one
    tok-keyed join, one window over doc_id. The doc count N joins in as a
    broadcast 1-row aggregate — no driver-side collect. ``tf``: optionally
    a prebuilt :func:`doc_term_freqs` frame (materialize-once seam).
    """
    from pyspark.sql import Window

    if tf is None:
        tf = doc_term_freqs(docs, id_col, text_col)
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("doc_freq"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("__n"))
    w = Window.partitionBy(id_col).orderBy(
        F.col("tf").desc(), F.col("doc_freq").asc(), F.col("tok").asc()
    )
    return (
        tf.join(df, "tok")
        .join(F.broadcast(n_docs))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col(id_col),
            F.col("rank").cast("bigint").alias("rank"),
            "tok",
            F.col("tf").cast("bigint").alias("tf"),
            F.col("doc_freq").cast("bigint").alias("doc_freq"),
            F.round(
                F.col("tf") * F.log((F.col("__n") + 1.0) / (F.col("doc_freq") + 1.0)),
                6,
            ).alias("tfidf"),
        )
    )


def bm25_scores(
    docs: DataFrame,
    query_terms: "list[str]",
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    tf: DataFrame | None = None,
) -> DataFrame:
    """Okapi BM25 relevance of every document to a fixed query term set
    (Robertson & Walker's public ranking function) — the retrieval-scored
    slice step of a curation pipeline (e.g. "pull the docs most about X
    for a domain mix").

    score(d) = Σ_{t∈Q} ln(1 + (N − df_t + 0.5)/(df_t + 0.5))
               · tf · (k1+1) / (tf + k1 · (1 − b + b · dl/avgdl))

    Plan shape at 100 TB: the term-frequency frame filters to the |Q|
    query terms FIRST (a posting-list slice — the only rows that ever
    join), df is a |Q|-row broadcast, N and avgdl are a 1-row broadcast
    aggregate, and the per-doc length frame joins on the tf frame's own
    doc_id partitioning. No collect, no window; one small join per side.
    ``tf``: optionally a prebuilt :func:`doc_term_freqs` frame (the
    materialize-once seam all unigram consumers share).
    """
    if not query_terms:
        raise ValueError("bm25_scores needs at least one query term")
    if tf is None:
        tf = doc_term_freqs(docs, id_col, text_col)
    dl = tf.groupBy(id_col).agg(F.sum("tf").alias("__dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("__n"), F.avg("__dl").alias("__avgdl")
    )
    q = tf.filter(F.col("tok").isin(list(query_terms)))
    df = q.groupBy("tok").agg(F.count(F.lit(1)).alias("__df"))
    idf = F.log(
        1.0
        + (F.col("__n") - F.col("__df") + 0.5) / (F.col("__df") + 0.5)
    )
    w = (
        idf
        * F.col("tf")
        * (k1 + 1.0)
        / (
            F.col("tf")
            + k1 * (1.0 - b + b * F.col("__dl") / F.col("__avgdl"))
        )
    )
    return (
        q.join(F.broadcast(df), "tok")
        .join(dl, id_col)
        .join(F.broadcast(stats))
        .groupBy(id_col)
        .agg(F.round(F.sum(w), 6).alias("bm25"))
    )


def fingerprints(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Polynomial rolling-hash fingerprint over the document's characters:
    fp = fold(acc * 31 + ascii(ch) mod 1e9+7). Engine-portable arithmetic
    (fits bigint), computed via a codegen'd higher-order aggregate.
    """
    chars = F.split(F.col(text_col), "")
    fp = F.aggregate(
        F.filter(chars, lambda c: c != ""),
        F.lit(0).cast("bigint"),
        lambda acc, c: (acc * FINGERPRINT_BASE + F.ascii(c)) % FINGERPRINT_MOD,
    )
    return docs.select(F.col(id_col), fp.alias("fingerprint"))


def doc_term_freqs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document term frequencies (id, tok, tf) — the shared first stage
    of every unigram statistic in this module (LM scoring, commonness
    ranking, tf-idf, OOV probing, vocabulary building). One explode + one
    (id, tok) groupBy; an underfilled scan is spread past scan
    parallelism before the explode (document tables are compact on disk;
    a filled scan skips the shuffle — see partitioning.spread).

    A real pipeline materializes this frame ONCE per corpus snapshot (it
    is the token-statistics artifact) and fans every consumer out from it
    — the ``tf=`` parameter on the consumers below is that seam; the
    workload's ``_shared_doc_tf`` session cache is the local analog.
    """
    toks = spread(docs).select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), WS_RE)).alias("tok"),
    ).filter(F.col("tok") != "")
    return toks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("tf"))


def unigram_logprob_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    tf: DataFrame | None = None,
) -> DataFrame:
    """CCNet-style fluency proxy: score each document by the mean negative
    log-probability of its tokens under the corpus's own unigram model,
    lm_score = Σ tf·(ln N − ln c) / Σ tf (lower = more "in-distribution").

    Plan: the (id, tok, tf) stage collapses the corpus to per-doc distinct
    tokens BEFORE any join, so the vocabulary join never touches the raw
    token stream; the vocab (tok → corpus count c) derives from the same
    tf frame (no second scan of the text), and the corpus total N joins in
    as a broadcast 1-row aggregate. At web scale the tok-keyed join falls
    back from broadcast to shuffle — both sides are already tok-keyed
    aggregates, orders of magnitude smaller than the exploded stream.

    ``tf``: optionally a prebuilt :func:`doc_term_freqs` frame (the
    materialize-once seam); must have the exact (id, tok, tf) semantics.
    """
    if tf is None:
        tf = doc_term_freqs(docs, id_col, text_col)
    vocab = tf.groupBy("tok").agg(F.sum("tf").alias("c"))
    total = vocab.agg(F.sum("c").alias("__n"))
    nll = F.col("tf") * (F.log(F.col("__n")) - F.log(F.col("c")))
    return (
        tf.join(vocab, "tok")
        .join(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("bigint").alias("n_tokens"),
            F.round(F.sum(nll) / F.sum("tf"), 6).alias("lm_score"),
        )
    )


def bigram_logprob_scores(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Bigram-LM fluency score: mean negative conditional log-probability
    of each document's bigrams under the corpus's own bigram model,
    score = Σ tf₂·(ln c₁(w₁) − ln c₂(w₁w₂)) / Σ tf₂ — the KenLM-style
    next-token-surprise proxy one rung above the unigram ``lm_score``
    (no smoothing: every corpus bigram has c₂ ≥ 1 by construction).

    Plan: one tokenize pass produces the per-doc bigram tf (the stream
    collapses to per-doc DISTINCT bigrams before any join — same shape as
    ``unigram_logprob_scores``); the bigram vocabulary c₂ derives from
    that tf frame without re-reading text, the unigram context counts c₁
    derive from c₂ by splitting the bigram key (cheaper than a second
    token scan — every bigram occurrence is exactly one occurrence of its
    head word, so summing c₂ over w₁ IS the head-word occurrence count
    over docs with ≥2 tokens). Both joins are key-hash joins between
    aggregate-sized frames. Documents with fewer than 2 tokens have no
    bigrams and drop out — both engines agree by construction.
    """
    # bg is a codegen TUPLE key (ngram_structs), not the joined
    # string: it never reaches the output, tuple equality == string
    # equality, and the head word is a field access instead of a
    # split_part re-parse.
    bigrams = spread(docs).select(
        F.col(id_col),
        F.explode(
            ngram_structs(_tokens(F.lower(F.col(text_col))), 2)
        ).alias("bg"),
    )
    # Three consumers read the (id, bg, tf2) frame (c2 rollup, the join
    # side, and — via c2 — the c1 rollup); eagerly-filled seam so the
    # corpus-wide bigram explode+aggregate runs once AND the vocab joins
    # (tf2 ⋈ c2 ⋈ c1) plan from the frame's ACTUAL size — broadcast on a
    # small corpus, shuffle at web scale (see dedup.containment_pairs:
    # both lazy localCheckpoint and an unfilled cache report estimates
    # that hide the explode fan-out and bait corpus-sized broadcasts).
    tf2 = seam(
        bigrams.groupBy(id_col, "bg").agg(F.count(F.lit(1)).alias("tf2"))
    )
    c2 = tf2.groupBy("bg").agg(F.sum("tf2").alias("c2"))
    c1 = (
        c2.groupBy(F.col("bg")["0"].alias("w1"))
        .agg(F.sum("c2").alias("c1"))
    )
    nll = F.col("tf2") * (F.log(F.col("c1")) - F.log(F.col("c2")))
    return (
        tf2.join(c2, "bg")
        .join(c1, F.col("bg")["0"] == F.col("w1"))
        .groupBy(id_col)
        .agg(
            F.sum("tf2").cast("bigint").alias("n_bigrams"),
            F.round(F.sum(nll) / F.sum("tf2"), 6).alias("bigram_lm"),
        )
    )


def _commonness(tf: DataFrame, id_col: str, dtype: str = "bigint") -> DataFrame:
    """Per-document commonness = Σ tf·c over a (id, tok, tf) frame, where
    c = corpus count of the token. ``dtype`` is the accumulator type for
    BOTH the tf·c product and its sum: the default BIGINT holds ~10^18 of
    token-occurrence product mass per document (ample for ~10^12-token
    corpora); pass ``"decimal(38,0)"`` for true web-scale inputs where
    tf·c can cross 2^63 — under ANSI mode the BIGINT path surfaces that
    as a runtime error rather than a silent wrap, so the switch is never
    guesswork. An oracle replaying this must cast identically (DuckDB:
    ``CAST(... AS BIGINT)`` vs ``CAST(... AS HUGEINT)``/DECIMAL(38,0)).
    Boundary behavior is pinned by tests/test_edge_cases.py.
    """
    vocab = tf.groupBy("tok").agg(F.sum("tf").alias("c"))
    lhs = F.col("tf") if dtype == "bigint" else F.col("tf").cast(dtype)
    return (
        tf.join(vocab, "tok")
        .groupBy(id_col)
        .agg(F.sum(lhs * F.col("c")).cast(dtype).alias("commonness"))
    )


def commonness_buckets(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    n_buckets: int = 3,
    commonness_dtype: str = "bigint",
    tf: DataFrame | None = None,
) -> DataFrame:
    """CCNet-style head/middle/tail bucketing, integer-deterministic.

    Documents are ranked per language by "commonness" = Σ tf·c (c = corpus
    count of the token) — an integer surrogate for unigram likelihood, so
    the split is exact and engine-portable (no float comparisons anywhere
    in the ranking; ties broken by doc id). Bucket 1 = head (most
    in-distribution), 3 = tail; assignments match ``ntile(n)`` exactly.

    Plan: reuses the (id, tok, tf) stage; commonness is one tok-keyed join
    + one groupBy. The per-language rank is the scale-sensitive part — a
    plain ``ntile(n) OVER (PARTITION BY lang)`` would pull every document
    of a language through ONE window task (at web scale English is half
    the corpus), so the rank is computed with the two-pass sharded prefix
    scan (operators/prefix.py: range-shard → local window → broadcast
    offsets; every task bounded by the shard, never the language) and the
    ntile bucket derived arithmetically from (rank, group size): with
    q = n div k and r0 = n mod k, the first r0 buckets get q+1 rows, so
    bucket(r) = ceil(r/(q+1)) for r ≤ r0·(q+1), else r0 + ceil((r−thr)/q).
    Integer-exact: doubles below 2^53 only.

    Scale bound: ``commonness_dtype`` picks the Σ tf·c accumulator — the
    default BIGINT is ample below ~10^18 of product mass per document;
    pass ``"decimal(38,0)"`` for web-scale corpora where it can overflow
    (see :func:`_commonness` for the exact contract and oracle mirror).
    """
    from xena_gdc_etl_spark.operators.prefix import group_row_number

    names = ["head", "middle", "tail"]
    if n_buckets != len(names):
        names = [f"b{i + 1}" for i in range(n_buckets)]
    if tf is None:
        tf = doc_term_freqs(docs, id_col, text_col)
    comm = _commonness(tf, id_col, dtype=commonness_dtype)
    # Materialize the (id, lang, commonness) frame — one narrow row per
    # document, the REDUCED output of the tokenize+join pipeline — before
    # ranking: the sharded rank's boundary-sample pass projects its order
    # keys, and commonness IS an order key, so without this the whole
    # commonness pipeline would run twice (once for the sample, once for
    # the rank). seam(eager=False), not lazy localCheckpoint: the
    # checkpoint's .rdd conversion EXECUTES the pipeline's stages at
    # construction under AQE (so "construction runs no job" was false),
    # while the seam is genuinely action-free until the boundary-sample
    # collect inside group_row_number fills the cache for every later
    # pass — and it stays registered for bounded eviction + release.
    ranked_in = seam(
        docs.select(id_col, lang_col).join(comm, id_col), eager=False
    )
    ranked = group_row_number(
        ranked_in,
        [lang_col],
        [("commonness", "desc"), id_col],
        "__rank",
        total_col="__n",
    )

    def idiv(a, b):  # exact for |values| < 2^53 — ranks/counts always are
        return F.floor(a / b).cast("bigint")

    k = F.lit(n_buckets).cast("bigint")
    r, n = F.col("__rank"), F.col("__n")
    q = idiv(n, k)
    r0 = n % k
    thr = r0 * (q + F.lit(1))
    bucket_idx = F.when(r <= thr, idiv(r + q, q + F.lit(1))).otherwise(
        r0 + idiv(r - thr + q - F.lit(1), F.greatest(q, F.lit(1)))
    )
    return ranked.select(
        F.col(id_col),
        F.col(lang_col),
        "commonness",
        F.get(F.array(*[F.lit(nm) for nm in names]), (bucket_idx - 1).cast("int"))
        .alias("bucket"),
    )


# Redaction patterns for common PII shapes in web-scraped corpora. Order
# matters: emails before bare domains would, e.g., double-redact.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d[\d\- ]{7,}\d", "<PHONE>"),
)


def scrub_pii(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_cols: "tuple[str, ...]" = (),
) -> DataFrame:
    """Redact common PII patterns and report per-doc redaction counts —
    the pre-training scrub step. Chained ``regexp_replace`` (codegen JVM
    regex, no Python); counts measured before replacement so they reflect
    the original text. ``keep_cols``: extra input columns carried through
    unchanged (e.g. ``source`` for the per-source density rollup).
    """
    scrubbed = F.col(text_col)
    count_cols = []
    for name, pattern, token in PII_PATTERNS:
        count_cols.append(
            F.size(F.regexp_extract_all(F.col(text_col), F.lit(pattern), F.lit(0)))
            .cast("bigint")
            .alias(f"n_{name}")
        )
        scrubbed = F.regexp_replace(scrubbed, pattern, token)
    return docs.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        *count_cols,
        scrubbed.alias("scrubbed_text"),
    )


def gopher_rules(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_alpha_word_frac: float = 0.8,
    max_symbol_word_ratio: float = 0.1,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Gopher-style quality rule profile (Rae et al. 2021, "Scaling
    Language Models", App. A1.1 — public method): per-document metrics,
    one boolean per rule, and the conjunctive ``keep`` decision. Unlike
    :func:`quality_filter` (which drops failing rows), this keeps every
    row so the rule-level rejection mix is inspectable — the shape used
    to calibrate thresholds before committing to a filter.

    Rules: word-count band, mean-word-length band, fraction of words
    containing an alphabetic character, symbol-to-word ratio (``#`` and
    ``...`` occurrences per word), and a minimum stopword-hit count.

    Scale: all metrics are scan-stage Column expressions over one staged
    token array (no explode, no shuffle, no Python) — a single pass at
    100 TB. Flags compare UNROUNDED values (int/int division is
    IEEE-identical across engines); displayed ratios are rounded.
    """
    staged = docs.select(
        F.col(id_col),
        F.col(text_col),
        _tokens(F.col(text_col)).alias("__toks"),
    )
    toks = F.col("__toks")
    n_words = F.size(toks)
    safe_n = F.greatest(n_words, F.lit(1))
    mean_wlen = (
        F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t)) / safe_n
    )
    alpha_frac = (
        F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]"))) / safe_n
    )
    n_symbols = F.regexp_count(F.col(text_col), F.lit("#")) + F.regexp_count(
        F.col(text_col), F.lit(r"\.\.\.")
    )
    symbol_ratio = n_symbols / safe_n
    n_stop = F.size(
        F.filter(toks, lambda t: F.lower(t).isin(*STOPWORDS["en"]))
    )
    pass_words = (n_words >= min_words) & (n_words <= max_words)
    pass_word_len = (mean_wlen >= min_mean_word_len) & (
        mean_wlen <= max_mean_word_len
    )
    pass_alpha = alpha_frac >= min_alpha_word_frac
    pass_symbol = symbol_ratio <= max_symbol_word_ratio
    pass_stop = n_stop >= min_stop_hits
    return staged.select(
        F.col(id_col),
        n_words.cast("bigint").alias("n_words"),
        F.round(mean_wlen, 6).alias("mean_word_len"),
        F.round(alpha_frac, 6).alias("alpha_word_frac"),
        F.round(symbol_ratio, 6).alias("symbol_word_ratio"),
        n_stop.cast("bigint").alias("n_stop_hits"),
        pass_words.alias("pass_words"),
        pass_word_len.alias("pass_word_len"),
        pass_alpha.alias("pass_alpha"),
        pass_symbol.alias("pass_symbol"),
        pass_stop.alias("pass_stop"),
        (pass_words & pass_word_len & pass_alpha & pass_symbol & pass_stop)
        .alias("keep"),
    )


def oov_rates(
    docs: DataFrame,
    vocab_size: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
    tf: DataFrame | None = None,
) -> DataFrame:
    """Per-document out-of-vocabulary rate against the corpus's own top-K
    tokens by term frequency (ties broken lexically for determinism) —
    the coverage diagnostic run before fixing a tokenizer vocabulary.

    Plan: everything derives from the (id, tok, tf) frame — the
    vocabulary is its tok-rollup's top-K (≤ ``vocab_size`` rows by
    construction, broadcast), and the probe join touches per-doc DISTINCT
    tokens weighted by tf rather than the raw exploded stream, so the
    stream shuffles once (building tf), never for the probe. Docs with
    zero tokens have no tf rows and are absent, matching the oracle.
    ``tf``: optionally a prebuilt :func:`doc_term_freqs` frame
    (materialize-once seam).
    """
    if tf is None:
        tf = doc_term_freqs(docs, id_col, text_col)
    vocab = (
        tf.groupBy("tok")
        .agg(F.sum("tf").alias("__c"))
        .orderBy(F.col("__c").desc(), "tok")
        .limit(vocab_size)
        .select("tok", F.lit(1).alias("__in_vocab"))
    )
    return (
        tf.join(F.broadcast(vocab), "tok", "left")
        .groupBy(id_col)
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(
                F.when(F.col("__in_vocab").isNull(), F.col("tf")).otherwise(
                    F.lit(0)
                )
            ).alias("n_oov"),
        )
        .select(
            F.col(id_col),
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.col("n_oov").cast("bigint").alias("n_oov"),
            F.round(F.col("n_oov") / F.col("n_tokens"), 6).alias("oov_rate"),
        )
    )


# Winnowing constants: gram fold and digest fold use distinct small bases so
# the three folds (char→token, token→gram, fingerprint→digest) never alias.
# All arithmetic stays < MOD*BASE + MOD ≈ 1.4e11 — far inside bigint.
WINNOW_GRAM_BASE = 131
WINNOW_DIGEST_BASE = 137


def _char_fold(tok: Column) -> Column:
    """Polynomial char fold of one token — the same fold as
    :func:`fingerprints` so the oracle mirror is shared."""
    return F.aggregate(
        F.filter(F.split(tok, ""), lambda c: c != ""),
        F.lit(0).cast("bigint"),
        lambda acc, c: (acc * FINGERPRINT_BASE + F.ascii(c)) % FINGERPRINT_MOD,
    )


def _winnow_fps_frame(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    w: int,
) -> DataFrame:
    """(id, __fps sorted-distinct winnowed fingerprint array) — the
    selector pipeline shared by :func:`winnow_fingerprints` (per-doc
    digest) and :func:`winnow_contamination` (cross-set intersection).
    See winnow_fingerprints for the algorithm, boundary conventions, and
    the evaluation-shape constraint behind the zip_with chains."""
    empty = F.array().cast("array<bigint>")

    def shifted_fold(base: Column, length: Column, n: int,
                     fold_base: int) -> Column:
        """acc over n consecutive elements: chain of n-1 zip_withs, each
        input an explicit slice — no free arrays inside any lambda."""
        acc = F.slice(base, 1, length - (n - 1))
        for j in range(1, n):
            acc = F.zip_with(
                acc,
                F.slice(base, j + 1, length - (n - 1)),
                lambda a, b: (a * fold_base + b) % FINGERPRINT_MOD,
            )
        return acc

    toks = _tokens(F.lower(F.col(text_col)))
    staged = docs.select(
        F.col(id_col), F.transform(toks, _char_fold).alias("__th")
    )
    th, m = F.col("__th"), F.size(F.col("__th"))
    grams = F.when(
        m >= k, shifted_fold(th, m, k, WINNOW_GRAM_BASE)
    ).otherwise(empty)
    staged = staged.select(F.col(id_col), grams.alias("__g"))
    gr, g = F.col("__g"), F.size(F.col("__g"))
    # sliding window-min of width w via a min-chain (same shape: every
    # input is an explicit slice of the materialized gram column)
    mn = F.slice(gr, 1, g - (w - 1))
    for j in range(1, w):
        mn = F.zip_with(
            mn, F.slice(gr, j + 1, g - (w - 1)), lambda a, b: F.least(a, b)
        )
    mins = (
        F.when(g >= w, mn)
        .when(g > 0, F.array(F.array_min(gr)))
        .otherwise(empty)
    )
    return staged.select(
        F.col(id_col), F.array_sort(F.array_distinct(mins)).alias("__fps")
    )


def winnow_contamination(
    train: DataFrame,
    heldout: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Verbatim-span decontamination via winnowed fingerprints — the
    MOSS-style complement to :func:`~xena_gdc_etl_spark.operators.dedup.
    ngram_contamination`'s full-gram Jaccard fraction: winnowing
    guarantees ANY shared substring of ≥ ``k+w-1`` tokens between a
    training doc and the held-out set yields at least one shared
    fingerprint, so a doc quoting a single eval sentence verbatim is
    caught even when its overall gram overlap is tiny.

    Output per train doc (docs with no fingerprints — under ``k`` tokens
    — are excluded, matching the empty-set convention):
    (id, n_fps, n_hit, contam_fp_frac). Plan: both sides run the
    zero-shuffle fingerprint selector at scan speed; the train side
    explodes to (id, fp), the held-out side collapses to its DISTINCT
    fingerprint set, and one fp-keyed join + a per-doc partial aggregate
    finish it. No broadcast hint on the held-out side — heldout size is
    caller data; AQE broadcasts the distinct's output when it is
    genuinely eval-suite-sized and shuffles otherwise (same rationale as
    ngram_contamination).
    """
    # Eagerly-filled persists BEFORE the explodes — measured load-bearing,
    # not convenience: exploding the fingerprint array directly re-ran
    # the whole zip_with selector OUTSIDE whole-stage codegen (generate
    # + giant higher-order chain → interpreted fallback), 29 s vs 3 s for
    # the identical computation at sf0.1, and an exchange barrier did NOT
    # help (the chain stays interpreted wherever it lands). The filled
    # cache holds the MATERIALIZED arrays (computed once, compiled), the
    # explode reads columns, and — as with the other eager seams — the
    # join below plans from actual sizes.
    train_fps = seam(_winnow_fps_frame(train, id_col, text_col, k, w))
    held_fps = seam(_winnow_fps_frame(heldout, id_col, text_col, k, w))
    train_fp = train_fps.select(
        F.col(id_col), F.explode("__fps").alias("fp")
    )
    held_fp = (
        held_fps.select(F.explode("__fps").alias("fp"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    return (
        train_fp.join(held_fp, "fp", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_fps"),
            F.count("__hit").cast("bigint").alias("n_hit"),
            F.round(F.count("__hit") / F.count(F.lit(1)), 6).alias(
                "contam_fp_frac"
            ),
        )
    )


def winnow_fingerprint_set(
    heldout: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """The held-out side of winnow decontamination as a standalone
    one-column (fp bigint) DISTINCT frame — the artifact a standing
    decontamination service freezes once per eval-suite snapshot and
    every probe joins against. Identical selector and collapse as
    :func:`winnow_contamination`'s held side (pinned by
    tests/test_dedup_state.py::test_winnow_artifact_roundtrip_and_probe,
    which probes the reloaded artifact); no persist seam — the caller
    materializes it (parquet / cache) on its own lifecycle.
    """
    return (
        _winnow_fps_frame(heldout, id_col, text_col, k, w)
        .select(F.explode("__fps").alias("fp"))
        .distinct()
    )


def winnow_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003,
    "Winnowing: Local Algorithms for Document Fingerprinting" — the MOSS
    fingerprint selector; public method).

    Per document: hash every word ``k``-gram (polynomial fold over the
    tokens' char folds), slide a window of ``w`` consecutive gram hashes,
    select each window's minimum, and keep the distinct selected hashes.
    Winnowing guarantees any shared substring of ≥ ``k+w-1`` tokens yields
    at least one shared fingerprint, while storing ~``2/(w+1)`` of the
    grams — the density/recall trade plagiarism and near-dup detectors use.

    Shape note (the reference's closest feature is the whole-document
    rolling hash, ``fingerprints`` above — winnowing is its
    substring-robust big sibling): everything here is a scan-stage Column
    program — tokenize, two nested higher-order folds, a sliding
    ``array_min`` — so the operator is embarrassingly parallel with ZERO
    shuffles; at 100 TB it runs at scan speed and the output (one row per
    doc) feeds the usual hash-join dedup machinery.

    Fewer than ``k`` tokens → no grams → empty fingerprint set (digest 0,
    ``min_fp`` null); fewer than ``w`` grams → the single global minimum
    (the standard boundary convention, mirrored in the oracle).

    Evaluation-shape constraint (why the sliding min is a zip_with chain
    and not ``transform(sequence(...), j -> array_min(slice(grams, j, w)))``):
    a free-variable ARRAY EXPRESSION inside a higher-order-function lambda
    is re-evaluated once per element, so the nested form evaluates the
    whole O(m·k) gram pipeline g more times — O(m²k) per document, a
    ~100× slowdown measured at 500 tiny docs. In the chain form every
    intermediate array is only ever the direct INPUT of the next
    ``zip_with``/``slice``, each evaluated once per row; duplication is
    bounded by the small constants k and w.
    """
    staged = _winnow_fps_frame(docs, id_col, text_col, k, w)
    fps = F.col("__fps")
    digest = F.aggregate(
        fps,
        F.lit(0).cast("bigint"),
        lambda a, x: (a * WINNOW_DIGEST_BASE + x) % FINGERPRINT_MOD,
    )
    return staged.select(
        F.col(id_col),
        F.size(fps).cast("bigint").alias("n_fingerprints"),
        F.get(fps, 0).alias("min_fp"),
        digest.alias("fp_digest"),
    )


def token_chunks(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_size: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Fixed-size token windowing with overlap — the "split long documents
    into training samples" step of an LLM data pipeline (stride < size
    gives the overlapping-context form; stride == size gives disjoint
    chunks).

    Chunk ``j`` (1-based) covers tokens ``[(j-1)*stride + 1,
    (j-1)*stride + chunk_size]``; the last chunk may be short; the chunk
    count ``1 + ceil(max(m - chunk_size, 0) / stride)`` is the smallest
    that covers every token. Zero-token docs emit nothing.

    Scale shape: one generate-explode per document — a narrow,
    shuffle-free cardinality expansion that AQE splits across tasks at
    scan granularity, never keyed by anything hot. The per-chunk content
    hash (char fold → token fold, same constants as the winnowing family)
    lets downstream exact-dedup run on chunks without re-reading text.
    """
    toks = _tokens(F.col(text_col))
    # coalesce: size(NULL) is NULL, which would slip past the m <= 0
    # branch and emit a phantom all-NULL chunk row for a NULL-text doc
    # (the documented contract is "zero-token docs emit nothing")
    m = F.coalesce(F.size(toks), F.lit(0))
    n_chunks = F.when(m <= 0, F.lit(0).cast("bigint")).otherwise(
        F.lit(1)
        + F.ceil((F.greatest(m - chunk_size, F.lit(0))) / F.lit(stride)).cast(
            "bigint"
        )
    )
    starts = F.when(
        n_chunks > 0,
        F.transform(
            F.sequence(F.lit(1), n_chunks.cast("int")),
            lambda j: (j - 1) * stride + 1,
        ),
    ).otherwise(F.array().cast("array<int>"))
    exploded = docs.select(
        F.col(id_col),
        F.transform(toks, _char_fold).alias("__tok_h"),
        F.posexplode(starts).alias("__pos", "start_tok"),
    )
    chunk = F.slice(F.col("__tok_h"), F.col("start_tok"), chunk_size)
    chunk_hash = F.aggregate(
        chunk,
        F.lit(0).cast("bigint"),
        lambda a, x: (a * WINNOW_GRAM_BASE + x) % FINGERPRINT_MOD,
    )
    return exploded.select(
        F.col(id_col),
        (F.col("__pos") + 1).cast("bigint").alias("chunk_id"),
        F.col("start_tok").cast("bigint").alias("start_tok"),
        F.size(chunk).cast("bigint").alias("chunk_len"),
        chunk_hash.alias("chunk_hash"),
    )


def source_vocab_overlap(
    docs: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    vocab_k: int = 100,
) -> DataFrame:
    """Pairwise vocabulary overlap between sources: Jaccard similarity of
    each source's top-``vocab_k`` tokens by term frequency (deterministic
    tf-desc, token-asc tiebreak) — the quick "are these two crawls the
    same distribution?" diagnostic used when planning training mixtures.

    Scale shape: the corpus is tokenized ONCE into per-(source, token)
    counts; the per-source top-k uses the house two-stage sharded top-k
    (hash-shard each source's vocab, local rank within (source, shard),
    final rank over the ≤ shards×k survivors), so a source owning half
    the corpus's vocabulary never funnels through one window task.
    Everything after the rank filter is ≤ ``vocab_k × n_sources`` rows —
    broadcast territory — and the pair frame is the n_sources² cross of a
    tiny aggregate, so no operator downstream of the rank touches
    corpus-scale data.
    """
    from pyspark.sql import Window

    n_shards = 64
    toks = spread(docs).select(
        F.col(source_col).alias("source"),
        F.explode(_tokens(F.lower(F.col(text_col)))).alias("tok"),
    )
    tf = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("tf"))
    order = [F.col("tf").desc(), F.col("tok").asc()]
    local_w = Window.partitionBy(
        "source", F.pmod(F.xxhash64("tok"), F.lit(n_shards))
    ).orderBy(*order)
    survivors = (
        tf.withColumn("__lrnk", F.row_number().over(local_w))
        .filter(F.col("__lrnk") <= vocab_k)
        .drop("__lrnk")
    )
    final_w = Window.partitionBy("source").orderBy(*order)
    # The top frame is tiny (≤ vocab_k × n_sources rows) but feeds THREE
    # consumers (pair join both sides + sizes); materialize it so the
    # corpus-scale tokenize/count pipeline above runs once, not three
    # times. seam(eager=False), not lazy localCheckpoint (whose .rdd
    # conversion executes stages at construction under AQE — see
    # containment_pairs); the cache fills on the query's first action
    # and is shared from there, registered for eviction + release.
    top = seam(
        survivors.withColumn("__rank", F.row_number().over(final_w))
        .filter(F.col("__rank") <= vocab_k)
        .select("source", "tok"),
        eager=False,
    )
    sizes = top.groupBy("source").agg(F.count(F.lit(1)).alias("__n"))
    a, b = top.alias("a"), top.alias("b")
    pairs = (
        a.join(
            F.broadcast(b),
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b"))
        .agg(F.count(F.lit(1)).alias("__common"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    domain = sa.join(
        F.broadcast(sb), F.col("sa.source") < F.col("sb.source")
    ).select(
        F.col("sa.source").alias("source_a"),
        F.col("sb.source").alias("source_b"),
        F.col("sa.__n").alias("__na"),
        F.col("sb.__n").alias("__nb"),
    )
    common = F.coalesce(F.col("__common"), F.lit(0))
    return (
        domain.join(F.broadcast(pairs), ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            common.cast("bigint").alias("n_common"),
            F.round(
                common / (F.col("__na") + F.col("__nb") - common), 6
            ).alias("jaccard"),
        )
    )


def token_entropy(
    tf: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Per-document unigram (token) Shannon entropy — the distributional-
    diversity quality signal: templated/boilerplate documents concentrate
    mass on few tokens (low H), natural prose spreads it (higher H). The
    dual of :func:`repetition_stats` (which flags repeated BIGRAM mass):
    entropy sees skew even when no single n-gram repeats verbatim.

    Input is the (id, tok, tf) token-statistics artifact from
    :func:`doc_term_freqs` — over the workload's doc_id-partitioned shared
    build this aggregate is ZERO-shuffle (clustering already satisfied).
    H = log2(n) − Σ tf·log2(tf) / n, all double math rounded at 6 dp, so
    the oracle reproduces it bit-for-bit at display precision.
    """
    n = F.sum("tf").cast("double")
    return (
        tf.groupBy(F.col(id_col))
        .agg(
            F.sum("tf").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
            F.sum(
                F.col("tf").cast("double")
                * F.log2(F.col("tf").cast("double"))
            ).alias("__tlog"),
            n.alias("__n"),
        )
        .select(
            F.col(id_col),
            "n_tokens",
            "n_distinct",
            F.round(
                F.log2(F.col("__n")) - F.col("__tlog") / F.col("__n"), 6
            ).alias("entropy"),
        )
    )


def content_defined_chunks(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    divisor: int = 8,
) -> DataFrame:
    """Content-defined chunking: cut AFTER every token whose portable
    hash ≡ 0 (mod ``divisor``) — the rsync/FastCDC boundary trick at word
    granularity. Because each cut depends only on the token under it,
    inserting or deleting text shifts at most the chunks it touches;
    fixed-size chunking (:func:`chunk_documents`) re-aligns EVERY later
    chunk, defeating chunk-level dedup. Expected chunk length ≈
    ``divisor`` tokens.

    Plan: pure scan-stage Column program, zero shuffles — tokenize, cut
    positions via a filtered sequence, chunk spans via ``zip_with`` over
    staged cut arrays, one ``posexplode`` to rows. The token and cut
    arrays are STAGED as real projected columns before any lambda
    references them: a free array EXPRESSION inside a higher-order
    lambda re-evaluates per element (the O(m²k) trap documented at
    :func:`winnow_fingerprints`); a staged column is computed once per
    row. Hash is the md5-prefix fold used by the minhash family, so the
    oracle reproduces it exactly.
    """
    toks = F.array_remove(
        F.split(F.lower(F.col(text_col)), WS_RE), ""
    )
    staged = docs.select(
        F.col(id_col), toks.alias("__toks")
    ).select(
        F.col(id_col),
        "__toks",
        F.size("__toks").alias("__n"),
        # 1-based positions whose token closes a chunk; the when() guard
        # keeps element_at off the empty array (a trailing `i <= size`
        # conjunct would NOT short-circuit inside the lambda)
        F.when(
            F.size("__toks") >= 1,
            F.filter(
                F.sequence(F.lit(1), F.size("__toks")),
                lambda i: F.conv(
                    F.substring(
                        F.md5(F.element_at(F.col("__toks"), i)), 1, 8
                    ),
                    16,
                    10,
                ).cast("bigint")
                % divisor
                == 0,
            ),
        )
        .otherwise(F.array().cast("array<int>"))
        .alias("__cuts"),
    )
    spans = staged.select(
        F.col(id_col),
        "__toks",
        F.zip_with(
            F.concat(F.array(F.lit(1)), F.transform("__cuts", lambda c: c + 1)),
            F.concat("__cuts", F.array(F.col("__n"))),
            lambda s, e: F.struct(s.alias("s"), e.alias("e")),
        ).alias("__spans"),
    )
    return (
        spans.select(
            F.col(id_col),
            "__toks",
            F.posexplode(
                F.filter("__spans", lambda sp: sp["e"] >= sp["s"])
            ).alias("chunk_id", "__sp"),
        )
        .select(
            F.col(id_col),
            F.col("chunk_id").cast("bigint").alias("chunk_id"),
            (F.col("__sp.e") - F.col("__sp.s") + 1)
            .cast("bigint")
            .alias("n_tokens"),
            F.array_join(
                F.slice(
                    "__toks",
                    F.col("__sp.s"),
                    F.col("__sp.e") - F.col("__sp.s") + 1,
                ),
                " ",
            ).alias("chunk"),
        )
    )
