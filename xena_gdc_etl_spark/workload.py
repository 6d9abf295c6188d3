"""Query workload: every SURVEY.md §2 operator instantiated on the test
tables, each with a DuckDB-equivalent oracle SQL string.

Conventions (driver compares row-count + schema + order-insensitive value
hash, with columns sorted by name):
- every computed column is aliased identically in Spark and SQL;
- float values produced by multi-row aggregation are rounded (addition order
  differs between engines); per-row float arithmetic is IEEE-identical and
  left unrounded;
- integer aggregates are cast to bigint on both sides (DuckDB sums promote
  to hugeint otherwise).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xena_gdc_etl_spark.catalog import Catalog
from xena_gdc_etl_spark.operators.text import WS_RE
from xena_gdc_etl_spark.filters import search
from xena_gdc_etl_spark.operators import events as ev
from xena_gdc_etl_spark.operators import mapping as mp
from xena_gdc_etl_spark.operators.partitioning import spread
from xena_gdc_etl_spark.operators import matrix as mx
from xena_gdc_etl_spark.operators import phenotype as ph
from xena_gdc_etl_spark.operators import snv
from xena_gdc_etl_spark.operators.seams import shared
from xena_gdc_etl_spark.operators import survival as sv

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

# Shared tiers: session-scoped artifacts several queries start from,
# held by the session artifact store in operators/seams.py (one entry
# per tier, keyed by sf_dir[, τ]).
#
# Four minhash-family queries (dedup_minhash, minhash_lsh_pairs,
# dedup_clusters, minhash_jaccard_est) start from the SAME
# shingle→signature pipeline — the expensive part of all of them. A real
# deployment materializes signatures once and fans the LSH stages out
# from there.
def _shared_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators import dedup as dd

    return shared(spark, "signatures", sf_dir, lambda: dd.minhash_signatures(
        dd.shingles(Catalog(spark, sf_dir).documents, k=5, distinct=False),
        num_hashes=8,
    ).persist())


# The embedding family (ann_ivf, embed_cosine_dup, semantic_dedup) buckets
# the corpus by the SAME deterministic centroids (the first
# ``n_cells`` vec_ids) — in a real deployment the inverted file is built
# once and every consumer reads it.
#
# The cell count SCALES with the corpus: n_cells = max(8, ceil(N/250)).
# A fixed n_cells=8 means cells grow ∝ corpus and the within-cell pair
# stage (cosine_dup_pairs, O(Σ cell²)) goes quadratic — the round-13
# 100× lane knee: at 100× the sf0.1 corpus, 8 cells hold ~25k vectors
# each and the τ-pair stage pays 10,000× the x1 work. Holding cells near
# 250 rows makes it O(N·250), linear (BASELINE §ivf-cells has the
# measured fixed-vs-scaled A/B). 250 is chosen so the HISTORICAL gate
# outputs are bit-identical: ceil(2000/250)=8 at sf0.1 and
# max(8, ceil(500/250))=8 at sf0.01 — exactly the 8 cells every prior
# round pinned. The oracle SQL computes the same rule via
# _IVF_CELLS_SQL, so Spark and DuckDB stay in lockstep at every scale —
# including the driver-broadcast ceiling: suggest_n_cells clamps at
# max_cells=65536 (the bounded-collect cap), so the SQL carries the
# matching LEAST(65536, ...) and the two sides agree on centroid sets
# even for corpora above ~16.4M rows.
IVF_TARGET_CELL_ROWS = 250
_IVF_CELLS_SQL = (
    "(SELECT LEAST(65536, GREATEST(8, CAST(CEIL(COUNT(*) / 250.0) AS BIGINT))) "
    "FROM embeddings)"
)


# n_cells is a pure function of the embeddings corpus: held as a tier so
# ann_ivf_nprobe and every IVF-assignment build skip a full-corpus count.
def _ivf_n_cells(spark: SparkSession, sf_dir: str) -> int:
    from xena_gdc_etl_spark.operators import similarity as sim

    return shared(spark, "ivf_n_cells", sf_dir, lambda: sim.suggest_n_cells(
        Catalog(spark, sf_dir).embeddings.count(),
        target_cell_rows=IVF_TARGET_CELL_ROWS,
        min_cells=8,
    ))


def _shared_ivf_assigned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators import similarity as sim

    def build() -> DataFrame:
        emb = Catalog(spark, sf_dir).embeddings
        centroids = emb.filter(
            F.col("vec_id") < _ivf_n_cells(spark, sf_dir)
        ).select(F.col("vec_id").alias("centroid_id"), "embedding")
        return sim.ivf_assign(emb, centroids).persist()

    return shared(spark, "ivf_assigned", sf_dir, build)


# embed_cosine_dup IS the τ-pair frame and semantic_dedup clusters it —
# in a deployment the pair table is materialized once and both the dup
# report and the cluster pass read it. τ is part of the key so a
# different-threshold caller never gets a stale frame.
def _shared_dup_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = 0.3
) -> DataFrame:
    from xena_gdc_etl_spark.operators import similarity as sim

    return shared(spark, "dup_pairs", (sf_dir, threshold), lambda: (
        sim.cosine_dup_pairs(
            _shared_ivf_assigned(spark, sf_dir), threshold=threshold
        ).persist()
    ))


# The LSH candidate-pair expansion off the shared signature table is read
# by three queries (the pair report, the Jaccard estimator gate, and
# containment scoring) — the expansion is the expensive half of each.
def _shared_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators import dedup as dd

    return shared(spark, "lsh_pairs", sf_dir, lambda: dd.lsh_candidate_pairs(
        _shared_signatures(spark, sf_dir), num_hashes=8, band_size=2
    ).persist())


# The (doc_id, tok, tf) term-frequency frame is the shared first stage of
# five unigram-statistics queries (lm_score, quality_buckets, oov_rate,
# tfidf_topk, vocab_topk) — a real pipeline materializes this
# token-statistics artifact once per corpus snapshot.
def _shared_doc_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators import text as tx

    # Materialize the artifact PARTITIONED BY doc_id: doc_term_freqs ends
    # hash-partitioned by (doc_id, tok), which satisfies no downstream
    # clustering, so every per-doc consumer (oov probe, lm_score,
    # quality_buckets, per-doc tf-idf) would re-shuffle the frame out of
    # the cache on every call. One id-keyed shuffle at build time (of the
    # already-combined tf rows, far below the raw token stream) buys
    # shuffle-free per-doc aggregation for all consumers — the cached
    # plan's HashPartitioning(doc_id) satisfies their groupBy clustering.
    return shared(spark, "doc_tf", sf_dir, lambda: (
        tx.doc_term_freqs(Catalog(spark, sf_dir).documents)
        .repartition("doc_id")
        .persist()
    ))


# The pack layout (doc → pack_id/pack_offset under concat-and-chunk) is
# consumed by sequence_pack (IS the frame) and pack_stats (aggregates it)
# — in a deployment the layout is computed once per training-mix freeze.
# Sharing it also runs the prefix scan's boundary-sample job once per
# (session, sf_dir) instead of once per consumer call.
_PACK_BUDGET = 256


def _shared_pack_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators.prefix import group_prefix_sum

    def build() -> DataFrame:
        docs = Catalog(spark, sf_dir).documents
        toks = docs.select(
            "doc_id",
            "source",
            F.size(F.array_remove(F.split(F.col("text"), WS_RE), ""))
            .cast("bigint")
            .alias("n_tokens"),
        )
        cum = group_prefix_sum(
            toks, ["source"], ["doc_id"], "n_tokens", "__cum"
        )
        start = F.col("__cum") - F.col("n_tokens")
        return cum.select(
            "doc_id",
            "source",
            "n_tokens",
            F.floor(start / _PACK_BUDGET).cast("bigint").alias("pack_id"),
            (start % _PACK_BUDGET).cast("bigint").alias("pack_offset"),
        ).persist()

    return shared(spark, "pack_layout", sf_dir, build)


def query(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# --------------------------------------------------------------------------
# 1. Flagship: pricing summary (the merge+aggregate shape of the reference's
#    matrix builds, TPC-H Q1 form). Pure groupBy-agg, map-side partials.
# --------------------------------------------------------------------------
@query(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(round(sum(l_quantity), 2) AS DOUBLE) AS sum_qty,
           CAST(round(sum(l_extendedprice), 2) AS DOUBLE) AS sum_base_price,
           CAST(round(sum(l_extendedprice * (1 - l_discount)), 2) AS DOUBLE) AS sum_disc_price,
           CAST(round(avg(l_quantity), 6) AS DOUBLE) AS avg_qty,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Catalog(spark, sf_dir).lineitem
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# 2. Declarative in/exclude filter + projection (gdc.simple_and_filter +
#    gdc.search parity). Predicate + columns push to the parquet scan.
# --------------------------------------------------------------------------
@query(
    "search_filter",
    """
    SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus, l_quantity
    FROM lineitem
    WHERE l_returnflag IN ('A', 'R') AND l_linestatus NOT IN ('F')
    """,
)
def search_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Catalog(spark, sf_dir).lineitem
    return search(
        li,
        include={"l_returnflag": ["A", "R"]},
        exclude={"l_linestatus": ["F"]},
        fields=["l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus", "l_quantity"],
    )


# --------------------------------------------------------------------------
# 3. merge_sample_cols: long-format matrix build — average duplicates per
#    (sample, feature), then log2(x+1).
# --------------------------------------------------------------------------
@query(
    "sample_matrix",
    """
    SELECT l_suppkey AS sample, l_partkey AS feature,
           CAST(round(log2(avg(l_quantity) + 1.0), 6) AS DOUBLE) AS value
    FROM lineitem
    GROUP BY l_suppkey, l_partkey
    """,
)
def sample_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Catalog(spark, sf_dir).lineitem
    m = mx.merge_sample_cols(li, "l_suppkey", "l_partkey", "l_quantity", log2tf=True)
    return m.withColumn("value", F.round(F.col("value"), 6))


# --------------------------------------------------------------------------
# 4. Matrix union (axis=0 concat / merge_cnv): segment-style frames with
#    column alignment on union.
# --------------------------------------------------------------------------
@query(
    "matrix_union",
    """
    SELECT l_suppkey AS sample, l_returnflag AS chrom, l_orderkey AS seg_start,
           CAST(l_linenumber AS BIGINT) AS seg_end, l_quantity AS value
    FROM lineitem WHERE l_shipdate < TIMESTAMP '1995-01-01 00:00:00'
    UNION ALL
    SELECT l_suppkey AS sample, l_returnflag AS chrom, l_orderkey AS seg_start,
           CAST(NULL AS BIGINT) AS seg_end, l_quantity AS value
    FROM lineitem WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
    """,
)
def matrix_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Catalog(spark, sf_dir).lineitem
    cutoff = F.lit("1995-01-01 00:00:00").cast("timestamp")
    seg_a = li.filter(F.col("l_shipdate") < cutoff).select(
        F.col("l_suppkey").alias("sample"),
        F.col("l_returnflag").alias("chrom"),
        F.col("l_orderkey").alias("seg_start"),
        F.col("l_linenumber").cast("bigint").alias("seg_end"),
        F.col("l_quantity").alias("value"),
    )
    seg_b = li.filter(F.col("l_shipdate") >= cutoff).select(
        F.col("l_suppkey").alias("sample"),
        F.col("l_returnflag").alias("chrom"),
        F.col("l_orderkey").alias("seg_start"),
        F.col("l_quantity").alias("value"),
    )
    return mx.union_matrices([seg_a, seg_b])


# --------------------------------------------------------------------------
# 5. Matrix join (axis=1 concat): column-wise merge of two matrices on the
#    shared row index.
# --------------------------------------------------------------------------
@query(
    "matrix_join",
    """
    SELECT COALESCE(a.feature, b.feature) AS feature,
           a.avg_qty, b.p_retailprice
    FROM (SELECT l_partkey AS feature,
                 CAST(round(avg(l_quantity), 6) AS DOUBLE) AS avg_qty
          FROM lineitem GROUP BY l_partkey) a
    FULL JOIN (SELECT p_partkey AS feature, p_retailprice FROM part) b
      ON a.feature = b.feature
    """,
)
def matrix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    a = (
        cat.lineitem.groupBy(F.col("l_partkey").alias("feature"))
        .agg(F.round(F.avg("l_quantity"), 6).alias("avg_qty"))
    )
    b = cat.part.select(F.col("p_partkey").alias("feature"), "p_retailprice")
    return mx.join_matrices([a, b], on="feature", how="full")


# --------------------------------------------------------------------------
# 6. SNV/MAF transform: VAF ratio, drop inputs, rename to Xena schema,
#    barcode trim.
# --------------------------------------------------------------------------
@query(
    "snv_vaf",
    """
    SELECT l_partkey AS gene, l_returnflag AS chrom, l_orderkey AS start,
           CAST(l_linenumber AS INT) AS "end",
           substr(CAST(l_shipdate AS VARCHAR), 1, 7) AS sampleid,
           l_quantity / (l_quantity + l_linenumber) AS dna_vaf
    FROM lineitem
    """,
)
def snv_vaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Catalog(spark, sf_dir).lineitem
    df = li.select(
        "l_partkey",
        "l_returnflag",
        "l_orderkey",
        "l_linenumber",
        F.col("l_shipdate").cast("string").alias("sampleid"),
        F.col("l_quantity").alias("t_alt_count"),
        (F.col("l_quantity") + F.col("l_linenumber")).alias("t_depth"),
    )
    df = snv.with_vaf(df, "t_alt_count", "t_depth")
    df = snv.trim_barcode(df, "sampleid", 7)
    return snv.rename_columns(
        df,
        {
            "l_partkey": "gene",
            "l_returnflag": "chrom",
            "l_orderkey": "start",
            "l_linenumber": "end",
        },
    )


# --------------------------------------------------------------------------
# 7. Placeholder-row removal: keep a sentinel row only when its sample has no
#    real rows (anti-join).
# --------------------------------------------------------------------------
@query(
    "snv_placeholder_filter",
    """
    WITH real AS (SELECT * FROM lineitem WHERE NOT (l_quantity < 5)),
         ph AS (SELECT * FROM lineitem WHERE l_quantity < 5)
    SELECT l_orderkey, CAST(l_linenumber AS INT) AS l_linenumber, l_quantity FROM real
    UNION ALL
    SELECT l_orderkey, CAST(l_linenumber AS INT) AS l_linenumber, l_quantity FROM ph
    WHERE l_orderkey NOT IN (SELECT DISTINCT l_orderkey FROM real)
    """,
)
def snv_placeholder_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Catalog(spark, sf_dir).lineitem
    out = snv.drop_placeholders_with_data(
        li, "l_orderkey", F.col("l_quantity") < 5
    )
    return out.select("l_orderkey", "l_linenumber", "l_quantity")


# --------------------------------------------------------------------------
# 8. Survival matrix: per-case record → per-sample rows, OS flag flip.
# --------------------------------------------------------------------------
@query(
    "survival_transform",
    """
    SELECT CAST(l.l_orderkey AS VARCHAR) || '_' || CAST(l.l_linenumber AS VARCHAR) AS sample,
           CAST(NOT (o.o_orderstatus = 'O') AS INT) AS OS,
           o.o_totalprice AS OS_time,
           o.o_custkey AS _PATIENT
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
)
def survival_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    survival = cat.orders.select(
        F.col("o_orderkey").alias("case_id"),
        (F.col("o_orderstatus") == "O").alias("censored"),
        F.col("o_totalprice").alias("time"),
        F.col("o_custkey").alias("submitter_id"),
    )
    case_samples = cat.lineitem.select(
        F.col("l_orderkey").alias("case_id"),
        F.concat_ws("_", F.col("l_orderkey"), F.col("l_linenumber")).alias("sample"),
    )
    return sv.survival_matrix(survival, case_samples, "case_id")


# --------------------------------------------------------------------------
# 9. Phenotype coalesce-join: clinical values take priority over biospecimen
#    on overlapping columns.
# --------------------------------------------------------------------------
@query(
    "pheno_coalesce_join",
    """
    WITH clin AS (
        SELECT c_custkey AS custkey,
               CASE WHEN c_acctbal < 0 THEN NULL ELSE c_mktsegment END AS segment,
               c_acctbal AS acctbal
        FROM customer),
    bio AS (
        SELECT o_custkey AS custkey, max(o_orderpriority) AS segment,
               CAST(count(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY o_custkey)
    SELECT COALESCE(clin.custkey, bio.custkey) AS custkey,
           COALESCE(clin.segment, bio.segment) AS segment,
           clin.acctbal, bio.n_orders
    FROM clin FULL JOIN bio ON clin.custkey = bio.custkey
    """,
)
def pheno_coalesce_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    clin = cat.customer.select(
        F.col("c_custkey").alias("custkey"),
        F.when(F.col("c_acctbal") < 0, F.lit(None)).otherwise(F.col("c_mktsegment")).alias("segment"),
        F.col("c_acctbal").alias("acctbal"),
    )
    bio = cat.orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max("o_orderpriority").alias("segment"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return mx.coalesce_join(clin, bio, on="custkey", how="full")


# --------------------------------------------------------------------------
# 10. Most-recent-follow-up per key (window argmax with tiebreak).
# --------------------------------------------------------------------------
@query(
    "latest_followup",
    """
    SELECT o_custkey, o_orderkey, o_orderstatus, o_totalprice, o_orderdate
    FROM (SELECT *, row_number() OVER (
              PARTITION BY o_custkey
              ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
          FROM orders)
    WHERE rn = 1
    """,
)
def latest_followup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = Catalog(spark, sf_dir).orders
    latest = ph.latest_per_key(orders, "o_custkey", "o_orderdate", ("o_orderkey",))
    return latest.select(
        "o_custkey", "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )


# --------------------------------------------------------------------------
# 11. Keep-samples semi-join filter.
# --------------------------------------------------------------------------
@query(
    "keep_samples",
    """
    SELECT l_orderkey, CAST(l_linenumber AS INT) AS l_linenumber, l_suppkey, l_quantity
    FROM lineitem
    WHERE l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_acctbal > 0)
    """,
)
def keep_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    members = cat.supplier.filter(F.col("s_acctbal") > 0).select(
        F.col("s_suppkey").alias("l_suppkey")
    )
    kept = ph.keep_samples_filter(cat.lineitem, members, "l_suppkey")
    return kept.select("l_orderkey", "l_linenumber", "l_suppkey", "l_quantity")


# --------------------------------------------------------------------------
# 12. Two-field mapping: key → sorted distinct set of values.
# --------------------------------------------------------------------------
@query(
    "field_map",
    """
    SELECT c_nationkey, string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment) AS mapped
    FROM customer GROUP BY c_nationkey
    """,
)
def field_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = Catalog(spark, sf_dir).customer
    return mp.field_map(customer, "c_nationkey", "c_mktsegment")


# --------------------------------------------------------------------------
# 13. check-new summary: membership filter + distinct impact summary.
# --------------------------------------------------------------------------
_CHECK_NEW_IDS = list(range(1, 2000, 3))

@query(
    "check_new",
    f"""
    SELECT DISTINCT o_orderpriority, o_orderstatus
    FROM orders WHERE o_orderkey IN ({", ".join(str(i) for i in _CHECK_NEW_IDS)})
    """,
)
def check_new(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = Catalog(spark, sf_dir).orders
    return mp.check_new(
        orders, "o_orderkey", _CHECK_NEW_IDS, ["o_orderpriority", "o_orderstatus"]
    )


# --------------------------------------------------------------------------
# 14. Project-info catalog join: dims broadcast onto the fact side.
# --------------------------------------------------------------------------
@query(
    "project_info",
    """
    SELECT r_name AS region, n_name AS nation,
           CAST(count(c_custkey) AS BIGINT) AS n_customers,
           CAST(round(sum(c_acctbal), 2) AS DOUBLE) AS total_acctbal
    FROM region
    JOIN nation ON r_regionkey = n_regionkey
    LEFT JOIN customer ON c_nationkey = n_nationkey
    GROUP BY r_name, n_name
    """,
)
def project_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    return (
        F.broadcast(cat.region)
        .join(F.broadcast(cat.nation), F.col("r_regionkey") == F.col("n_regionkey"))
        .join(cat.customer, F.col("c_nationkey") == F.col("n_nationkey"), "left")
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.count("c_custkey").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
    )


# --------------------------------------------------------------------------
# 15. Derived earliest-diagnosis columns: min per key + unit conversion.
# --------------------------------------------------------------------------
@query(
    "earliest_diagnosis",
    """
    SELECT o_custkey, min(o_totalprice) AS earliest,
           min(o_totalprice) / 365.0 AS earliest_years
    FROM orders GROUP BY o_custkey
    """,
)
def earliest_diagnosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = Catalog(spark, sf_dir).orders
    return orders.groupBy("o_custkey").agg(
        F.min("o_totalprice").alias("earliest"),
        (F.min("o_totalprice") / 365.0).alias("earliest_years"),
    )


# --------------------------------------------------------------------------
# 16. Postprocess: rename values via mapping table + drop duplicate rows.
# --------------------------------------------------------------------------
@query(
    "postprocess_dedup",
    """
    SELECT DISTINCT COALESCE(s.s_name, CAST(l.l_suppkey AS VARCHAR)) AS sample,
           l.l_partkey, l.l_quantity
    FROM lineitem l
    LEFT JOIN (SELECT DISTINCT CAST(s_suppkey AS VARCHAR) AS sk, s_name FROM supplier) s
      ON CAST(l.l_suppkey AS VARCHAR) = s.sk
    """,
)
def postprocess_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    df = cat.lineitem.select(
        F.col("l_suppkey").cast("string").alias("sample"),
        "l_partkey",
        "l_quantity",
    )
    m = cat.supplier.select(
        F.col("s_suppkey").cast("string").alias("sk"), "s_name"
    )
    renamed = mp.rename_by_mapping(df, m, "sample", "sk", "s_name")
    return mp.dedup_rows(renamed)


# --------------------------------------------------------------------------
# 17. xena-eql: order-insensitive matrix equality via symmetric-diff counts.
# --------------------------------------------------------------------------
@query(
    "xena_eql",
    """
    WITH m AS (SELECT l_orderkey, l_linenumber,
                      CAST(round(sum(l_quantity), 2) AS DOUBLE) AS q
               FROM lineitem GROUP BY 1, 2)
    SELECT CAST(count(*) AS BIGINT) AS compared_rows,
           CAST(sum(CASE WHEN l_linenumber = 1 THEN 1 ELSE 0 END) AS BIGINT) AS mismatched_rows
    FROM m
    """,
)
def xena_eql(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Catalog(spark, sf_dir).lineitem
    left = li.groupBy("l_orderkey", "l_linenumber").agg(
        F.round(F.sum("l_quantity"), 2).alias("q")
    )
    right = left.withColumn(
        "q",
        F.when(F.col("l_linenumber") == 1, F.col("q") + 1).otherwise(F.col("q")),
    )
    return mx.matrix_equal(left, right, keys=["l_orderkey", "l_linenumber"])


# --------------------------------------------------------------------------
# 18. Tumbling-window aggregation over events.
# --------------------------------------------------------------------------
@query(
    "events_window",
    """
    SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS ws,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(avg(value), 6) AS DOUBLE) AS avg_value
    FROM events GROUP BY 1, 2
    """,
)
def events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ev.windowed_agg(Catalog(spark, sf_dir).events)


# --------------------------------------------------------------------------
# 19. Gap-based sessionization.
# --------------------------------------------------------------------------
@query(
    "sessionize",
    """
    WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id FROM events),
    g AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_sess
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (
        SELECT user_id, ts,
               CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_num
        FROM g)
    SELECT user_id, session_num, CAST(count(*) AS BIGINT) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end
    FROM s GROUP BY user_id, session_num
    """,
)
def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ev.sessionize(Catalog(spark, sf_dir).events)


# ==========================================================================
# LLM-data-pipeline operators (SURVEY.md §2 #20-31)
# ==========================================================================

_MH_SEEDS = list(range(8))


def _mh_sql_shingles() -> str:
    # unnest(list_transform(range(...))) — DuckDB 1.0's lateral range() can't
    # take column arguments, the list form can. No DISTINCT: min-hash is
    # multiset-invariant.
    return (
        "SELECT doc_id, unnest(list_transform(range(1, length(text) - 3), "
        "i -> substr(text, i::INT, 5))) AS shingle FROM documents"
    )


def _mh_sql_minexprs() -> str:
    # 8 slots per sha256 digest (8-hex chunks), mirroring
    # operators/dedup.py minhash_signatures.
    return ", ".join(
        f"min(('0x'||substr(sha256('s{j // 8}:'||shingle), {1 + 8 * (j % 8)}, 8))::BIGINT) AS mh{j}"
        for j in _MH_SEEDS
    )


# --------------------------------------------------------------------------
# 20. Exact dedup: content-hash groups.
# --------------------------------------------------------------------------
@query(
    "dedup_exact",
    """
    SELECT md5(text) AS content_hash,
           CAST(min(doc_id) AS BIGINT) AS keep_id,
           CAST(count(*) AS BIGINT) AS n_dups
    FROM documents GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators import dedup as dd

    return dd.dedup_exact(Catalog(spark, sf_dir).documents)


# --------------------------------------------------------------------------
# 21. MinHash signatures (8 slots over 5-char shingles).
# --------------------------------------------------------------------------
@query(
    "dedup_minhash",
    f"""
    WITH sh AS ({_mh_sql_shingles()})
    SELECT doc_id, {_mh_sql_minexprs()}
    FROM sh GROUP BY doc_id
    """,
)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _shared_signatures(spark, sf_dir)


# --------------------------------------------------------------------------
# 22. LSH candidate pairs from banded minhash signatures.
# --------------------------------------------------------------------------
@query(
    "minhash_lsh_pairs",
    f"""
    WITH sh AS ({_mh_sql_shingles()}),
    sig AS (SELECT doc_id, {_mh_sql_minexprs()} FROM sh GROUP BY doc_id),
    bk AS (
        SELECT doc_id, 0 AS band, md5(mh0::VARCHAR || '_' || mh1::VARCHAR) AS bucket FROM sig
        UNION ALL
        SELECT doc_id, 1, md5(mh2::VARCHAR || '_' || mh3::VARCHAR) FROM sig
        UNION ALL
        SELECT doc_id, 2, md5(mh4::VARCHAR || '_' || mh5::VARCHAR) FROM sig
        UNION ALL
        SELECT doc_id, 3, md5(mh6::VARCHAR || '_' || mh7::VARCHAR) FROM sig)
    SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
    FROM bk x JOIN bk y ON x.band = y.band AND x.bucket = y.bucket
    WHERE x.doc_id < y.doc_id
    """,
)
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _shared_lsh_pairs(spark, sf_dir)


# --------------------------------------------------------------------------
# 22b. Duplicate clusters: connected components over the LSH candidate
#      pairs — every doc labeled with the smallest doc id in its component
#      (keep doc_id == cluster_id, drop the rest). Oracle: recursive-CTE
#      transitive closure + min label.
# --------------------------------------------------------------------------
@query(
    "dedup_clusters",
    f"""
    WITH RECURSIVE sh AS ({_mh_sql_shingles()}),
    sig AS (SELECT doc_id, {_mh_sql_minexprs()} FROM sh GROUP BY doc_id),
    bk AS (
        SELECT doc_id, 0 AS band, md5(mh0::VARCHAR || '_' || mh1::VARCHAR) AS bucket FROM sig
        UNION ALL
        SELECT doc_id, 1, md5(mh2::VARCHAR || '_' || mh3::VARCHAR) FROM sig
        UNION ALL
        SELECT doc_id, 2, md5(mh4::VARCHAR || '_' || mh5::VARCHAR) FROM sig
        UNION ALL
        SELECT doc_id, 3, md5(mh6::VARCHAR || '_' || mh7::VARCHAR) FROM sig),
    pr AS (
        SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        FROM bk x JOIN bk y ON x.band = y.band AND x.bucket = y.bucket
        WHERE x.doc_id < y.doc_id),
    ed AS (SELECT a AS src, b AS dst FROM pr UNION SELECT b, a FROM pr),
    reach(node, lab) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, r.lab FROM reach r JOIN ed e ON e.src = r.node)
    SELECT node AS doc_id, CAST(min(lab) AS BIGINT) AS cluster_id
    FROM reach GROUP BY node
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _clusters_df(spark, sf_dir)


def _clusters_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators import dedup as dd

    docs = Catalog(spark, sf_dir).documents
    sig = _shared_signatures(spark, sf_dir)
    buckets = dd.lsh_buckets(sig, num_hashes=8, band_size=2).select(
        "doc_id", F.concat_ws("|", F.col("band"), F.col("bucket")).alias("bkey")
    )
    return dd.connected_components_bipartite(docs, buckets)


# --------------------------------------------------------------------------
# 22d. Keep-best-per-cluster: the dedup DECISION — for every duplicate
#      cluster keep the longest document (tiebreak: smallest doc id), the
#      step that turns cluster labels into a curated corpus. Window argmax
#      over the cluster labels joined with a 2-column doc projection.
# --------------------------------------------------------------------------
@query(
    "dedup_keep_best",
    f"""
    WITH RECURSIVE sh AS ({_mh_sql_shingles()}),
    sig AS (SELECT doc_id, {_mh_sql_minexprs()} FROM sh GROUP BY doc_id),
    bk AS (
        SELECT doc_id, 0 AS band, md5(mh0::VARCHAR || '_' || mh1::VARCHAR) AS bucket FROM sig
        UNION ALL
        SELECT doc_id, 1, md5(mh2::VARCHAR || '_' || mh3::VARCHAR) FROM sig
        UNION ALL
        SELECT doc_id, 2, md5(mh4::VARCHAR || '_' || mh5::VARCHAR) FROM sig
        UNION ALL
        SELECT doc_id, 3, md5(mh6::VARCHAR || '_' || mh7::VARCHAR) FROM sig),
    pr AS (
        SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        FROM bk x JOIN bk y ON x.band = y.band AND x.bucket = y.bucket
        WHERE x.doc_id < y.doc_id),
    ed AS (SELECT a AS src, b AS dst FROM pr UNION SELECT b, a FROM pr),
    reach(node, lab) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, r.lab FROM reach r JOIN ed e ON e.src = r.node),
    cl AS (SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node),
    ranked AS (
        SELECT cl.cluster_id, d.doc_id, length(d.text) AS n_chars,
               row_number() OVER (PARTITION BY cl.cluster_id
                                  ORDER BY length(d.text) DESC, d.doc_id) AS rn,
               count(*) OVER (PARTITION BY cl.cluster_id) AS n_members
        FROM cl JOIN documents d ON d.doc_id = cl.doc_id)
    SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
           doc_id AS keep_id,
           CAST(n_chars AS BIGINT) AS keep_chars,
           CAST(n_members AS BIGINT) AS n_members
    FROM ranked WHERE rn = 1
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    clusters = _clusters_df(spark, sf_dir)
    docs = Catalog(spark, sf_dir).documents.select(
        "doc_id", F.length("text").alias("n_chars")
    )
    joined = clusters.join(docs, "doc_id")
    # Aggregate argmax, not a window: ROW_NUMBER() OVER (PARTITION BY
    # cluster_id) pulls a whole cluster into one task, and real corpora
    # have mega-clusters (boilerplate/empty docs) that would be a large
    # fraction of a 100 TB input. max(struct) is lexicographic and
    # map-side partial — (longest, then smallest id via negation) reduces
    # inside every partition before the single shuffle.
    best = joined.groupBy("cluster_id").agg(
        F.max(
            F.struct(
                F.col("n_chars").alias("c"), (-F.col("doc_id")).alias("nid")
            )
        ).alias("b"),
        F.count(F.lit(1)).alias("n_members"),
    )
    return best.select(
        F.col("cluster_id"),
        (-F.col("b.nid")).alias("keep_id"),
        F.col("b.c").cast("bigint").alias("keep_chars"),
        F.col("n_members").cast("bigint").alias("n_members"),
    )


# --------------------------------------------------------------------------
# 22c. MinHash Jaccard estimate for the LSH candidate pairs — completes the
#      signatures → buckets → pairs → similarity → threshold pipeline
#      without ever re-reading document text.
# --------------------------------------------------------------------------
@query(
    "minhash_jaccard_est",
    f"""
    WITH sh AS ({_mh_sql_shingles()}),
    sig AS (SELECT doc_id, {_mh_sql_minexprs()} FROM sh GROUP BY doc_id),
    bk AS (
        SELECT doc_id, 0 AS band, md5(mh0::VARCHAR || '_' || mh1::VARCHAR) AS bucket FROM sig
        UNION ALL
        SELECT doc_id, 1, md5(mh2::VARCHAR || '_' || mh3::VARCHAR) FROM sig
        UNION ALL
        SELECT doc_id, 2, md5(mh4::VARCHAR || '_' || mh5::VARCHAR) FROM sig
        UNION ALL
        SELECT doc_id, 3, md5(mh6::VARCHAR || '_' || mh7::VARCHAR) FROM sig),
    pr AS (
        SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        FROM bk x JOIN bk y ON x.band = y.band AND x.bucket = y.bucket
        WHERE x.doc_id < y.doc_id)
    SELECT pr.a, pr.b,
           CAST(({" + ".join(f"(CASE WHEN sa.mh{j} = sb.mh{j} THEN 1 ELSE 0 END)" for j in range(8))}) / 8.0 AS DOUBLE) AS est_jaccard
    FROM pr JOIN sig sa ON sa.doc_id = pr.a JOIN sig sb ON sb.doc_id = pr.b
    WHERE ({" + ".join(f"(CASE WHEN sa.mh{j} = sb.mh{j} THEN 1 ELSE 0 END)" for j in range(8))}) / 8.0 >= 0.75
    """,
)
def minhash_jaccard_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators import dedup as dd

    # sig feeds three consumers here (the bucket derivation and both sides
    # of the signature join) — the shared persisted table covers all of them.
    sig = _shared_signatures(spark, sf_dir)
    pairs = _shared_lsh_pairs(spark, sf_dir)
    return dd.minhash_jaccard_estimate(pairs, sig, num_hashes=8, threshold=0.75)


# --------------------------------------------------------------------------
# 20b. Exact dedup after text normalization (casefold / strip punctuation /
#      collapse whitespace) — trivially-reformatted copies hash identically.
# --------------------------------------------------------------------------
@query(
    "dedup_normalized",
    r"""
    SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 \t\n\r\f]', '', 'g'), '[ \t\n\r\f]+', ' ', 'g'))) AS content_hash,
           CAST(min(doc_id) AS BIGINT) AS keep_id,
           CAST(count(*) AS BIGINT) AS n_dups
    FROM documents GROUP BY 1
    """,
)
def dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators import dedup as dd

    # spread: the three-regex normalization is the expensive part and
    # would otherwise run at scan parallelism (compact doc files = 1 task)
    docs = spread(Catalog(spark, sf_dir).documents)
    return dd.dedup_exact(
        docs.withColumn("text", dd.normalize_text("text"))
    )


# --------------------------------------------------------------------------
# 25b. Per-vector symmetric int8 quantization (4× smaller ANN candidate
#      stage); higher-order functions only, no shuffle.
# --------------------------------------------------------------------------
@query(
    "embed_quantize",
    """
    SELECT vec_id,
           CAST(round(127.0 / list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), 6) AS DOUBLE) AS scale,
           array_to_string(list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * round(127.0 / list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))), 6) + 0.5) AS INT)), ',') AS q_csv
    FROM embeddings
    """,
)
def embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators import similarity as sim

    # The int8 vector is serialized to CSV in the FINAL select only: the
    # driver's oracle canonicalizer sorts rows via pandas and cannot hash
    # array cells ("unhashable type: list"). Integers stringify identically
    # in Spark and DuckDB, so the hash-compare stays exact.
    qdf = sim.quantize_int8(Catalog(spark, sf_dir).embeddings)
    return qdf.select(
        "vec_id",
        "scale",
        F.concat_ws(",", F.col("q").cast("array<string>")).alias("q_csv"),
    )


# --------------------------------------------------------------------------
# 23. SimHash fingerprints (16-bit).
# --------------------------------------------------------------------------
def _simhash_sql(bits: int = 16) -> str:
    sums = ", ".join(
        f"sum(((h >> {j}) & 1) * 2 - 1) AS b{j}" for j in range(bits)
    )
    fp = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(bits)
    )
    return f"""
    WITH toks AS (
        SELECT doc_id, tok
        FROM (SELECT doc_id, unnest(string_split_regex(text, '[ \\t\\n\\r\\f]+')) AS tok
              FROM documents)
        WHERE tok <> ''),
    h AS (SELECT doc_id, ('0x'||substr(md5('sim:'||tok),1,15))::BIGINT AS h FROM toks),
    bits AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id)
    SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM bits
    """


@query("dedup_simhash", _simhash_sql(16))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators import dedup as dd

    return dd.simhash(Catalog(spark, sf_dir).documents, bits=16)


# --------------------------------------------------------------------------
# 23b. SimHash near-duplicate pairs: Hamming distance ≤ 3 over the 16-bit
#      fingerprints via 4-bit band buckets (pigeonhole: d ≤ bands-1 ⇒ at
#      least one identical band), then exact bit_count verify. The classic
#      web-scale simhash dedup plan — never an O(n²) self join.
#      Query-level discipline: a deterministic 10% doc sample bounds the
#      output (the synthetic corpus's ~40-word vocabulary packs 16-bit
#      fingerprints so densely that the full corpus yields ~4M pairs at
#      sf0.1 — an output-cardinality artifact of the fixture, not the plan;
#      real corpora at 64 bits are sparse).
# --------------------------------------------------------------------------
@query(
    "simhash_pairs",
    f"""
    WITH fp AS (SELECT * FROM ({_simhash_sql(16)}) WHERE doc_id % 10 = 0),
    bands AS (
        SELECT doc_id, b, (simhash >> (4 * b)) & 15 AS v
        FROM fp CROSS JOIN (SELECT unnest(range(4)) AS b)),
    cand AS (
        SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        FROM bands x JOIN bands y ON x.b = y.b AND x.v = y.v
        WHERE x.doc_id < y.doc_id)
    SELECT a, b,
           CAST(bit_count(xor(fa.simhash, fb.simhash)) AS BIGINT) AS hamming
    FROM cand JOIN fp fa ON fa.doc_id = a JOIN fp fb ON fb.doc_id = b
    WHERE bit_count(xor(fa.simhash, fb.simhash)) <= 3
    """,
)
def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators import dedup as dd

    docs = Catalog(spark, sf_dir).documents.filter(F.col("doc_id") % 10 == 0)
    fps = dd.simhash(docs, bits=16)
    return dd.simhash_pairs(fps, bits=16, bands=4, max_distance=3)


# --------------------------------------------------------------------------
# 23c. SimHash pairs, PRODUCTION config — the Manku/Jain/Sarma WWW'07
#      combination-banding table scheme: 60-bit md5-derived fingerprint
#      (portable bit-for-bit to the DuckDB oracle), bands=6 /
#      match_blocks=3 → C(6,3)=20 tables keyed on 30 bits. Same exact
#      hamming<=3 semantics as 23b, but the key space is 2^30 instead of
#      2^16: random-candidate volume Θ(tables·N²/2^keybits) stays ~linear
#      where the 16-bit fixture config measured quadratic at the 100×
#      lane (e=1.22, birthday saturation of 64 bucket values). Full
#      corpus, no sample — that is the point of the scale-safe config.
# --------------------------------------------------------------------------
def _manku_sql() -> str:
    import itertools

    combos = ", ".join(
        f"({ci}, {c[0]}, {c[1]}, {c[2]})"
        for ci, c in enumerate(itertools.combinations(range(6), 3))
    )
    return f"""
    WITH fp AS ({_simhash_sql(60)}),
    combos(ci, c0, c1, c2) AS (VALUES {combos}),
    keys AS (
        SELECT doc_id, ci,
               ((simhash >> (10 * c0)) & 1023)
             + ((simhash >> (10 * c1)) & 1023) * 1024
             + ((simhash >> (10 * c2)) & 1023) * 1048576 AS v
        FROM fp CROSS JOIN combos),
    cand AS (
        SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        FROM keys x JOIN keys y ON x.ci = y.ci AND x.v = y.v
        WHERE x.doc_id < y.doc_id)
    SELECT a, b,
           CAST(bit_count(xor(fa.simhash, fb.simhash)) AS BIGINT) AS hamming
    FROM cand JOIN fp fa ON fa.doc_id = a JOIN fp fb ON fb.doc_id = b
    WHERE bit_count(xor(fa.simhash, fb.simhash)) <= 3
    """


@query("simhash_pairs_manku", _manku_sql())
def simhash_pairs_manku(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators import dedup as dd

    docs = Catalog(spark, sf_dir).documents
    fps = dd.simhash(docs, bits=60)
    return dd.simhash_pairs(
        fps, bits=60, bands=6, max_distance=3, match_blocks=3
    )


# --------------------------------------------------------------------------
# 34b. Passage-level dedup signal: fraction of each document's 10-word
#      chunks that appear verbatim in at least one other document
#      (ExactSubstr-lite at chunk granularity). Per-doc output — never the
#      pair set.
# --------------------------------------------------------------------------
@query(
    "passage_dedup",
    r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '[ \t\n\r\f]+'), x -> x <> '') AS tk
        FROM documents),
    ch AS (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(tk, i * 10 + 1, i * 10 + 10), ' ') AS chunk
        FROM (SELECT doc_id, tk,
                     unnest(range(CAST(floor(len(tk) / 10) AS INT))) AS i
              FROM toks)),
    dfc AS (SELECT chunk, count(*) AS df FROM ch GROUP BY chunk)
    SELECT ch.doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
           CAST(round(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) / count(*), 6) AS DOUBLE) AS shared_frac
    FROM ch JOIN dfc USING (chunk)
    GROUP BY ch.doc_id
    """,
)
def passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators import text as tx

    return tx.passage_dedup_stats(
        Catalog(spark, sf_dir).documents, width=10
    )


# --------------------------------------------------------------------------
# 28b. Quality rule-chain filter (C4/Gopher style): word-count band, mean
#      word length band, duplicate-word cap — all scan-stage predicates.
# --------------------------------------------------------------------------
@query(
    "quality_filter",
    r"""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '[ \t\n\r\f]+'), x -> x <> '') AS tk
        FROM documents),
    m AS (
        SELECT doc_id,
               len(tk) AS n_words,
               round(list_sum(list_transform(tk, x -> length(x))) / greatest(len(tk), 1), 6) AS mean_word_len,
               round(1 - len(list_distinct(tk)) / greatest(len(tk), 1), 6) AS dup_word_frac
        FROM t)
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(mean_word_len AS DOUBLE) AS mean_word_len,
           CAST(dup_word_frac AS DOUBLE) AS dup_word_frac
    FROM m
    WHERE n_words BETWEEN 30 AND 10000
      AND mean_word_len BETWEEN 2.0 AND 10.0
      AND dup_word_frac <= 0.8
    """,
)
def quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators import text as tx

    return tx.quality_filter(Catalog(spark, sf_dir).documents)


# --------------------------------------------------------------------------
# 24. n-gram Jaccard similarity via inverted-index join (8-gram, within
#     source buckets, on a doc_id%5 sample to bound the oracle's join).
# --------------------------------------------------------------------------
@query(
    "ngram_jaccard",
    """
    WITH d AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
    g AS (SELECT DISTINCT doc_id, bucket, gram FROM (
          SELECT doc_id, source AS bucket,
                 unnest(list_transform(range(1, length(text) - 6),
                        i -> substr(text, i::INT, 8))) AS gram
          FROM d)),
    sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM g GROUP BY doc_id),
    inter AS (
        SELECT ga.doc_id AS a, gb.doc_id AS b, CAST(count(*) AS BIGINT) AS inter
        FROM g ga JOIN g gb ON ga.bucket = gb.bucket AND ga.gram = gb.gram
        WHERE ga.doc_id < gb.doc_id
        GROUP BY 1, 2)
    SELECT a, b,
           CAST(round(inter / (sa.sz + sb.sz - inter), 6) AS DOUBLE) AS jaccard
    FROM inter
    JOIN sz sa ON sa.doc_id = a
    JOIN sz sb ON sb.doc_id = b
    WHERE round(inter / (sa.sz + sb.sz - inter), 6) >= 0.05
    """,
)
def ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators import dedup as dd

    docs = Catalog(spark, sf_dir).documents.filter(F.col("doc_id") % 5 == 0)
    return dd.ngram_jaccard_pairs(docs, n=8, threshold=0.05)


# --------------------------------------------------------------------------
# 25. Brute-force cosine top-k (exact ANN baseline).
# --------------------------------------------------------------------------
@query(
    "cosine_topk",
    """
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id % 10 = 0),
    s AS (SELECT q.query_id, v.vec_id AS match_id,
                 round(list_cosine_similarity(q.qv, CAST(v.embedding AS DOUBLE[])), 6) AS sim
          FROM q, embeddings v WHERE v.vec_id <> q.query_id),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, match_id) AS rn
          FROM s)
    SELECT query_id, match_id, sim, CAST(rn AS BIGINT) AS rank FROM r WHERE rn <= 5
    """,
)
def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators import similarity as sim

    emb = Catalog(spark, sf_dir).embeddings
    queries_df = emb.filter(F.col("vec_id") % 10 == 0)
    return sim.cosine_topk(emb, queries_df, k=5)


# --------------------------------------------------------------------------
# 26. IVF approximate top-k: deterministic centroids (the first
#     max(8, ceil(N/250)) vec_ids — scaled with the corpus, see
#     _shared_ivf_assigned), search
#     within the assigned cell only.
# --------------------------------------------------------------------------
@query(
    "ann_ivf",
    """
    WITH c AS (SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS cv
               FROM embeddings
               WHERE vec_id < (SELECT LEAST(65536, GREATEST(8, CAST(CEIL(COUNT(*) / 250.0)
                                                       AS BIGINT)))
                               FROM embeddings)),
    scored AS (SELECT v.vec_id, v.embedding, c.centroid_id,
                      round(list_cosine_similarity(CAST(v.embedding AS DOUBLE[]), c.cv), 6) AS sim
               FROM embeddings v, c),
    assigned AS (
        SELECT vec_id, embedding, centroid_id
        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) AS rn
              FROM scored)
        WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, centroid_id, CAST(embedding AS DOUBLE[]) AS qv
          FROM assigned WHERE vec_id % 10 = 0),
    s AS (SELECT q.query_id, v.vec_id AS match_id,
                 round(list_cosine_similarity(q.qv, CAST(v.embedding AS DOUBLE[])), 6) AS sim
          FROM q JOIN assigned v ON v.centroid_id = q.centroid_id
          WHERE v.vec_id <> q.query_id),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, match_id) AS rn
          FROM s)
    SELECT query_id, match_id, sim, CAST(rn AS BIGINT) AS rank FROM r WHERE rn <= 5
    """,
)
def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators import similarity as sim

    assigned = _shared_ivf_assigned(spark, sf_dir)
    queries_assigned = assigned.filter(F.col("vec_id") % 10 == 0)
    return sim.ivf_topk(assigned, queries_assigned, k=5)


# --------------------------------------------------------------------------
# 26c. Multi-probe IVF search: the query probes its ``nprobe``=2 nearest
#      cells instead of one — the standard IVF recall/cost dial (members
#      stay single-cell, so per-cell candidate sets are disjoint and the
#      global top-k window merges them exactly). Oracle: the query
#      assignment keeps rn <= 2 cells.
# --------------------------------------------------------------------------
@query(
    "ann_ivf_nprobe",
    """
    WITH c AS (SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS cv
               FROM embeddings
               WHERE vec_id < (SELECT LEAST(65536, GREATEST(8, CAST(CEIL(COUNT(*) / 250.0)
                                                       AS BIGINT)))
                               FROM embeddings)),
    scored AS (SELECT v.vec_id, v.embedding, c.centroid_id,
                      round(list_cosine_similarity(CAST(v.embedding AS DOUBLE[]), c.cv), 6) AS sim
               FROM embeddings v, c),
    assigned AS (
        SELECT vec_id, embedding, centroid_id
        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) AS rn
              FROM scored)
        WHERE rn = 1),
    q AS (
        SELECT vec_id AS query_id, centroid_id, qv FROM (
            SELECT s.vec_id, s.centroid_id,
                   CAST(s.embedding AS DOUBLE[]) AS qv,
                   row_number() OVER (PARTITION BY s.vec_id ORDER BY s.sim DESC, s.centroid_id) AS rn
            FROM scored s WHERE s.vec_id % 10 = 0)
        WHERE rn <= 2),
    s AS (SELECT q.query_id, v.vec_id AS match_id,
                 round(list_cosine_similarity(q.qv, CAST(v.embedding AS DOUBLE[])), 6) AS sim
          FROM q JOIN assigned v ON v.centroid_id = q.centroid_id
          WHERE v.vec_id <> q.query_id),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, match_id) AS rn
          FROM s)
    SELECT query_id, match_id, sim, CAST(rn AS BIGINT) AS rank FROM r WHERE rn <= 5
    """,
)
def ann_ivf_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators import similarity as sim

    emb = Catalog(spark, sf_dir).embeddings
    centroids = emb.filter(
        F.col("vec_id") < _ivf_n_cells(spark, sf_dir)
    ).select(F.col("vec_id").alias("centroid_id"), "embedding")
    probes = sim.ivf_assign(
        emb.filter(F.col("vec_id") % 10 == 0), centroids, nprobe=2
    )
    return sim.ivf_topk(_shared_ivf_assigned(spark, sf_dir), probes, k=5)


# --------------------------------------------------------------------------
# 26b. ANN index-quality gate: recall@5 of the IVF search against the
#      brute-force exact top-5, per query — the acceptance test run before
#      trusting an index for semantic dedup / retrieval (public standard
#      metric). Both rankings reuse the already-registered plans (shared
#      IVF assignment; Arrow-batched brute force); the comparison itself is
#      one narrow (query_id, match_id) join + a per-query count.
# --------------------------------------------------------------------------
@query(
    "ann_recall_eval",
    """
    WITH c AS (SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS cv
               FROM embeddings
               WHERE vec_id < (SELECT LEAST(65536, GREATEST(8, CAST(CEIL(COUNT(*) / 250.0)
                                                       AS BIGINT)))
                               FROM embeddings)),
    scored AS (SELECT v.vec_id, v.embedding, c.centroid_id,
                      round(list_cosine_similarity(CAST(v.embedding AS DOUBLE[]), c.cv), 6) AS sim
               FROM embeddings v, c),
    assigned AS (
        SELECT vec_id, embedding, centroid_id
        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) AS rn
              FROM scored)
        WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, centroid_id, CAST(embedding AS DOUBLE[]) AS qv
          FROM assigned WHERE vec_id % 10 = 0),
    ivf AS (
        SELECT query_id, match_id FROM (
            SELECT s.*, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, match_id) AS rn
            FROM (SELECT q.query_id, v.vec_id AS match_id,
                         round(list_cosine_similarity(q.qv, CAST(v.embedding AS DOUBLE[])), 6) AS sim
                  FROM q JOIN assigned v ON v.centroid_id = q.centroid_id
                  WHERE v.vec_id <> q.query_id) s)
        WHERE rn <= 5),
    exact AS (
        SELECT query_id, match_id FROM (
            SELECT s.*, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, match_id) AS rn
            FROM (SELECT q.query_id, v.vec_id AS match_id,
                         round(list_cosine_similarity(q.qv, CAST(v.embedding AS DOUBLE[])), 6) AS sim
                  FROM q, embeddings v WHERE v.vec_id <> q.query_id) s)
        WHERE rn <= 5),
    hits AS (
        SELECT i.query_id, CAST(count(*) AS BIGINT) AS n_hits
        FROM ivf i JOIN exact e
          ON e.query_id = i.query_id AND e.match_id = i.match_id
        GROUP BY i.query_id)
    SELECT q.query_id,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           round(coalesce(h.n_hits, 0) / 5, 6) AS recall_at_5
    FROM q LEFT JOIN hits h ON h.query_id = q.query_id
    """,
)
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators import similarity as sim

    emb = Catalog(spark, sf_dir).embeddings
    queries_df = emb.filter(F.col("vec_id") % 10 == 0)
    exact = sim.cosine_topk(emb, queries_df, k=5).select(
        "query_id", "match_id"
    )
    assigned = _shared_ivf_assigned(spark, sf_dir)
    approx = sim.ivf_topk(
        assigned, assigned.filter(F.col("vec_id") % 10 == 0), k=5
    ).select("query_id", "match_id")
    hits = exact.join(approx, ["query_id", "match_id"]).groupBy(
        "query_id"
    ).agg(F.count(F.lit(1)).alias("__n"))
    return (
        queries_df.select(F.col("vec_id").alias("query_id"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("__n", F.lit(0)).cast("bigint").alias("n_hits"),
            F.round(F.coalesce("__n", F.lit(0)) / 5, 6).alias("recall_at_5"),
        )
    )


# --------------------------------------------------------------------------
# 27. Embedding near-duplicate pairs within IVF cells. τ=0.3 is tuned to
#     the synthetic fixture's random embeddings (cosine σ≈1/√64): it emits
#     a few hundred pairs at sf0.01 so the oracle hash-gate verifies actual
#     pair values — at τ≥0.5 the gate passed vacuously on 0 rows.
# --------------------------------------------------------------------------
@query(
    "embed_cosine_dup",
    """
    WITH c AS (SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS cv
               FROM embeddings
               WHERE vec_id < (SELECT LEAST(65536, GREATEST(8, CAST(CEIL(COUNT(*) / 250.0)
                                                       AS BIGINT)))
                               FROM embeddings)),
    scored AS (SELECT v.vec_id, v.embedding, c.centroid_id,
                      round(list_cosine_similarity(CAST(v.embedding AS DOUBLE[]), c.cv), 6) AS sim
               FROM embeddings v, c),
    assigned AS (
        SELECT vec_id, embedding, centroid_id
        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) AS rn
              FROM scored)
        WHERE rn = 1)
    SELECT x.vec_id AS a, y.vec_id AS b,
           round(list_cosine_similarity(CAST(x.embedding AS DOUBLE[]), CAST(y.embedding AS DOUBLE[])), 6) AS sim
    FROM assigned x JOIN assigned y ON x.centroid_id = y.centroid_id
    WHERE x.vec_id < y.vec_id
      AND round(list_cosine_similarity(CAST(x.embedding AS DOUBLE[]), CAST(y.embedding AS DOUBLE[])), 6) >= 0.3
    """,
)
def embed_cosine_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _shared_dup_pairs(spark, sf_dir, threshold=0.3)


# --------------------------------------------------------------------------
# 27b. Semantic dedup (SemDeDup): embedding near-dup pairs → connected
#      components → keep one representative per cluster. The Spark side
#      runs connected_components on the τ-pairs; the oracle closes the
#      same pair graph with a recursive CTE.
# --------------------------------------------------------------------------
@query(
    "semantic_dedup",
    """
    WITH RECURSIVE c AS (SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS cv
               FROM embeddings
               WHERE vec_id < (SELECT LEAST(65536, GREATEST(8, CAST(CEIL(COUNT(*) / 250.0)
                                                       AS BIGINT)))
                               FROM embeddings)),
    scored AS (SELECT v.vec_id, v.embedding, c.centroid_id,
                      round(list_cosine_similarity(CAST(v.embedding AS DOUBLE[]), c.cv), 6) AS sim
               FROM embeddings v, c),
    assigned AS (
        SELECT vec_id, embedding, centroid_id
        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) AS rn
              FROM scored)
        WHERE rn = 1),
    pr AS (
        SELECT x.vec_id AS a, y.vec_id AS b
        FROM assigned x JOIN assigned y ON x.centroid_id = y.centroid_id
        WHERE x.vec_id < y.vec_id
          AND round(list_cosine_similarity(CAST(x.embedding AS DOUBLE[]), CAST(y.embedding AS DOUBLE[])), 6) >= 0.3),
    ed AS (SELECT a AS src, b AS dst FROM pr UNION SELECT b, a FROM pr),
    reach(node, lab) AS (
        SELECT vec_id, vec_id FROM embeddings
        UNION
        SELECT e.dst, r.lab FROM reach r JOIN ed e ON e.src = r.node)
    SELECT node AS vec_id, CAST(min(lab) AS BIGINT) AS cluster_id,
           CAST(CASE WHEN min(lab) = node THEN 1 ELSE 0 END AS BIGINT) AS keep
    FROM reach GROUP BY node
    """,
)
def semantic_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators import similarity as sim

    assigned = _shared_ivf_assigned(spark, sf_dir)
    return sim.semantic_dedup(
        assigned,
        threshold=0.3,
        pairs=_shared_dup_pairs(spark, sf_dir, threshold=0.3),
    )


# --------------------------------------------------------------------------
# 28. Token counting (whitespace + BPE-ish regex).
# --------------------------------------------------------------------------
@query(
    "token_count",
    r"""
    SELECT doc_id,
           CAST(length(list_filter(string_split_regex(text, '[ \t\n\r\f]+'), x -> x <> '')) AS BIGINT) AS ws_tokens,
           CAST(length(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 \t\n\r\f]')) AS BIGINT) AS bpe_tokens
    FROM documents
    """,
)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators import text as tx

    return tx.token_counts(Catalog(spark, sf_dir).documents)


# --------------------------------------------------------------------------
# 29. Text quality scoring.
# --------------------------------------------------------------------------
_EN_STOP_SQL = "['the','a','of','and','to','in','is','that','it','for']"

@query(
    "text_quality",
    rf"""
    WITH t AS (
        SELECT doc_id, text,
               length(text) AS n_chars_computed,
               list_filter(string_split_regex(text, '[ \t\n\r\f]+'), x -> x <> '') AS toks
        FROM documents),
    m AS (
        SELECT doc_id, n_chars_computed,
               length(toks) AS n_tokens,
               (n_chars_computed - length(regexp_replace(text, '[^\w \t\n\r\f]', '', 'g'))) / greatest(n_chars_computed, 1) AS punct_ratio,
               length(list_filter(toks, x -> list_contains({_EN_STOP_SQL}, lower(x)))) / greatest(length(toks), 1) AS stopword_ratio,
               list_sum(list_transform(toks, x -> length(x))) / greatest(length(toks), 1) AS mean_word_len
        FROM t)
    SELECT doc_id,
           CAST(n_chars_computed AS BIGINT) AS n_chars_computed,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           round(punct_ratio, 6) AS punct_ratio,
           round(stopword_ratio, 6) AS stopword_ratio,
           round(mean_word_len, 6) AS mean_word_len,
           round(least(n_tokens / 100.0, 1.0) * 0.4
                 + (1 - punct_ratio) * 0.3
                 + least(stopword_ratio * 5, 1.0) * 0.3, 6) AS quality_score
    FROM m
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators import text as tx

    return tx.quality_scores(Catalog(spark, sf_dir).documents)


# --------------------------------------------------------------------------
# 30. Language ID by stopword hits.
# --------------------------------------------------------------------------
def _lang_sql() -> str:
    from xena_gdc_etl_spark.operators.text import STOPWORDS

    langs = sorted(STOPWORDS)
    score_exprs = ", ".join(
        "CAST(length(list_filter(toks, x -> list_contains(["
        + ",".join(f"'{w}'" for w in STOPWORDS[lg])
        + f"], lower(x)))) AS BIGINT) AS score_{lg}"
        for lg in langs
    )
    best = "greatest(" + ", ".join(f"score_{lg}" for lg in langs) + ")"
    case = "CASE " + " ".join(
        f"WHEN score_{lg} = {best} THEN '{lg}'" for lg in langs
    ) + " END"
    return rf"""
    WITH t AS (SELECT doc_id,
                      list_filter(string_split_regex(text, '[ \t\n\r\f]+'), x -> x <> '') AS toks
               FROM documents),
    s AS (SELECT doc_id, {score_exprs} FROM t)
    SELECT doc_id, score_de, score_en, score_es, score_fr, {case} AS predicted_lang
    FROM s
    """


@query("lang_id", _lang_sql())
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators import text as tx

    return tx.lang_scores(Catalog(spark, sf_dir).documents)


# --------------------------------------------------------------------------
# 31. Polynomial document fingerprint.
# --------------------------------------------------------------------------
@query(
    "doc_fingerprint",
    """
    SELECT doc_id,
           list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                   list_transform(list_filter(string_split(text, ''), c -> c <> ''),
                                  c -> CAST(ascii(c) AS BIGINT))),
               (a, b) -> (a * 31 + b) % 1000000007) AS fingerprint
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators import text as tx

    return tx.fingerprints(Catalog(spark, sf_dir).documents)


# --------------------------------------------------------------------------
# 32. Multimodal plumbing: binary payload + Arrow-batched feature extraction
#     (decode stubbed deterministically; see operators/multimodal.py).
# --------------------------------------------------------------------------
@query(
    "multimodal_features",
    """
    SELECT doc_id AS media_id,
           (['image','audio','video'])[(doc_id % 3) + 1] AS modality,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_digest,
           array_to_string(list_transform(range(0, 8),
               i -> printf('%.6f', round(('0x' || substr(md5(text), 2 * i + 1, 2))::INT / 255.0, 6))), ',') AS features_csv
    FROM documents
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators import multimodal as mm

    media = mm.attach_binary_payload(Catalog(spark, sf_dir).documents)
    feats = mm.extract_features(media)
    # Serialize the feature vector in the FINAL select only (driver's pandas
    # canonicalizer can't hash list cells). %.6f after round(...,6) is
    # formatting-exact in both engines: the rounded double sits ~1e-16 from a
    # 6-decimal value, so Java Formatter and C printf agree on every digit.
    return feats.select(
        "media_id",
        "modality",
        "n_bytes",
        "content_digest",
        F.concat_ws(
            ",",
            F.transform(
                F.col("features"),
                lambda x: F.format_string("%.6f", F.round(x, 6)),
            ),
        ).alias("features_csv"),
    )


# --------------------------------------------------------------------------
# 33. Nested-JSON field extraction + aggregation — the engine-side analog of
#     the reference's JSON handling (reduce_json_array / get_json_objects,
#     /root/reference/xena_gdc_etl/utils.py:164,207): pull a path out of a
#     serialized JSON column and aggregate over it. get_json_object is a
#     codegen'd JVM expression — no Python in the path.
# --------------------------------------------------------------------------
# --------------------------------------------------------------------------
# 37. Corpus vocabulary: top-k tokens by document frequency — the input to
#     tokenizer training. Explode → two-level agg (partial map-side), then
#     a single ordered top-k (rank ties broken lexically for determinism).
# --------------------------------------------------------------------------
@query(
    "vocab_topk",
    r"""
    WITH toks AS (
        SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[ \t\n\r\f]+'), x -> x <> '')) AS tok
        FROM documents),
    df AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS tf,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
        FROM toks GROUP BY tok)
    SELECT tok, tf, doc_freq FROM df
    ORDER BY tf DESC, tok LIMIT 100
    """,
)
def vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Both statistics are rollups of the shared (doc_id, tok, tf) frame:
    # corpus tf = Σ tf, doc_freq = row count (one tf row per (doc, tok)).
    tf = _shared_doc_tf(spark, sf_dir)
    return (
        tf.groupBy("tok")
        .agg(
            F.sum("tf").alias("tf"),
            F.count(F.lit(1)).alias("doc_freq"),
        )
        .orderBy(F.col("tf").desc(), "tok")
        .limit(100)
    )


# --------------------------------------------------------------------------
# 36. PII scrubbing: redact emails/IPs/phones (chained codegen regex) and
#     count redactions per doc — the pre-training scrub step.
# --------------------------------------------------------------------------
@query(
    "scrub_pii",
    r"""
    SELECT doc_id,
           CAST(length(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
           CAST(length(regexp_extract_all(text, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT) AS n_ipv4,
           CAST(length(regexp_extract_all(text, '\+?\d[\d\- ]{7,}\d')) AS BIGINT) AS n_phone,
           md5(regexp_replace(
                 regexp_replace(
                   regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                   '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
                 '\+?\d[\d\- ]{7,}\d', '<PHONE>', 'g')) AS scrub_hash
    FROM documents
    """,
)
def scrub_pii_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators.text import scrub_pii

    out = scrub_pii(Catalog(spark, sf_dir).documents)
    return out.select(
        "doc_id", "n_email", "n_ipv4", "n_phone",
        F.md5("scrubbed_text").alias("scrub_hash"),
    )


# --------------------------------------------------------------------------
# 35c. Leakage-safe split: the contamination guard for EVAL SET
#      construction — near-duplicate documents must never straddle
#      train/eval, or the eval set silently measures memorization. The
#      split key is the near-dup CLUSTER id (LSH connected components off
#      the shared signature artifact), not the doc id, so whole duplicate
#      families land on one side; the assignment itself stays the
#      zero-shuffle md5-bucket projection. Oracle: the dedup_clusters
#      recursive-CTE closure + the same md5-bucket split expression.
# --------------------------------------------------------------------------
@query(
    "leakage_safe_split",
    f"""
    WITH RECURSIVE sh AS ({_mh_sql_shingles()}),
    sig AS (SELECT doc_id, {_mh_sql_minexprs()} FROM sh GROUP BY doc_id),
    bk AS (
        SELECT doc_id, 0 AS band, md5(mh0::VARCHAR || '_' || mh1::VARCHAR) AS bucket FROM sig
        UNION ALL
        SELECT doc_id, 1, md5(mh2::VARCHAR || '_' || mh3::VARCHAR) FROM sig
        UNION ALL
        SELECT doc_id, 2, md5(mh4::VARCHAR || '_' || mh5::VARCHAR) FROM sig
        UNION ALL
        SELECT doc_id, 3, md5(mh6::VARCHAR || '_' || mh7::VARCHAR) FROM sig),
    pr AS (
        SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        FROM bk x JOIN bk y ON x.band = y.band AND x.bucket = y.bucket
        WHERE x.doc_id < y.doc_id),
    ed AS (SELECT a AS src, b AS dst FROM pr UNION SELECT b, a FROM pr),
    reach(node, lab) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, r.lab FROM reach r JOIN ed e ON e.src = r.node),
    cl AS (
        SELECT node AS doc_id, CAST(min(lab) AS BIGINT) AS cluster_id
        FROM reach GROUP BY node),
    wb AS (
        SELECT doc_id, cluster_id,
               ('0x'||substr(md5(cluster_id::VARCHAR), 1, 15))::BIGINT
                   % 10000 AS bucket
        FROM cl)
    SELECT doc_id, cluster_id,
           CASE WHEN bucket < 8000 THEN 'train'
                WHEN bucket < 9000 THEN 'valid'
                ELSE 'test' END AS split
    FROM wb
    """,
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators.sampling import split_assign

    clusters = _clusters_df(spark, sf_dir)
    return split_assign(clusters, "cluster_id").select(
        "doc_id", "cluster_id", "split"
    )


# --------------------------------------------------------------------------
# 35. Deterministic train/valid/test split, stratification check: membership
#     is a pure function of the doc id (md5-bucket), never of partition
#     order or RNG state — reproducible by any engine, leakage-safe, zero
#     shuffle for the assignment itself.
# --------------------------------------------------------------------------
@query(
    "train_split",
    """
    WITH b AS (
        SELECT source, ('0x'||substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 10000 AS bucket
        FROM documents)
    SELECT source,
           CASE WHEN bucket < 8000 THEN 'train'
                WHEN bucket < 9000 THEN 'valid'
                ELSE 'test' END AS split,
           CAST(count(*) AS BIGINT) AS n
    FROM b GROUP BY 1, 2
    """,
)
def train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators.sampling import split_assign

    docs = Catalog(spark, sf_dir).documents
    return split_assign(docs, "doc_id").groupBy("source", "split").agg(
        F.count(F.lit(1)).alias("n")
    )


# --------------------------------------------------------------------------
# 35b. Importance sampling: keep each document with probability equal to a
#      quality weight in [0,1], decided by portable key-hash — the
#      deterministic data-mixing primitive (no RNG state, no shuffle).
#      Casts are floor-identical on both engines: Spark's double→bigint cast
#      truncates, the oracle floors explicitly.
# --------------------------------------------------------------------------
@query(
    "weighted_sample",
    """
    WITH w AS (
        SELECT doc_id, source, n_chars,
               ('0x'||substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 10000 AS bucket,
               least(greatest(n_chars / 400.0, 0.0), 1.0) AS keep_w
        FROM documents)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(n_chars) AS BIGINT) AS chars_kept
    FROM w
    WHERE bucket < CAST(floor(keep_w * 10000) AS BIGINT)
    GROUP BY source
    """,
)
def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators.sampling import weighted_sample as ws

    docs = Catalog(spark, sf_dir).documents
    kept = ws(docs, "doc_id", F.col("n_chars") / 400.0)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").cast("bigint").alias("chars_kept"),
    )


# --------------------------------------------------------------------------
# 35c. Mixture rebalancing: downsample over-represented sources so the kept
#      corpus approaches a uniform source mixture — per-group counts are the
#      only aggregate state (one tiny broadcast), the corpus never shuffles.
# --------------------------------------------------------------------------
@query(
    "rebalance_sources",
    """
    WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n
               FROM documents GROUP BY source),
         t AS (SELECT min(n) AS min_n FROM c),
         r AS (SELECT c.source, least(1.0, t.min_n / c.n) AS keep_frac
               FROM c CROSS JOIN t),
         k AS (
            SELECT d.source
            FROM documents d JOIN r ON d.source = r.source
            WHERE ('0x'||substr(md5(d.doc_id::VARCHAR), 1, 15))::BIGINT % 10000
                  < CAST(floor(r.keep_frac * 10000) AS BIGINT))
    SELECT source, CAST(count(*) AS BIGINT) AS n_kept
    FROM k GROUP BY source
    """,
)
def rebalance_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators.sampling import rebalance_groups

    docs = Catalog(spark, sf_dir).documents
    kept = rebalance_groups(docs, "source", "doc_id")
    return kept.groupBy("source").agg(F.count(F.lit(1)).alias("n_kept"))


# --------------------------------------------------------------------------
# 34. Nested normalization: parse the serialized props JSON into a struct and
#     star-expand it to flat columns — the reference's get_samples_clinical /
#     json_normalize flattening (gdc.py:462) as a pure Catalyst projection.
# --------------------------------------------------------------------------
@query(
    "flatten_props",
    """
    SELECT event_id, user_id, event_type,
           CAST(json_extract_string(props, '$.k') AS INT) AS props_k
    FROM events
    """,
)
def flatten_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators.nested import flatten_structs

    ev_df = Catalog(spark, sf_dir).events.select(
        "event_id",
        "user_id",
        "event_type",
        F.from_json("props", "k INT").alias("props"),
    )
    return flatten_structs(ev_df)


@query(
    "json_props_agg",
    """
    SELECT event_type,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_total,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
)
def json_props_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev_df = Catalog(spark, sf_dir).events
    return ev_df.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("bigint")).alias("k_total"),
        F.count(F.lit(1)).alias("n"),
    )


# --------------------------------------------------------------------------
# 38. Within-document repetition (Gopher-style repetition filters): dup-word
#     and dup-bigram fractions as pure higher-order expressions — zero
#     shuffle, decidable in the scan stage.
# --------------------------------------------------------------------------
@query(
    "doc_repetition",
    r"""
    WITH w AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '[ \t\n\r\f]+'), x -> x <> '') AS words
        FROM documents),
    b AS (
        SELECT doc_id, words,
               list_transform(range(1, len(words)),
                              i -> words[i] || ' ' || words[i+1]) AS bigrams
        FROM w)
    SELECT doc_id,
           CAST(len(words) AS BIGINT) AS n_words,
           CASE WHEN len(words) > 0
                THEN round(1 - len(list_distinct(words)) / len(words), 6) END
             AS dup_word_frac,
           CASE WHEN len(bigrams) > 0
                THEN round(1 - len(list_distinct(bigrams)) / len(bigrams), 6) END
             AS dup_bigram_frac
    FROM b
    """,
)
def doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators.text import repetition_scores

    # spread: tokenize+distinct is the expensive part; compact doc files
    # scan as one task locally, so spread past scan parallelism (at real
    # scale the scan has parallelism and the operator itself is
    # shuffleless)
    return repetition_scores(spread(Catalog(spark, sf_dir).documents))


# --------------------------------------------------------------------------
# 39. Benchmark-contamination check: distinct word-trigram overlap of each
#     train doc (doc_id % 10 != 0) against the held-out corpus
#     (doc_id % 10 == 0). Test gram set broadcasts; train side never
#     shuffles for the probe.
# --------------------------------------------------------------------------
@query(
    "contamination",
    r"""
    WITH w AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[ \t\n\r\f]+'), x -> x <> '') AS words
        FROM documents),
    g AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(range(1, len(words) - 1),
                   i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))) AS gram
        FROM w),
    tg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 = 0),
    tr AS (SELECT doc_id, gram FROM g WHERE doc_id % 10 <> 0)
    SELECT tr.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(count(tg.gram) AS BIGINT) AS n_hit,
           round(count(tg.gram) / count(*), 6) AS contam_frac
    FROM tr LEFT JOIN tg ON tr.gram = tg.gram
    GROUP BY tr.doc_id
    """,
)
def contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators.dedup import ngram_contamination

    docs = Catalog(spark, sf_dir).documents
    return ngram_contamination(
        docs.filter(F.col("doc_id") % 10 != 0),
        docs.filter(F.col("doc_id") % 10 == 0),
        n=3,
    )


# --------------------------------------------------------------------------
# 40. tf-idf keyword extraction: top-3 tokens per doc. Integer-deterministic
#     ranking (tf desc, df asc, tok asc); score reported as tf·ln((N+1)/(df+1)).
# --------------------------------------------------------------------------
@query(
    "tfidf_topk",
    r"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '[ \t\n\r\f]+'),
                                  x -> x <> '')) AS tok
        FROM documents),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
    df AS (SELECT tok, count(*) AS doc_freq FROM tf GROUP BY tok),
    n AS (SELECT count(*) AS n_docs FROM documents),
    r AS (
        SELECT tf.doc_id, tf.tok, tf.tf, df.doc_freq,
               row_number() OVER (PARTITION BY tf.doc_id
                   ORDER BY tf.tf DESC, df.doc_freq ASC, tf.tok ASC) AS rank
        FROM tf JOIN df USING (tok))
    SELECT doc_id, CAST(rank AS BIGINT) AS rank, tok,
           CAST(tf AS BIGINT) AS tf, CAST(doc_freq AS BIGINT) AS doc_freq,
           round(tf * ln((n_docs + 1.0) / (doc_freq + 1.0)), 6) AS tfidf
    FROM r, n WHERE rank <= 3
    """,
)
def tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators.text import tfidf_keywords

    return tfidf_keywords(
        Catalog(spark, sf_dir).documents,
        k=3,
        tf=_shared_doc_tf(spark, sf_dir),
    )


# --------------------------------------------------------------------------
# 40b. Per-doc token (unigram) Shannon entropy off the shared tf artifact —
#      the distributional-diversity quality signal: templated docs
#      concentrate mass on few tokens (low H). Zero-shuffle over the
#      doc_id-partitioned artifact.
# --------------------------------------------------------------------------
@query(
    "token_entropy",
    r"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '[ \t\n\r\f]+'),
                                  x -> x <> '')) AS tok
        FROM documents),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok)
    SELECT doc_id,
           CAST(sum(tf) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_distinct,
           round(log2(CAST(sum(tf) AS DOUBLE))
                 - sum(CAST(tf AS DOUBLE) * log2(CAST(tf AS DOUBLE)))
                   / CAST(sum(tf) AS DOUBLE), 6) AS entropy
    FROM tf GROUP BY doc_id
    """,
)
def token_entropy_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators.text import token_entropy

    return token_entropy(_shared_doc_tf(spark, sf_dir))


# --------------------------------------------------------------------------
# 41. As-of join (backward): each purchase event picks up the latest click
#     at-or-before it by the same user. Union + carry-forward window — one
#     shuffle on the user key; no native ASOF in Spark. Oracle: DuckDB ASOF
#     LEFT JOIN against a (user, ts)-deduplicated click table (the
#     right_order=event_id tiebreak made explicit).
# --------------------------------------------------------------------------
@query(
    "asof_join",
    """
    WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
               FROM events),
    c AS (SELECT user_id, ts, max(event_id) AS event_id
          FROM e WHERE event_type = 'click' GROUP BY user_id, ts),
    p AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'purchase')
    SELECT p.event_id, p.user_id, p.ts,
           c.event_id AS asof_event_id, c.ts AS asof_ts
    FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def asof_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators.asof import asof_join

    ev_df = Catalog(spark, sf_dir).events
    purchases = ev_df.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev_df.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    return asof_join(
        purchases,
        clicks,
        on=["user_id"],
        ts_col="ts",
        right_cols=["event_id"],
        right_order=["event_id"],
    )


# --------------------------------------------------------------------------
# 42. Grouped percentiles (data-profiling op): exact interpolated p50/p95 of
#     customer balance per nation. Spark SQL `percentile` == DuckDB
#     quantile_cont (both linear interpolation at p·(n-1)).
# --------------------------------------------------------------------------
@query(
    "group_percentiles",
    """
    SELECT c_nationkey,
           CAST(round(quantile_cont(c_acctbal, 0.5), 6) AS DOUBLE) AS p50,
           CAST(round(quantile_cont(c_acctbal, 0.95), 6) AS DOUBLE) AS p95,
           CAST(count(*) AS BIGINT) AS n
    FROM customer GROUP BY c_nationkey
    """,
)
def group_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # EXACT percentiles for oracle parity (quantile_cont interpolation is
    # bit-reproducible across engines; percentile_approx's sketch is not).
    # Scale note: exact percentile state is a per-group value-count map —
    # bounded here (acctbal has ~1e6 distinct cents), but for unbounded-
    # cardinality columns at 100 TB switch to percentile_approx and accept
    # a weaker rows-only gate, or pre-bucket values to fixed precision.
    cust = Catalog(spark, sf_dir).customer
    return cust.groupBy("c_nationkey").agg(
        F.round(F.percentile("c_acctbal", 0.5), 6).alias("p50"),
        F.round(F.percentile("c_acctbal", 0.95), 6).alias("p95"),
        F.count(F.lit(1)).alias("n"),
    )


# --------------------------------------------------------------------------
# 43. Fixed-width value histogram (data profiling): bucket counts of
#     l_extendedprice at 5000/bucket. Portable arithmetic only (floor of an
#     IEEE division) — identical buckets in any engine; map-side partial agg.
# --------------------------------------------------------------------------
@query(
    "value_histogram",
    """
    SELECT CAST(least(floor(l_extendedprice / 5000.0), 23) AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem GROUP BY 1
    """,
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = Catalog(spark, sf_dir).lineitem
    bucket = F.least(F.floor(F.col("l_extendedprice") / 5000.0), F.lit(23)).cast(
        "bigint"
    )
    return li.groupBy(bucket.alias("bucket")).agg(F.count(F.lit(1)).alias("n"))


# --------------------------------------------------------------------------
# 44. Corpus-stats rollup (the data-profiling dashboard shape): per
#     (source, lang) doc count, token volume, exact-dup rate, avg length.
#     One groupBy — map-side partials; count_distinct(md5) is the only
#     expansion and stays keyed by the group.
# --------------------------------------------------------------------------
@query(
    "corpus_stats",
    r"""
    SELECT source, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
                                    x -> x <> ''))) AS BIGINT) AS total_tokens,
           CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique,
           round(1 - count(DISTINCT md5(text)) / count(*), 6) AS dup_rate,
           CAST(round(avg(n_chars), 6) AS DOUBLE) AS avg_chars
    FROM documents GROUP BY source, lang
    """,
)
def corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).documents
    toks = F.array_remove(F.split(F.col("text"), WS_RE), "")
    return docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(toks)).cast("bigint").alias("total_tokens"),
        F.count_distinct(F.md5("text")).alias("n_unique"),
        F.round(
            1 - F.count_distinct(F.md5("text")) / F.count(F.lit(1)), 6
        ).alias("dup_rate"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
    )


# --------------------------------------------------------------------------
# 45. Grouped top-k: the 2 longest docs per source (window row_number with
#     an integer-deterministic tiebreak). Two-stage partial top-k (the
#     cosine_topk pattern, similarity.py): a deterministic doc_id-hash
#     sub-shard bounds the first window's partitions, so the final
#     per-source window only ever sees shards×k survivors — a giant source
#     never sorts in one task.
# --------------------------------------------------------------------------
@query(
    "top_docs_per_source",
    """
    SELECT source, doc_id, n_chars, CAST(rnk AS BIGINT) AS rnk
    FROM (
        SELECT source, doc_id, n_chars,
               row_number() OVER (PARTITION BY source
                                  ORDER BY n_chars DESC, doc_id ASC) AS rnk
        FROM documents)
    WHERE rnk <= 2
    """,
)
def top_docs_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    k, n_shards = 2, 64
    docs = Catalog(spark, sf_dir).documents
    slim = docs.select(
        "source",
        "doc_id",
        "n_chars",
        F.pmod(F.xxhash64("doc_id"), F.lit(n_shards)).alias("__shard"),
    )
    order = [F.col("n_chars").desc(), F.col("doc_id").asc()]
    local_w = Window.partitionBy("source", "__shard").orderBy(*order)
    survivors = (
        slim.withColumn("__lrnk", F.row_number().over(local_w))
        .filter(F.col("__lrnk") <= k)  # ≤ shards×k rows per source remain
        .drop("__shard", "__lrnk")
    )
    final_w = Window.partitionBy("source").orderBy(*order)
    return (
        survivors.withColumn("rnk", F.row_number().over(final_w))
        .filter(F.col("rnk") <= k)
        .withColumn("rnk", F.col("rnk").cast("bigint"))
    )


# --------------------------------------------------------------------------
# 46. Deterministic per-group sampling (operators/sampling.sample_by_group):
#     downsample boilerplate-heavy sources, keep rare ones whole. Membership
#     is a pure function of the key hash — zero shuffle, reproducible by any
#     engine (oracle reproduces the md5-bucket arithmetic exactly).
# --------------------------------------------------------------------------
@query(
    "sample_by_group",
    """
    WITH b AS (
        SELECT doc_id, source,
               ('0x'||substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 10000 AS bucket
        FROM documents)
    SELECT doc_id, source FROM b
    WHERE bucket < CASE source WHEN 'src0' THEN 2500
                               WHEN 'src1' THEN 10000
                               ELSE 5000 END
    """,
)
def sample_by_group_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators.sampling import sample_by_group

    docs = Catalog(spark, sf_dir).documents.select("doc_id", "source")
    return sample_by_group(
        docs,
        group_col="source",
        key_col="doc_id",
        fractions={"src0": 0.25, "src1": 1.0},
        default_fraction=0.5,
    )


# --------------------------------------------------------------------------
# 47. Range join: lineitems shipped within 7 days of each sampled order's
#     date. Bin-bucketed point-in-interval join (operators/interval.py) — an
#     equi-join on the bin key with ~2× interval fan-out, never a cross
#     join. The deterministic 2% order sample bounds the pair cardinality:
#     an unrestricted orders×week-of-lineitem join is ~1700 matches PER
#     order (≈2.5M pairs per 1k orders) — the output itself, not the join
#     strategy, is what explodes. Oracle: DuckDB's native inequality join.
# --------------------------------------------------------------------------
@query(
    "range_join",
    """
    SELECT o.o_orderkey,
           CAST(count(*) AS BIGINT) AS n_shipped,
           CAST(round(sum(l.l_quantity), 2) AS DOUBLE) AS qty_shipped
    FROM orders o JOIN lineitem l
      ON l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate < o.o_orderdate + INTERVAL 7 DAY
    WHERE o.o_orderkey % 50 = 0
    GROUP BY o.o_orderkey
    """,
)
def range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators.interval import point_interval_join

    cat = Catalog(spark, sf_dir)
    intervals = cat.orders.filter(F.col("o_orderkey") % 50 == 0).select(
        "o_orderkey",
        F.col("o_orderdate").alias("win_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 7 DAYS")).alias("win_end"),
    )
    points = cat.lineitem.select("l_shipdate", "l_quantity")
    joined = point_interval_join(
        points, intervals,
        point_ts="l_shipdate", start_col="win_start", end_col="win_end",
        bin_seconds=7 * 86400,
    )
    return joined.groupBy("o_orderkey").agg(
        F.count(F.lit(1)).alias("n_shipped"),
        F.round(F.sum("l_quantity"), 2).alias("qty_shipped"),
    )


# --------------------------------------------------------------------------
# 48. Rolling window: 4-event moving average of `value` per user ordered by
#     (ts, event_id). One shuffle on the user key; the frame is computed in
#     a single sorted pass per partition (no self-join).
# --------------------------------------------------------------------------
@query(
    "rolling_avg",
    """
    SELECT event_id, user_id,
           CAST(round(avg(value) OVER (
               PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP), event_id
               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6) AS DOUBLE)
             AS rolling_avg
    FROM events
    """,
)
def rolling_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev_df = Catalog(spark, sf_dir).events
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, Window.currentRow)
    )
    return ev_df.select(
        "event_id",
        "user_id",
        F.round(F.avg("value").over(w), 6).alias("rolling_avg"),
    )


# --------------------------------------------------------------------------
# 48b. The same rolling average through the sharded bounded-frame rolling
#      operator (operators/prefix.py group_rolling): identical results —
#      sliding frames recompute per row, so same frame contents ⇒ same
#      doubles — but no per-user window task anywhere, so a degenerate hot
#      key (bot user, null-ish id) slices across tasks instead of
#      funneling through one. The plain-window form (48) stays registered
#      as the human-keyed default; this is the web-scale path.
# --------------------------------------------------------------------------
@query(
    "rolling_avg_sharded",
    """
    SELECT event_id, user_id,
           CAST(round(avg(value) OVER (
               PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP), event_id
               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6) AS DOUBLE)
             AS rolling_avg
    FROM events
    """,
)
def rolling_avg_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators.prefix import group_rolling

    ev_df = Catalog(spark, sf_dir).events
    rolled = group_rolling(
        ev_df, ["user_id"], ["ts", "event_id"], "value", "__roll",
        agg="avg", preceding=3,
    )
    return rolled.select(
        "event_id",
        "user_id",
        F.round(F.col("__roll"), 6).alias("rolling_avg"),
    )


# --------------------------------------------------------------------------
# 49. Pivot with a FIXED value list (the reference's matrix pivot — wide
#     sample×feature — in its scale-safe form: explicit columns, so the
#     plan is a single groupBy with conditional aggregates, no
#     value-discovery pass). Ref: xena_dataset.py:165 merge_sample_cols
#     pivot step; sources/xena_tsv.py pivot_wide.
# --------------------------------------------------------------------------
@query(
    "pivot_event_counts",
    """
    SELECT user_id,
           CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
           CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view,
           CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
           CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
           CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error
    FROM events GROUP BY user_id
    """,
)
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev_df = Catalog(spark, sf_dir).events
    out = (
        ev_df.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .count()
    )
    # pivot-count leaves NULL for absent combos; the conditional-agg oracle
    # (and any matrix consumer) wants 0
    return out.select(
        "user_id",
        *[
            F.coalesce(F.col(c), F.lit(0)).cast("bigint").alias(c)
            for c in ("click", "view", "purchase", "signup", "error")
        ],
    )


# --------------------------------------------------------------------------
# 53. Cohort retention: bucket users by first-seen day (cohort), then count
#     how many of each cohort return k days later — the standard retention
#     triangle. Two aggregations over the same user partitioning (first-seen
#     min reuses the event shuffle), never a self-join.
# --------------------------------------------------------------------------
@query(
    "cohort_retention",
    """
    WITH e AS (
        SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d FROM events),
    first_seen AS (
        SELECT user_id, min(d) AS cohort_day FROM e GROUP BY user_id),
    activity AS (SELECT DISTINCT user_id, d FROM e)
    SELECT CAST(cohort_day AS VARCHAR) AS cohort_day,
           CAST(datediff('day', cohort_day, d) AS BIGINT) AS day_offset,
           CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_active
    FROM activity a JOIN first_seen USING (user_id)
    GROUP BY cohort_day, day_offset
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev_df = Catalog(spark, sf_dir).events.select(
        "user_id", F.to_date("ts").alias("d")
    )
    first_seen = ev_df.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    activity = ev_df.distinct()
    return (
        activity.join(first_seen, "user_id")
        .groupBy(
            # dates serialize as yyyy-MM-dd strings: DuckDB's pandas export
            # promotes DATE to datetime64, which canonicalizes differently
            F.col("cohort_day").cast("string").alias("cohort_day"),
            F.datediff(F.col("d"), F.col("cohort_day"))
            .cast("bigint")
            .alias("day_offset"),
        )
        .agg(F.count_distinct("user_id").cast("bigint").alias("n_active"))
    )


# --------------------------------------------------------------------------
# 51. Sequence packing (concat-and-chunk): assign every document the index
#     of the fixed-size token chunk its first token lands in when the
#     corpus is concatenated per source in doc_id order — the GPT-style
#     pretraining packing layout. The per-source running total uses the
#     two-pass sharded prefix scan (operators/prefix.py) so no task ever
#     holds a whole source; no UDFs, deterministic.
# --------------------------------------------------------------------------
@query(
    "sequence_pack",
    r"""
    WITH t AS (
        SELECT doc_id, source,
               length(list_filter(string_split_regex(text, '[ \t\n\r\f]+'), x -> x <> '')) AS n_tokens
        FROM documents),
    c AS (
        SELECT doc_id, source, n_tokens,
               sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) - n_tokens AS start_tok
        FROM t)
    SELECT doc_id, source,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(floor(start_tok / 256) AS BIGINT) AS pack_id,
           CAST(start_tok % 256 AS BIGINT) AS pack_offset
    FROM c
    """,
)
def sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The layout frame itself — built with the two-pass sharded prefix
    # scan (operators/prefix.py: a plain per-source window would
    # serialize a whole source through one task) and shared
    # session-scoped so pack_stats consumes it instead of re-running the
    # boundary sample + window + offsets pipeline.
    return _shared_pack_layout(spark, sf_dir)


# --------------------------------------------------------------------------
# 51b. Packing-efficiency stats: per (source, pack), how many documents
#      START in the pack and how many of the pack's 256 token slots their
#      leading tokens consume — the waste/fragmentation diagnostic a
#      packing layout needs. Pure aggregate over the sequence_pack
#      assignment (the prefix scan is the only ordered step; stats are
#      map-side-partial groupBy).
# --------------------------------------------------------------------------
@query(
    "pack_stats",
    r"""
    WITH t AS (
        SELECT doc_id, source,
               length(list_filter(string_split_regex(text, '[ \t\n\r\f]+'), x -> x <> '')) AS n_tokens
        FROM documents),
    c AS (
        SELECT doc_id, source, n_tokens,
               sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) - n_tokens AS start_tok
        FROM t),
    p AS (
        SELECT source, CAST(floor(start_tok / 256) AS BIGINT) AS pack_id,
               n_tokens, CAST(start_tok % 256 AS BIGINT) AS pack_offset
        FROM c)
    SELECT source, pack_id,
           CAST(count(*) AS BIGINT) AS n_docs_started,
           CAST(sum(n_tokens) AS BIGINT) AS tokens_started,
           CAST(min(pack_offset) AS BIGINT) AS first_offset,
           CAST(sum(least(n_tokens, 256 - pack_offset)) AS BIGINT) AS tokens_in_pack
    FROM p GROUP BY source, pack_id
    """,
)
def pack_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    packed = _shared_pack_layout(spark, sf_dir)
    budget = _PACK_BUDGET
    return packed.groupBy("source", "pack_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs_started"),
        F.sum("n_tokens").cast("bigint").alias("tokens_started"),
        F.min("pack_offset").cast("bigint").alias("first_offset"),
        F.sum(F.least(F.col("n_tokens"), budget - F.col("pack_offset")))
        .cast("bigint")
        .alias("tokens_in_pack"),
    )


# --------------------------------------------------------------------------
# 52. Incremental dedup: probe NEW documents against an already-landed
#     corpus by content hash — the "don't re-ingest what's landed" step of
#     a continuously-fed pipeline. The landed side reduces to a (hash,
#     min doc_id) index; at 100 TB that index is the only thing joined
#     (broadcast when it fits, hash-join otherwise) — new docs carry only
#     their digest through the shuffle.
# --------------------------------------------------------------------------
@query(
    "incremental_dedup",
    """
    WITH landed AS (
        SELECT md5(text) AS h, CAST(min(doc_id) AS BIGINT) AS dup_of
        FROM documents WHERE doc_id % 5 = 0 GROUP BY md5(text)),
    new_docs AS (
        SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 5 <> 0)
    SELECT n.doc_id, l.dup_of
    FROM new_docs n LEFT JOIN landed l USING (h)
    """,
)
def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).documents
    landed = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").cast("bigint").alias("dup_of"))
    )
    new_docs = docs.filter(F.col("doc_id") % 5 != 0).select(
        "doc_id", F.md5("text").alias("h")
    )
    return new_docs.join(landed, "h", "left").select("doc_id", "dup_of")


# --------------------------------------------------------------------------
# 52b. Incremental NEAR-dedup probe: today's arrivals vs the landed
#      corpus's persisted MinHash signatures (sources/minhash_index.py
#      lsh_probe_pairs) — the near-dup counterpart of incremental_dedup's
#      digest probe. The landed text is never re-shingled: both sides
#      band their SIGNATURES statelessly and join on (band, bucket) — a
#      true day-sized increment broadcasts (the probe's default) so the
#      landed corpus never shuffles; THIS fixture's increment is 80% of
#      the corpus, so the query opts out and lets AQE size the join.
#      Here both signature sets slice off the shared session cache (the
#      local analog of loading the durable artifact — same frame the
#      day-0 freeze persists).
# --------------------------------------------------------------------------
@query(
    "incremental_lsh_probe",
    f"""
    WITH sh AS ({_mh_sql_shingles()}),
    sig AS (SELECT doc_id, {_mh_sql_minexprs()} FROM sh GROUP BY doc_id),
    bk AS (
        SELECT doc_id, 0 AS band, md5(mh0::VARCHAR || '_' || mh1::VARCHAR) AS bucket FROM sig
        UNION ALL
        SELECT doc_id, 1, md5(mh2::VARCHAR || '_' || mh3::VARCHAR) FROM sig
        UNION ALL
        SELECT doc_id, 2, md5(mh4::VARCHAR || '_' || mh5::VARCHAR) FROM sig
        UNION ALL
        SELECT doc_id, 3, md5(mh6::VARCHAR || '_' || mh7::VARCHAR) FROM sig)
    SELECT DISTINCT n.doc_id AS new_id, l.doc_id AS landed_id
    FROM bk n JOIN bk l ON n.band = l.band AND n.bucket = l.bucket
    WHERE n.doc_id % 5 <> 0 AND l.doc_id % 5 = 0
    """,
)
def incremental_lsh_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.sources.minhash_index import lsh_probe_pairs

    sigs = _shared_signatures(spark, sf_dir)
    landed = sigs.filter(F.col("doc_id") % 5 == 0)
    new = sigs.filter(F.col("doc_id") % 5 != 0)
    # broadcast_new=False: THIS fixture's "increment" is 80% of the
    # corpus (doc_id % 5 != 0) — the increment<<landed assumption behind
    # lsh_probe_pairs' default is inverted here, and the default would
    # force-broadcast a corpus-proportional bucket frame at the 100x
    # lane (round-11 advisor). AQE picks the join from actual sizes.
    return lsh_probe_pairs(
        new, landed, num_hashes=8, band_size=2, broadcast_new=False
    )


# --------------------------------------------------------------------------
# 50. Ordered-sequence funnel over the event stream: users who viewed, then
#     clicked AFTER the first view, then purchased AFTER that click. Built
#     from conditional-min AGGREGATES chained by user-key joins (the oracle's
#     own shape) rather than stacked per-user windows: every min() is a
#     map-side partial aggregate, so a degenerate hot key (a bot user owning
#     1% of a web-scale stream) collapses inside each scan task instead of
#     funneling all its rows through one window task, and the user-key joins
#     are AQE-skew-splittable. Three bounded shuffles instead of one
#     skew-fragile one — the right trade at 100 TB.
# --------------------------------------------------------------------------
@query(
    "event_funnel",
    """
    WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
    u AS (
        SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts END) AS t1
        FROM e GROUP BY user_id),
    c AS (
        SELECT e.user_id, min(ts) AS t2
        FROM e JOIN u USING (user_id)
        WHERE event_type = 'click' AND ts > u.t1
        GROUP BY e.user_id),
    p AS (
        SELECT e.user_id, min(ts) AS t3
        FROM e JOIN c USING (user_id)
        WHERE event_type = 'purchase' AND ts > c.t2
        GROUP BY e.user_id)
    SELECT CAST(count(u.t1) AS BIGINT) AS n_view,
           CAST(count(c.t2) AS BIGINT) AS n_view_click,
           CAST(count(p.t3) AS BIGINT) AS n_funnel
    FROM u LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
    """,
)
def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev_df = Catalog(spark, sf_dir).events.select("user_id", "event_type", "ts")
    # EVERY stage scans only its candidate event type — including the view
    # stage: the oracle's u-frame carries a NULL t1 for view-less users,
    # but those users contribute nothing to any funnel count (c already
    # required t1 IS NOT NULL, p chains off c, and count() skips NULLs),
    # so filtering them out before the groupBy is result-identical
    # (equality-checked + oracle-hash-verified, round 18) and lets
    # EqualTo(event_type,view) reach the parquet scan instead of
    # aggregating the whole table for a per-user min over one type.
    u = (
        ev_df.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    # the `ts > t_prev` predicate drops users whose threshold is null,
    # exactly like the oracle's null-propagating WHERE
    c = (
        ev_df.where(F.col("event_type") == "click")
        .join(u, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev_df.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        u.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .agg(
            F.count("t1").cast("bigint").alias("n_view"),
            F.count("t2").cast("bigint").alias("n_view_click"),
            F.count("t3").cast("bigint").alias("n_funnel"),
        )
    )


# --------------------------------------------------------------------------
# 56. IVF-PQ: the composed billion-vector ANN layout (IVF cell pruning ×
#     PQ/ADC compression). Deterministic (smallest-id k-means init, fixed
#     iterations, integer tiebreaks) but built on trained centroids +
#     codebooks, which ANSI SQL cannot reproduce — registered rows-only;
#     exact equivalences are pinned by unit tests instead
#     (tests/test_dedup_similarity.py: nprobe=n_cells == plain pq_topk).
# --------------------------------------------------------------------------
@query("ann_ivf_pq")
def ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators import similarity as sim

    emb = Catalog(spark, sf_dir).embeddings
    queries = emb.filter(F.col("vec_id") < 5)
    # iterations=1: centroid/codebook TRAINING is an offline step in a real
    # deployment (state is kilobytes, reused across queries); one Lloyd's
    # round here keeps the registered query honest about query-time cost
    # while still exercising the full train→encode→probe→ADC pipeline.
    return sim.ivf_pq_topk(
        emb, queries, n_cells=8, m=4, k_codebook=8, k=5, nprobe=2,
        iterations=1,
    )


# --------------------------------------------------------------------------
# 56c. PQ-ADC scorer with FROZEN codebooks — the oracle-gated half of the
#      IVF-PQ split (the trainer above stays rows-only: iterated k-means
#      floats are not SQL-expressible, but QUERY-TIME scoring under fixed
#      state is plain arithmetic any engine can replay). Codebooks are
#      equal-norm ±0.125 sign patterns (literal-exact binary fractions;
#      equal norms put all the discrimination in the direction term, so
#      codes vary across the corpus — 219 distinct code tuples at sf0.01).
#      Encode = per-subspace argmin of squared distance (round-9 tiebreak
#      by centroid id, matching pq_encode); ADC distance = m table lookups
#      summed, rounded at 6 so a cross-engine ulp in the 4-term sum cannot
#      flip a hashed digit; top-k ordered by (rounded dist, match_id).
# --------------------------------------------------------------------------
_PQ_M, _PQ_SUB, _PQ_K = 4, 16, 4


def _pq_frozen_codebooks() -> list[list[list[float]]]:
    return [
        [
            [
                0.125 * (1 if ((i + 3 * c + j) % 4) < 2 else -1)
                for i in range(_PQ_SUB)
            ]
            for c in range(_PQ_K)
        ]
        for j in range(_PQ_M)
    ]


def _pq_adc_sql() -> str:
    books = _pq_frozen_codebooks()
    vals = ",\n           ".join(
        f"({j}, {c}, [{', '.join(repr(v) for v in books[j][c])}])"
        for j in range(_PQ_M)
        for c in range(_PQ_K)
    )
    return rf"""
    WITH cb(j, c, cv) AS (VALUES {vals}),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    d AS (
        SELECT v.vec_id, cb.j, cb.c,
               list_sum(list_transform(range(1, {_PQ_SUB + 1}),
                   i -> (e[CAST(cb.j * {_PQ_SUB} + i AS INT)] - cv[CAST(i AS INT)])
                      * (e[CAST(cb.j * {_PQ_SUB} + i AS INT)] - cv[CAST(i AS INT)]))) AS d2
        FROM v CROSS JOIN cb),
    codes AS (
        SELECT vec_id, j, c AS code
        FROM (SELECT vec_id, j, c,
                     row_number() OVER (PARTITION BY vec_id, j
                                        ORDER BY round(d2, 9), c) AS rn
              FROM d)
        WHERE rn = 1),
    qd AS (SELECT vec_id AS query_id, j, c, d2 FROM d WHERE vec_id % 50 = 0),
    dist AS (
        SELECT qd.query_id, codes.vec_id AS match_id,
               round(sum(qd.d2), 6) AS adc_dist
        FROM codes JOIN qd ON codes.j = qd.j AND codes.code = qd.c
        WHERE codes.vec_id <> qd.query_id
        GROUP BY qd.query_id, codes.vec_id),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY adc_dist, match_id) AS rn
          FROM dist)
    SELECT query_id, match_id, adc_dist, CAST(rn AS BIGINT) AS rank
    FROM r WHERE rn <= 10
    """


@query("pq_adc_score", _pq_adc_sql())
def pq_adc_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from xena_gdc_etl_spark.operators import similarity as sim

    books = [np.array(b) for b in _pq_frozen_codebooks()]
    emb = Catalog(spark, sf_dir).embeddings
    codes = sim.pq_encode(emb, books)
    queries_df = emb.filter(F.col("vec_id") % 50 == 0)
    return sim.pq_topk(codes, queries_df, books, k=10, round_digits=6)


# --------------------------------------------------------------------------
# 56e. One k-means training ROUND under FROZEN centroid state — the
#      oracle-gated half of the IVF trainer, closing the rows-only gap the
#      same way pq_adc_score closed PQ's: iterated float k-means is not
#      SQL-expressible, but a SINGLE Lloyd round under fixed centroids is
#      plain arithmetic (rounded-6 cosine argmax with smallest-id
#      tiebreak, then a per-cell element-wise mean). Frozen centroids are
#      Walsh sign patterns at ±0.125 (exact binary fractions; mutually
#      orthogonal, so assignments are well-separated and rounded-6 ties
#      are structural, not fp-luck). The updated centroid serializes as a
#      %.6f CSV (the driver's canonicalizer rejects array cells); the
#      ``round(x,6) + 0.0`` on BOTH sides collapses -0.0 → 0.0 before
#      formatting. Empty cells keep their previous (frozen) centroid with
#      n_members = 0, matching ivf_train's keep-previous rule — a unit
#      test pins ivf_train(iterations=1) == ivf_train_step(init state).
# --------------------------------------------------------------------------
_KM_CELLS, _KM_DIM = 8, 64


def _kmeans_frozen_centroids() -> list[list[float]]:
    return [
        [
            0.125 * (1.0 if bin(i & c).count("1") % 2 == 0 else -1.0)
            for i in range(_KM_DIM)
        ]
        for c in range(_KM_CELLS)
    ]


def _kmeans_round_sql(
    cents: "list[list[float]] | None" = None, raw: bool = False
) -> str:
    """One frozen-state Lloyd round as DuckDB SQL. ``cents`` defaults to
    the registered query's Walsh patterns; passing explicit values lets a
    test CHAIN rounds (replay round 1's output as round 2's frozen input
    — tests/test_trainer_composition.py), making the iterated trainer
    inductively oracle-gated. ``raw=True`` emits the updated centroid as
    UNROUNDED DOUBLE[] (exact chaining state — the trainer doesn't round
    intermediates either) instead of the driver-comparable %.6f CSV."""
    if cents is None:
        cents = _kmeans_frozen_centroids()
    k, dim = len(cents), len(cents[0])
    vals = ",\n           ".join(
        f"({c}, [{', '.join(repr(v) for v in cents[c])}])"
        for c in range(k)
    )
    if raw:
        upd = """
    upd AS (
        SELECT centroid_id, array_agg(m ORDER BY i) AS arr
        FROM dims GROUP BY 1)"""
        tail = """
    SELECT c.centroid_id,
           CAST(coalesce(n.n, 0) AS BIGINT) AS n_members,
           coalesce(u.arr, c.cv) AS centroid"""
    else:
        upd = """
    upd AS (
        SELECT centroid_id,
               string_agg(printf('%.6f', round(m, 6) + 0.0), ','
                          ORDER BY i) AS csv
        FROM dims GROUP BY 1)"""
        tail = """
    SELECT c.centroid_id,
           CAST(coalesce(n.n, 0) AS BIGINT) AS n_members,
           coalesce(u.csv,
                    array_to_string(list_transform(c.cv,
                        x -> printf('%.6f', round(x, 6) + 0.0)),
                        ',')) AS centroid_csv"""
    return rf"""
    WITH cents(centroid_id, cv) AS (VALUES {vals}),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings WHERE embedding IS NOT NULL),
    sims AS (
        SELECT v.vec_id, cents.centroid_id,
               round(list_dot_product(e, cv)
                     / (sqrt(list_dot_product(e, e))
                        * sqrt(list_dot_product(cv, cv))), 6) AS sim
        FROM v CROSS JOIN cents),
    assign AS (
        SELECT vec_id, centroid_id
        FROM (SELECT vec_id, centroid_id,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY sim DESC, centroid_id) AS rn
              FROM sims)
        WHERE rn = 1),
    counts AS (SELECT centroid_id, count(*) AS n FROM assign GROUP BY 1),
    dims AS (
        SELECT a.centroid_id, t.i, avg(v.e[CAST(t.i AS INT)]) AS m
        FROM assign a JOIN v USING (vec_id)
        CROSS JOIN range(1, {dim + 1}) t(i)
        GROUP BY 1, 2),{upd}{tail}
    FROM cents c
    LEFT JOIN counts n USING (centroid_id)
    LEFT JOIN upd u USING (centroid_id)
    ORDER BY 1
    """


@query("kmeans_round", _kmeans_round_sql())
def kmeans_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators import similarity as sim

    emb = Catalog(spark, sf_dir).embeddings
    # literal frozen state passed as driver rows: the DataFrame form paid
    # a limit+collect job (plus a k-core-sliced local frame) per call
    # just to round-trip constants the caller already holds
    cents = list(enumerate(_kmeans_frozen_centroids()))
    stepped = sim.ivf_train_step(emb, cents)
    return stepped.select(
        "centroid_id",
        "n_members",
        F.concat_ws(
            ",",
            F.transform(
                "embedding",
                lambda x: F.format_string(
                    "%.6f", F.round(x, 6) + F.lit(0.0)
                ),
            ),
        ).alias("centroid_csv"),
    )


# --------------------------------------------------------------------------
# 56b. Quality-classifier training (fastText-style lightweight filter,
#      trained in-engine): logistic regression over the engine's own
#      quality features, predicting the English-document signal. Each
#      round is ONE job — an Arrow-batched partial gradient folded by a
#      JVM ``sum`` under broadcast weights (plan identical every round,
#      so codegen compiles once); the driver holds d+1 floats. Rows-only
#      like
#      ann_ivf_pq: 20 rounds of float GD are not SQL-expressible — the
#      trainer's numerics are pinned against a driver-side reference
#      implementation in tests/test_logreg.py. The SCORING half is
#      oracle-gated separately (logreg_score below).
# --------------------------------------------------------------------------
@query("quality_logreg")
def quality_logreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators import logreg
    from xena_gdc_etl_spark.operators.text import quality_scores

    docs = Catalog(spark, sf_dir).documents
    feats = quality_scores(docs).join(
        docs.select(
            "doc_id", (F.col("lang") == "en").cast("double").alias("is_en")
        ),
        "doc_id",
    ).select(
        "doc_id",
        "is_en",
        F.least(F.col("n_tokens") / 100.0, F.lit(1.0)).alias("f_len"),
        "punct_ratio",
        "stopword_ratio",
    )
    # materialize the slim feature frame once (4 doubles + id per doc —
    # orders of magnitude under the text) so the 20 gradient rounds fold
    # over the checkpoint instead of re-tokenizing the corpus per round
    feats = feats.localCheckpoint(eager=True)
    fcols = ["f_len", "punct_ratio", "stopword_ratio"]
    w, b = logreg.logistic_train(
        feats, fcols, "is_en", iterations=20, lr=1.0
    )
    return logreg.logistic_predict(feats, w, b, fcols, out_col="p_en").select(
        "doc_id", F.col("is_en").cast("bigint").alias("is_en"), "p_en"
    )


# --------------------------------------------------------------------------
# 56d. Logistic scorer with FROZEN weights — the oracle-gated half of the
#      quality_logreg split: sigmoid of a literal dot product over the
#      engine's quality features is plain arithmetic an oracle can replay
#      (the 20-round GD trainer above stays rows-only / unit-pinned).
#      Weights are exact binary fractions so the literals round-trip
#      bit-identically through both engines; z accumulates left-to-right
#      in both (matching logreg._dot), and the only cross-engine hazard —
#      a possible 1-ulp difference in exp() — is absorbed by the round-6
#      output (the same bound tests/test_logreg.py pins for the trainer).
# --------------------------------------------------------------------------
_LOGREG_W = (1.25, -2.5, 3.0)
_LOGREG_B = -0.75


def _logreg_score_sql() -> str:
    w1, w2, w3 = _LOGREG_W
    return rf"""
    WITH t AS (
        SELECT doc_id, lang, text, length(text) AS n_chars,
               list_filter(string_split_regex(text, '[ \t\n\r\f]+'), x -> x <> '') AS toks
        FROM documents),
    f AS (
        -- UNROUNDED ratios: rounding an intermediate and continuing float
        -- math is not engine-portable (Spark rounds via BigDecimal
        -- HALF_UP, DuckDB via float arithmetic — a knife-edge ratio can
        -- differ by 1 ulp and propagate through exp()); int/int division
        -- is bit-identical in both engines, so only the OUTPUT rounds.
        SELECT doc_id,
               CAST(lang = 'en' AS BIGINT) AS is_en,
               least(length(toks) / 100.0, 1.0) AS f_len,
               (n_chars - length(regexp_replace(text, '[^\w \t\n\r\f]', '', 'g'))) / greatest(n_chars, 1) AS punct_ratio,
               length(list_filter(toks, x -> list_contains({_EN_STOP_SQL}, lower(x)))) / greatest(length(toks), 1) AS stopword_ratio
        FROM t)
    SELECT doc_id, is_en,
           round(1.0 / (1.0 + exp(-({_LOGREG_B!r} + {w1!r} * f_len + {w2!r} * punct_ratio + {w3!r} * stopword_ratio))), 6) AS p_en
    FROM f
    """


@query("logreg_score", _logreg_score_sql())
def logreg_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators import logreg
    from xena_gdc_etl_spark.operators.text import raw_quality_ratios

    docs = Catalog(spark, sf_dir).documents
    # UNROUNDED features into the sigmoid (raw_quality_ratios docstring):
    # the rounded quality_scores columns are for reporting; continuing
    # float math from a rounded intermediate is the engine-portability
    # hazard the oracle mirrors by also skipping the intermediate round.
    # token array STAGED once (repetition_scores discipline): the three
    # features reference it repeatedly and lambda-bearing expressions
    # are opaque to subexpression elimination
    from xena_gdc_etl_spark.operators.text import _tokens

    docs = docs.select(
        "doc_id", "lang", "text", _tokens(F.col("text")).alias("__toks")
    )
    n_toks, punct_ratio, stop_ratio = raw_quality_ratios(
        "text", toks=F.col("__toks")
    )
    feats = docs.select(
        "doc_id",
        (F.col("lang") == "en").cast("bigint").alias("is_en"),
        F.least(n_toks / 100.0, F.lit(1.0)).alias("f_len"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
    )
    return logreg.logistic_predict(
        feats,
        list(_LOGREG_W),
        _LOGREG_B,
        ["f_len", "punct_ratio", "stopword_ratio"],
        out_col="p_en",
    ).select("doc_id", "is_en", "p_en")


# --------------------------------------------------------------------------
# 56f. One logistic-GD ROUND under FROZEN weights — the oracle-gated half
#      of the quality_logreg trainer, mirroring kmeans_round's treatment
#      of the IVF trainer: iterated float GD is not SQL-expressible, but
#      a single round under fixed state is — err = sigmoid(w·x+b) − y
#      (scan-stage Column math under literal weights), then new coef =
#      old − lr·avg(err·x) in ONE partial aggregate. Same frozen
#      binary-fraction weights and unrounded features as logreg_score;
#      the exp() 1-ulp hazard is absorbed by round-6 on the OUTPUT
#      (gradient averages are O(0.1), far from the boundary).
# --------------------------------------------------------------------------
def _logreg_round_sql(
    w: "tuple[float, float, float] | None" = None,
    b: "float | None" = None,
    lr: float = 0.5,
    raw: bool = False,
) -> str:
    """One frozen-state GD round as DuckDB SQL. ``w``/``b`` default to
    the registered query's frozen weights; explicit values let a test
    CHAIN rounds (tests/test_trainer_composition.py — round 1's output
    becomes round 2's frozen state, so ``logistic_train(iterations=2)``
    is gated by pure SQL composition). ``raw=True`` skips the %.6f
    output rounding (exact chaining state)."""
    w1, w2, w3 = _LOGREG_W if w is None else w
    b = _LOGREG_B if b is None else b
    rnd = (lambda e: f"{e}") if raw else (lambda e: f"round({e}, 6)")
    return rf"""
    WITH t AS (
        SELECT doc_id, lang, text, length(text) AS n_chars,
               list_filter(string_split_regex(text, '[ \t\n\r\f]+'), x -> x <> '') AS toks
        FROM documents),
    f AS (
        SELECT doc_id,
               CAST(lang = 'en' AS BIGINT) AS is_en,
               least(length(toks) / 100.0, 1.0) AS f_len,
               (n_chars - length(regexp_replace(text, '[^\w \t\n\r\f]', '', 'g'))) / greatest(n_chars, 1) AS punct_ratio,
               length(list_filter(toks, x -> list_contains({_EN_STOP_SQL}, lower(x)))) / greatest(length(toks), 1) AS stopword_ratio
        FROM t),
    g AS (
        SELECT (1.0 / (1.0 + exp(-({b!r} + {w1!r} * f_len
                                   + {w2!r} * punct_ratio
                                   + {w3!r} * stopword_ratio)))) - is_en AS err,
               f_len, punct_ratio, stopword_ratio
        FROM f)
    SELECT 'bias' AS coef, {rnd(f"{b!r} - {lr!r} * avg(err)")} AS new_value FROM g
    UNION ALL
    SELECT 'f_len', {rnd(f"{w1!r} - {lr!r} * avg(err * f_len)")} FROM g
    UNION ALL
    SELECT 'punct_ratio', {rnd(f"{w2!r} - {lr!r} * avg(err * punct_ratio)")} FROM g
    UNION ALL
    SELECT 'stopword_ratio', {rnd(f"{w3!r} - {lr!r} * avg(err * stopword_ratio)")} FROM g
    """


@query("logreg_round", _logreg_round_sql())
def logreg_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators import logreg
    from xena_gdc_etl_spark.operators.text import raw_quality_ratios

    from xena_gdc_etl_spark.operators.text import _tokens

    docs = Catalog(spark, sf_dir).documents.select(
        "lang", "text", _tokens(F.col("text")).alias("__toks")
    )
    n_toks, punct_ratio, stop_ratio = raw_quality_ratios(
        "text", toks=F.col("__toks")
    )
    feats = docs.select(
        (F.col("lang") == "en").cast("double").alias("is_en"),
        F.least(n_toks / 100.0, F.lit(1.0)).alias("f_len"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
    )
    return logreg.logistic_train_step(
        feats,
        ["f_len", "punct_ratio", "stopword_ratio"],
        "is_en",
        list(_LOGREG_W),
        _LOGREG_B,
        lr=0.5,
    )


# --------------------------------------------------------------------------
# 57. Unigram-LM fluency score (CCNet-style perplexity proxy): mean negative
#     log-probability of each doc's tokens under the corpus's own unigram
#     model. The per-doc tf stage collapses the token stream before any
#     join; vocab and total derive from it without rescanning text.
# --------------------------------------------------------------------------
@query(
    "lm_score",
    r"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '[ \t\n\r\f]+'),
                                  x -> x <> '')) AS tok
        FROM documents),
    tf AS (
        SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
        FROM toks GROUP BY doc_id, tok),
    vocab AS (
        SELECT tok, CAST(sum(tf) AS BIGINT) AS c FROM tf GROUP BY tok),
    total AS (
        SELECT CAST(sum(c) AS BIGINT) AS n FROM vocab)
    SELECT tf.doc_id,
           CAST(sum(tf) AS BIGINT) AS n_tokens,
           CAST(round(sum(tf * (ln(n) - ln(c))) / sum(tf), 6) AS DOUBLE)
               AS lm_score
    FROM tf JOIN vocab USING (tok) CROSS JOIN total
    GROUP BY tf.doc_id
    """,
)
def lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators import text as tx

    return tx.unigram_logprob_scores(
        Catalog(spark, sf_dir).documents, tf=_shared_doc_tf(spark, sf_dir)
    )


# --------------------------------------------------------------------------
# 57b. Bigram-LM fluency (KenLM-style next-token surprise, no smoothing):
#      mean −ln P(w₂|w₁) under the corpus's own bigram counts. Head-word
#      context counts derive from the bigram vocabulary itself — one
#      tokenize pass, aggregate-sized joins only.
# --------------------------------------------------------------------------
@query(
    "bigram_lm_score",
    r"""
    WITH w AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[ \t\n\r\f]+'),
                           x -> x <> '') AS words
        FROM documents),
    b AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(words)),
                                     i -> words[i] || ' ' || words[i+1])) AS bg
        FROM w),
    tf2 AS (SELECT doc_id, bg, CAST(count(*) AS BIGINT) AS tf2
            FROM b GROUP BY doc_id, bg),
    c2 AS (SELECT bg, CAST(sum(tf2) AS BIGINT) AS c2 FROM tf2 GROUP BY bg),
    c1 AS (SELECT string_split(bg, ' ')[1] AS w1, CAST(sum(c2) AS BIGINT) AS c1
           FROM c2 GROUP BY 1)
    SELECT tf2.doc_id,
           CAST(sum(tf2) AS BIGINT) AS n_bigrams,
           CAST(round(sum(tf2 * (ln(c1) - ln(c2))) / sum(tf2), 6) AS DOUBLE)
               AS bigram_lm
    FROM tf2 JOIN c2 USING (bg) JOIN c1 ON string_split(bg, ' ')[1] = c1.w1
    GROUP BY tf2.doc_id
    """,
)
def bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators import text as tx

    return tx.bigram_logprob_scores(Catalog(spark, sf_dir).documents)


# --------------------------------------------------------------------------
# 58. CCNet-style head/middle/tail quality buckets per language. Ranking is
#     integer-only (commonness = Σ tf·c, ties by doc_id) so the split is
#     exact in any engine; the per-language rank comes from the two-pass
#     sharded prefix scan (no single-task per-language window — the oracle
#     keeps ntile, which is the same assignment by construction).
# --------------------------------------------------------------------------
@query(
    "quality_buckets",
    r"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '[ \t\n\r\f]+'),
                                  x -> x <> '')) AS tok
        FROM documents),
    tf AS (
        SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
        FROM toks GROUP BY doc_id, tok),
    vocab AS (
        SELECT tok, CAST(sum(tf) AS BIGINT) AS c FROM tf GROUP BY tok),
    comm AS (
        SELECT tf.doc_id, CAST(sum(tf * c) AS BIGINT) AS commonness
        FROM tf JOIN vocab USING (tok) GROUP BY tf.doc_id)
    SELECT d.doc_id, d.lang, commonness,
           (['head','middle','tail'])[
               ntile(3) OVER (PARTITION BY d.lang
                              ORDER BY commonness DESC, d.doc_id)] AS bucket
    FROM documents d JOIN comm ON d.doc_id = comm.doc_id
    """,
)
def quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators import text as tx

    return tx.commonness_buckets(
        Catalog(spark, sf_dir).documents, tf=_shared_doc_tf(spark, sf_dir)
    )


# --------------------------------------------------------------------------
# 59. Gopher quality-rule profile: per-doc metrics, one flag per rule, and
#     the conjunctive keep decision (Rae et al. 2021 App. A1.1 — public
#     method). Non-filtering twin of quality_filter so the rule-level
#     rejection mix is inspectable. Scan-stage Column math, zero shuffle.
# --------------------------------------------------------------------------
@query(
    "gopher_quality",
    r"""
    WITH w AS (
        SELECT doc_id, text,
               list_filter(string_split_regex(text, '[ \t\n\r\f]+'), x -> x <> '') AS words
        FROM documents),
    m AS (
        SELECT doc_id,
               len(words) AS n_words,
               coalesce(list_sum(list_transform(words, x -> length(x))), 0)
                   / greatest(len(words), 1) AS mean_wlen,
               len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))
                   / greatest(len(words), 1) AS alpha_frac,
               (len(regexp_extract_all(text, '#'))
                + len(regexp_extract_all(text, '\.\.\.')))
                   / greatest(len(words), 1) AS symbol_ratio,
               len(list_filter(words, x -> list_contains(
                   ['the','a','of','and','to','in','is','that','it','for'],
                   lower(x)))) AS n_stop
        FROM w)
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           round(mean_wlen, 6) AS mean_word_len,
           round(alpha_frac, 6) AS alpha_word_frac,
           round(symbol_ratio, 6) AS symbol_word_ratio,
           CAST(n_stop AS BIGINT) AS n_stop_hits,
           n_words >= 50 AND n_words <= 100000 AS pass_words,
           mean_wlen >= 3.0 AND mean_wlen <= 10.0 AS pass_word_len,
           alpha_frac >= 0.8 AS pass_alpha,
           symbol_ratio <= 0.1 AS pass_symbol,
           n_stop >= 2 AS pass_stop,
           (n_words >= 50 AND n_words <= 100000)
             AND (mean_wlen >= 3.0 AND mean_wlen <= 10.0)
             AND alpha_frac >= 0.8 AND symbol_ratio <= 0.1
             AND n_stop >= 2 AS keep
    FROM m
    """,
)
def gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators.text import gopher_rules

    return gopher_rules(Catalog(spark, sf_dir).documents)


# --------------------------------------------------------------------------
# 60. Out-of-vocabulary rate vs the corpus's own top-100 tokens — the
#     tokenizer-coverage diagnostic. The vocabulary (≤100 rows by
#     construction) broadcasts; the token stream shuffles once (per-doc
#     groupBy), never for the probe join.
# --------------------------------------------------------------------------
@query(
    "oov_rate",
    r"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '[ \t\n\r\f]+'),
                                  x -> x <> '')) AS tok
        FROM documents),
    vocab AS (
        SELECT tok FROM toks GROUP BY tok
        ORDER BY count(*) DESC, tok LIMIT 100),
    j AS (
        SELECT t.doc_id, v.tok AS vtok
        FROM toks t LEFT JOIN vocab v ON t.tok = v.tok)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(*) - count(vtok) AS BIGINT) AS n_oov,
           round((count(*) - count(vtok)) / count(*), 6) AS oov_rate
    FROM j GROUP BY doc_id
    """,
)
def oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators.text import oov_rates

    return oov_rates(
        Catalog(spark, sf_dir).documents,
        vocab_size=100,
        tf=_shared_doc_tf(spark, sf_dir),
    )


# --------------------------------------------------------------------------
# 61. Mixture plan toward a uniform source target: token share, sampling
#     rate, epoch count (capped), planned token budget per source — the
#     Pile-style data-mixing arithmetic (Gao et al. 2020 — public method).
#     Corpus scanned once; shuffle traffic is O(sources).
# --------------------------------------------------------------------------
@query(
    "mixture_plan",
    r"""
    WITH t AS (
        SELECT source,
               len(list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
                               x -> x <> '')) AS n_toks
        FROM documents),
    g AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(coalesce(sum(n_toks), 0) AS BIGINT) AS group_tokens
        FROM t GROUP BY source),
    tot AS (
        SELECT CAST(sum(group_tokens) AS BIGINT) AS total,
               CAST(count(*) AS BIGINT) AS n_groups
        FROM g),
    r AS (
        SELECT source, n_docs, group_tokens, total,
               CASE WHEN group_tokens > 0
                    THEN (total / n_groups) / group_tokens
                    ELSE 0.0 END AS ratio
        FROM g CROSS JOIN tot)
    SELECT source, n_docs, group_tokens,
           round(CASE WHEN total > 0 THEN group_tokens / total
                      ELSE 0.0 END, 6) AS token_share,
           round(least(ratio, 1.0), 6) AS sample_rate,
           round(least(ratio, 4.0), 6) AS epochs,
           CAST(floor(group_tokens * least(ratio, 4.0))
                AS BIGINT) AS planned_tokens
    FROM r
    """,
)
def mixture_plan_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators.sampling import mixture_plan
    from xena_gdc_etl_spark.operators.text import _tokens

    docs = Catalog(spark, sf_dir).documents.select(
        "source", F.size(_tokens(F.col("text"))).alias("n_tokens")
    )
    return mixture_plan(docs, "source", "n_tokens", max_epochs=4.0)


# --------------------------------------------------------------------------
# 61b. Temperature-scaled mixture: p_i ∝ q_i^(1/T) over token shares — the
#      multilingual up-weighting scheme (XLM-R / mT5, public method). Same
#      O(sources) plan as mixture_plan: one partial-agg groupBy + a 1-row
#      broadcast total; the corpus is never joined.
# --------------------------------------------------------------------------
@query(
    "mixture_temperature",
    r"""
    WITH t AS (
        SELECT source,
               len(list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
                               x -> x <> '')) AS n_toks
        FROM documents),
    g AS (
        SELECT source,
               CAST(coalesce(sum(n_toks), 0) AS BIGINT) AS group_tokens
        FROM t GROUP BY source),
    p AS (
        SELECT source, group_tokens,
               pow(CAST(group_tokens AS DOUBLE), 0.5) AS pw
        FROM g),
    tot AS (
        SELECT CAST(sum(group_tokens) AS BIGINT) AS total,
               sum(pw) AS ptotal
        FROM p),
    s AS (
        SELECT source, group_tokens,
               CASE WHEN total > 0 THEN group_tokens / total
                    ELSE 0.0 END AS share,
               CASE WHEN ptotal > 0 THEN pw / ptotal
                    ELSE 0.0 END AS tw
        FROM p CROSS JOIN tot)
    SELECT source, group_tokens,
           round(share, 6) AS token_share,
           round(tw, 6) AS temp_weight,
           round(CASE WHEN share > 0 THEN tw / share ELSE 0.0 END, 6)
               AS resample_factor
    FROM s
    """,
)
def mixture_temperature_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators.sampling import mixture_temperature
    from xena_gdc_etl_spark.operators.text import _tokens

    docs = Catalog(spark, sf_dir).documents.select(
        "source", F.size(_tokens(F.col("text"))).alias("n_tokens")
    )
    return mixture_temperature(docs, "source", "n_tokens", temperature=2.0)


# --------------------------------------------------------------------------
# 61c. Cross-source duplication rate: the fraction of each source's docs
#      whose exact text also appears in ANOTHER source — the between-crawl
#      contamination signal (within-source duplicates don't count). Text
#      crosses the wire only as its md5 digest; two hash-keyed shuffles.
# --------------------------------------------------------------------------
@query(
    "cross_source_overlap",
    """
    WITH h AS (SELECT source, md5(text) AS hh FROM documents),
    ph AS (SELECT hh, count(DISTINCT source) AS ns FROM h GROUP BY hh)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_cross_dup,
           round(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END) / count(*), 6)
               AS cross_dup_rate
    FROM h JOIN ph USING (hh)
    GROUP BY source
    """,
)
def cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators.dedup import cross_source_dup_rates

    return cross_source_dup_rates(Catalog(spark, sf_dir).documents)


# --------------------------------------------------------------------------
# 62. Exact-substring duplication marking (Lee et al. 2022 — the posting-
#     list form that distributes where suffix arrays don't): per doc, the
#     count and fraction of its distinct word 8-grams that appear in at
#     least one other document. Two gram-key shuffles, map-side partials.
# --------------------------------------------------------------------------
@query(
    "dup_spans",
    r"""
    WITH w AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[ \t\n\r\f]+'),
                           x -> x <> '') AS words
        FROM documents),
    g AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(range(1, len(words) - 6),
                   i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2] || ' '
                     || words[i+3] || ' ' || words[i+4] || ' ' || words[i+5] || ' '
                     || words[i+6] || ' ' || words[i+7]))) AS gram
        FROM w),
    p AS (SELECT gram, count(*) AS n_docs FROM g GROUP BY gram),
    j AS (SELECT g.doc_id, p.n_docs FROM g JOIN p USING (gram))
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_spans,
           CAST(0 AS BIGINT) AS n_capped,
           round(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) / count(*), 6)
               AS dup_span_frac
    FROM j GROUP BY doc_id
    """,
)
def dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators.dedup import dup_span_stats

    return dup_span_stats(Catalog(spark, sf_dir).documents, n=8)


# --------------------------------------------------------------------------
# 63. Winnowing fingerprints (Schleimer 2003, the MOSS selector): k-gram
#     hashes → sliding window-min → distinct selected prints. Pure Column
#     program — zero shuffles, runs at scan speed at any scale.
# --------------------------------------------------------------------------
@query(
    "winnow_fingerprint",
    r"""
    WITH th AS (
        SELECT doc_id,
               list_transform(
                   list_filter(string_split_regex(lower(text), '[ \t\n\r\f]+'),
                               t -> t <> ''),
                   t -> list_reduce(
                            list_prepend(CAST(0 AS BIGINT),
                                list_transform(
                                    list_filter(string_split(t, ''), c -> c <> ''),
                                    c -> CAST(ascii(c) AS BIGINT))),
                            (a, b) -> (a * 31 + b) % 1000000007)) AS h
        FROM documents),
    g AS (
        SELECT doc_id,
               CASE WHEN len(h) >= 5 THEN
                   list_transform(range(1, len(h) - 5 + 2),
                       i -> list_reduce(
                                list_prepend(CAST(0 AS BIGINT), h[i:i+4]),
                                (a, b) -> (a * 131 + b) % 1000000007))
               ELSE CAST([] AS BIGINT[]) END AS gh
        FROM th),
    m AS (
        SELECT doc_id,
               CASE WHEN len(gh) >= 4 THEN
                        list_sort(list_distinct(
                            list_transform(range(1, len(gh) - 4 + 2),
                                           j -> list_min(gh[j:j+3]))))
                    WHEN len(gh) > 0 THEN [list_min(gh)]
                    ELSE CAST([] AS BIGINT[]) END AS fps
        FROM g)
    SELECT doc_id,
           CAST(len(fps) AS BIGINT) AS n_fingerprints,
           fps[1] AS min_fp,
           list_reduce(list_prepend(CAST(0 AS BIGINT), fps),
                       (a, b) -> (a * 137 + b) % 1000000007) AS fp_digest
    FROM m
    """,
)
def winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators.text import winnow_fingerprints

    return winnow_fingerprints(Catalog(spark, sf_dir).documents, k=5, w=4)


# --------------------------------------------------------------------------
# 63b. Winnow-based verbatim-span decontamination — the MOSS-style
#      complement to `contamination`'s gram-Jaccard fraction: any train
#      doc sharing a ≥ k+w−1 = 8-token substring with the held-out slice
#      shares ≥ 1 winnowed fingerprint, so a single quoted eval sentence
#      is caught even at tiny overall overlap. Both sides fingerprint at
#      scan speed (zero shuffles); one fp-keyed join + per-doc partial
#      agg; held-out side deliberately UNHINTED (AQE decides from its
#      distinct's runtime size — heldout size is caller data).
# --------------------------------------------------------------------------
@query(
    "winnow_contamination",
    r"""
    WITH th AS (
        SELECT doc_id,
               list_transform(
                   list_filter(string_split_regex(lower(text), '[ \t\n\r\f]+'),
                               t -> t <> ''),
                   t -> list_reduce(
                            list_prepend(CAST(0 AS BIGINT),
                                list_transform(
                                    list_filter(string_split(t, ''), c -> c <> ''),
                                    c -> CAST(ascii(c) AS BIGINT))),
                            (a, b) -> (a * 31 + b) % 1000000007)) AS h
        FROM documents),
    g AS (
        SELECT doc_id,
               CASE WHEN len(h) >= 5 THEN
                   list_transform(range(1, len(h) - 5 + 2),
                       i -> list_reduce(
                                list_prepend(CAST(0 AS BIGINT), h[i:i+4]),
                                (a, b) -> (a * 131 + b) % 1000000007))
               ELSE CAST([] AS BIGINT[]) END AS gh
        FROM th),
    m AS (
        SELECT doc_id,
               CASE WHEN len(gh) >= 4 THEN
                        list_sort(list_distinct(
                            list_transform(range(1, len(gh) - 4 + 2),
                                           j -> list_min(gh[j:j+3]))))
                    WHEN len(gh) > 0 THEN [list_min(gh)]
                    ELSE CAST([] AS BIGINT[]) END AS fps
        FROM g),
    tr AS (SELECT doc_id, unnest(fps) AS fp FROM m WHERE doc_id % 10 <> 7),
    hd AS (SELECT DISTINCT unnest(fps) AS fp FROM m WHERE doc_id % 10 = 7),
    j AS (SELECT tr.doc_id,
                 CASE WHEN hd.fp IS NOT NULL THEN 1 END AS hit
          FROM tr LEFT JOIN hd ON tr.fp = hd.fp)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_fps,
           CAST(count(hit) AS BIGINT) AS n_hit,
           round(count(hit) / count(*), 6) AS contam_fp_frac
    FROM j GROUP BY 1
    """,
)
def winnow_contamination_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators.text import winnow_contamination

    docs = Catalog(spark, sf_dir).documents
    return winnow_contamination(
        docs.filter(F.col("doc_id") % 10 != 7),
        docs.filter(F.col("doc_id") % 10 == 7),
        k=5,
        w=4,
    )


# --------------------------------------------------------------------------
# 64. Token chunking with overlap: split docs into fixed-size training
#     windows (size 64, stride 48) with a per-chunk content hash. One
#     generate-explode, shuffle-free.
# --------------------------------------------------------------------------
# --------------------------------------------------------------------------
# 64b. Content-defined chunking: cut after every token whose portable md5
#      fold ≡ 0 (mod 8) — shift-robust chunk boundaries (rsync/FastCDC at
#      word granularity): an insertion re-chunks only the chunks it
#      touches, where fixed-size chunking re-aligns every later chunk and
#      defeats chunk-level dedup. Zero-shuffle scan-stage program.
# --------------------------------------------------------------------------
@query(
    "cdc_chunks",
    r"""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[ \t\n\r\f]+'),
                           x -> x <> '') AS toks
        FROM documents),
    cu AS (
        SELECT doc_id, toks,
               list_filter(range(1, len(toks) + 1),
                           i -> ('0x' || substr(md5(toks[i]), 1, 8))::BIGINT
                                % 8 = 0) AS cuts
        FROM t WHERE len(toks) >= 1),
    sp AS (
        SELECT doc_id, toks,
               list_prepend(1, list_transform(cuts, c -> c + 1)) AS starts,
               list_append(cuts, len(toks)) AS ends
        FROM cu),
    e AS (
        SELECT doc_id, toks, starts, ends,
               unnest(range(1, len(starts) + 1)) AS k
        FROM sp),
    c AS (
        SELECT doc_id, starts[k] AS s, ends[k] AS e2, toks
        FROM e WHERE ends[k] >= starts[k])
    SELECT doc_id,
           CAST(row_number() OVER (PARTITION BY doc_id ORDER BY s) - 1
                AS BIGINT) AS chunk_id,
           CAST(e2 - s + 1 AS BIGINT) AS n_tokens,
           array_to_string(toks[s:e2], ' ') AS chunk
    FROM c
    """,
)
def cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators.text import content_defined_chunks

    return content_defined_chunks(
        Catalog(spark, sf_dir).documents, divisor=8
    )


@query(
    "chunk_documents",
    r"""
    WITH t AS (
        SELECT doc_id,
               list_transform(
                   list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
                               x -> x <> ''),
                   tk -> list_reduce(
                            list_prepend(CAST(0 AS BIGINT),
                                list_transform(
                                    list_filter(string_split(tk, ''), c -> c <> ''),
                                    c -> CAST(ascii(c) AS BIGINT))),
                            (a, b) -> (a * 31 + b) % 1000000007)) AS th
        FROM documents),
    n AS (
        SELECT doc_id, th,
               CASE WHEN len(th) <= 0 THEN 0
                    ELSE 1 + CAST(ceil(greatest(len(th) - 64, 0) / 48.0) AS BIGINT)
               END AS n_chunks
        FROM t),
    e AS (
        SELECT doc_id, th,
               unnest(range(1, n_chunks + 1)) AS chunk_id
        FROM n),
    c AS (
        SELECT doc_id, chunk_id,
               (chunk_id - 1) * 48 + 1 AS start_tok,
               th[((chunk_id - 1) * 48 + 1):((chunk_id - 1) * 48 + 64)] AS ch
        FROM e)
    SELECT doc_id,
           CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(start_tok AS BIGINT) AS start_tok,
           CAST(len(ch) AS BIGINT) AS chunk_len,
           list_reduce(list_prepend(CAST(0 AS BIGINT), ch),
                       (a, b) -> (a * 131 + b) % 1000000007) AS chunk_hash
    FROM c
    """,
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators.text import token_chunks

    return token_chunks(
        Catalog(spark, sf_dir).documents, chunk_size=64, stride=48
    )


# --------------------------------------------------------------------------
# 65. Source vocabulary overlap: pairwise Jaccard of each source's top-100
#     tokens — the "are these two crawls the same distribution?" mixture-
#     planning diagnostic. Sharded per-source rank; everything after the
#     rank filter is broadcast-sized.
# --------------------------------------------------------------------------
@query(
    "vocab_overlap",
    r"""
    WITH tf AS (
        SELECT source, tok, count(*) AS tf
        FROM (SELECT source,
                     unnest(list_filter(
                         string_split_regex(lower(text), '[ \t\n\r\f]+'),
                         t -> t <> '')) AS tok
              FROM documents)
        GROUP BY source, tok),
    top AS (
        SELECT source, tok FROM (
            SELECT source, tok,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY tf DESC, tok) AS r
            FROM tf)
        WHERE r <= 100),
    sz AS (SELECT source, count(*) AS n FROM top GROUP BY source),
    pairs AS (
        SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_common
        FROM top a JOIN top b ON a.tok = b.tok AND a.source < b.source
        GROUP BY 1, 2)
    SELECT sa.source AS source_a,
           sb.source AS source_b,
           CAST(COALESCE(p.n_common, 0) AS BIGINT) AS n_common,
           round(COALESCE(p.n_common, 0)
                 / (sa.n + sb.n - COALESCE(p.n_common, 0)), 6) AS jaccard
    FROM sz sa
    JOIN sz sb ON sa.source < sb.source
    LEFT JOIN pairs p ON p.source_a = sa.source AND p.source_b = sb.source
    """,
)
def vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators.text import source_vocab_overlap

    return source_vocab_overlap(
        Catalog(spark, sf_dir).documents, vocab_k=100
    )


# --------------------------------------------------------------------------
# 66. Heavy-hitter key profile: exact top-20 user_ids by event count with
#     share of total — the skew diagnostic run on a join/groupBy key before
#     shipping the job (pairs with operators/skew.py salted_join). Top-k is
#     TakeOrderedAndProject (per-partition heaps, no global sort shuffle).
# --------------------------------------------------------------------------
@query(
    "heavy_hitters",
    """
    WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id),
    t AS (SELECT sum(cnt) AS total FROM c)
    SELECT user_id, CAST(cnt AS BIGINT) AS cnt, round(cnt / total, 6) AS share
    FROM c, t
    ORDER BY cnt DESC, user_id
    LIMIT 20
    """,
)
def heavy_hitters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators.skew import heavy_hitters

    return heavy_hitters(Catalog(spark, sf_dir).events, ["user_id"], k=20)


# --------------------------------------------------------------------------
# 67. Per-source length-outlier gate: keep docs inside their source's
#     [p5, p95] discrete length-quantile band. Boundaries derive from a
#     per-(source, length) histogram — the cumulative window runs over
#     distinct lengths, never doc counts — and broadcast back; the corpus
#     itself never shuffles.
# --------------------------------------------------------------------------
@query(
    "length_band_filter",
    """
    WITH h AS (
        SELECT source, n_chars, count(*) AS c
        FROM documents GROUP BY source, n_chars),
    cum AS (
        SELECT source, n_chars,
               sum(c) OVER (PARTITION BY source ORDER BY n_chars) AS cum,
               sum(c) OVER (PARTITION BY source) AS n
        FROM h),
    b AS (
        SELECT source,
               min(CASE WHEN cum >= ceil(0.05 * n) THEN n_chars END) AS lo,
               min(CASE WHEN cum >= ceil(0.95 * n) THEN n_chars END) AS hi
        FROM cum GROUP BY source)
    SELECT d.doc_id, d.source, d.n_chars, b.lo, b.hi
    FROM documents d JOIN b USING (source)
    WHERE d.n_chars BETWEEN b.lo AND b.hi
    """,
)
def length_band_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators.sampling import quantile_band_filter

    docs = Catalog(spark, sf_dir).documents.select(
        "doc_id", "source", "n_chars"
    )
    return quantile_band_filter(
        docs, "n_chars", ["source"], lo_p=0.05, hi_p=0.95
    )


# --------------------------------------------------------------------------
# 68. Exact shingle containment over the LSH candidate pairs (Broder 1997):
#     the doc-inside-doc detector — a quote embedded in a long doc scores
#     containment ≈ 1 where Jaccard stays low. Per-candidate only, never
#     all-pairs; two id-keyed hash joins + a pair groupBy.
# --------------------------------------------------------------------------
@query(
    "containment_pairs",
    f"""
    WITH sh AS ({_mh_sql_shingles()}),
    sig AS (SELECT doc_id, {_mh_sql_minexprs()} FROM sh GROUP BY doc_id),
    bk AS (
        SELECT doc_id, 0 AS band, md5(mh0::VARCHAR || '_' || mh1::VARCHAR) AS bucket FROM sig
        UNION ALL
        SELECT doc_id, 1, md5(mh2::VARCHAR || '_' || mh3::VARCHAR) FROM sig
        UNION ALL
        SELECT doc_id, 2, md5(mh4::VARCHAR || '_' || mh5::VARCHAR) FROM sig
        UNION ALL
        SELECT doc_id, 3, md5(mh6::VARCHAR || '_' || mh7::VARCHAR) FROM sig),
    pr AS (
        SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        FROM bk x JOIN bk y ON x.band = y.band AND x.bucket = y.bucket
        WHERE x.doc_id < y.doc_id),
    prs AS (SELECT a, b FROM pr WHERE (a + b) % 50 = 0),
    dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
    sz AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY doc_id),
    it AS (
        SELECT p.a, p.b, count(*) AS n_common
        FROM prs p
        JOIN dsh x ON x.doc_id = p.a
        JOIN dsh y ON y.doc_id = p.b AND y.shingle = x.shingle
        GROUP BY p.a, p.b)
    SELECT p.a, p.b,
           CAST(COALESCE(i.n_common, 0) AS BIGINT) AS n_common,
           CAST(sa.n AS BIGINT) AS n_a,
           CAST(sb.n AS BIGINT) AS n_b,
           round(COALESCE(i.n_common, 0) / sa.n, 6) AS containment_a,
           round(COALESCE(i.n_common, 0) / sb.n, 6) AS containment_b
    FROM prs p
    LEFT JOIN it i ON i.a = p.a AND i.b = p.b
    JOIN sz sa ON sa.doc_id = p.a
    JOIN sz sb ON sb.doc_id = p.b
    """,
)
def containment_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators import dedup as dd

    docs = Catalog(spark, sf_dir).documents
    cands = _shared_lsh_pairs(spark, sf_dir)
    # Query-vs-output discipline (SURVEY §6): the candidate set is what
    # explodes here (~1.4M pairs × per-pair shingle fan-out at sf0.1), so
    # bound it in the QUERY with a deterministic key-sample — the operator
    # itself stays per-candidate-exact for callers that want all pairs.
    cands = cands.filter((F.col("a") + F.col("b")) % 50 == 0)
    # array strategy: the fixture corpus is chunk-bounded, so carrying
    # each doc's distinct-shingle set in its row is safe — and the
    # pair×shingle join fan-out disappears (2.6 s → 0.9 s at sf0.1).
    return dd.containment_pairs(docs, cands, k=5, strategy="array")


# --------------------------------------------------------------------------
# 69. IVF cell label purity: per cell, member count + majority label +
#     purity — the external clustering-quality gate run before trusting an
#     index for semantic dedup or cluster-balanced sampling. Two map-side-
#     partial groupBys off the shared assignment; reduced frame is
#     #cells × #labels regardless of corpus size.
# --------------------------------------------------------------------------
@query(
    "cluster_purity",
    """
    WITH c AS (SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS cv
               FROM embeddings
               WHERE vec_id < (SELECT LEAST(65536, GREATEST(8, CAST(CEIL(COUNT(*) / 250.0)
                                                       AS BIGINT)))
                               FROM embeddings)),
    scored AS (SELECT v.vec_id, v.label, c.centroid_id,
                      round(list_cosine_similarity(CAST(v.embedding AS DOUBLE[]), c.cv), 6) AS sim
               FROM embeddings v, c),
    assigned AS (
        SELECT vec_id, label, centroid_id
        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                           ORDER BY sim DESC, centroid_id) AS rn
              FROM scored)
        WHERE rn = 1),
    per AS (SELECT centroid_id, label, count(*) AS cnt
            FROM assigned GROUP BY 1, 2),
    best AS (
        SELECT centroid_id, label AS majority_label, cnt AS n_majority
        FROM (SELECT *, row_number() OVER (PARTITION BY centroid_id
                                           ORDER BY cnt DESC, label ASC) AS rn
              FROM per)
        WHERE rn = 1),
    tot AS (SELECT centroid_id, sum(cnt) AS n FROM per GROUP BY 1)
    SELECT t.centroid_id,
           CAST(t.n AS BIGINT) AS n_members,
           CAST(b.majority_label AS BIGINT) AS majority_label,
           CAST(b.n_majority AS BIGINT) AS n_majority,
           round(b.n_majority / t.n, 6) AS purity
    FROM tot t JOIN best b USING (centroid_id)
    """,
)
def cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators import similarity as sim

    emb = Catalog(spark, sf_dir).embeddings
    labeled = _shared_ivf_assigned(spark, sf_dir).select(
        "vec_id", "centroid_id"
    ).join(emb.select("vec_id", "label"), "vec_id")
    return sim.cell_label_purity(labeled)


# --------------------------------------------------------------------------
# 70. BM25 retrieval scoring against a fixed query term set — the
#     "pull the docs most about X" slice of a domain-mix build. The tf
#     frame filters to the |Q| query terms FIRST (posting-list slice);
#     df is a |Q|-row broadcast, N/avgdl a 1-row broadcast; ordering by
#     (rounded score desc, doc_id) is deterministic across engines.
# --------------------------------------------------------------------------
_BM25_TERMS = ("vector", "hash", "merge")


@query(
    "bm25_topk",
    rf"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '[ \t\n\r\f]+'),
                                  x -> x <> '')) AS tok
        FROM documents),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
    dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
    stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
    q(tok) AS (VALUES {", ".join(f"('{t}')" for t in _BM25_TERMS)}),
    df AS (SELECT tok, count(*) AS df FROM tf JOIN q USING (tok) GROUP BY 1),
    scored AS (
        SELECT t.doc_id,
               sum(ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
                   * t.tf * (1.2 + 1)
                   / (t.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl))
               ) AS score
        FROM tf t JOIN q USING (tok) JOIN df d USING (tok)
        JOIN dl l USING (doc_id) CROSS JOIN stats s
        GROUP BY 1)
    SELECT doc_id, round(score, 6) AS bm25
    FROM scored
    ORDER BY round(score, 6) DESC, doc_id
    LIMIT 50
    """,
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators import text as tx

    docs = Catalog(spark, sf_dir).documents
    scored = tx.bm25_scores(
        docs, list(_BM25_TERMS), tf=_shared_doc_tf(spark, sf_dir)
    )
    return scored.orderBy(F.col("bm25").desc(), "doc_id").limit(50)


# --------------------------------------------------------------------------
# 71. Per-source PII density rollup — the corpus diagnostic that decides
#     which sources need scrubbing (or dropping) before a mix freeze.
#     Reuses scrub_pii's counts (codegen JVM regex); one partial-agged
#     groupBy over the per-doc counts.
# --------------------------------------------------------------------------
@query(
    "pii_rate",
    r"""
    WITH per AS (
        SELECT source, n_chars,
               length(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS ne,
               length(regexp_extract_all(text, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS ni,
               length(regexp_extract_all(text, '\+?\d[\d\- ]{7,}\d')) AS np
        FROM documents)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN ne + ni + np > 0 THEN 1 ELSE 0 END) AS BIGINT) AS pii_docs,
           CAST(sum(ne + ni + np) AS BIGINT) AS pii_hits,
           round(sum(ne + ni + np) * 1000.0 / sum(n_chars), 6) AS pii_per_kchar
    FROM per GROUP BY 1
    """,
)
def pii_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators.text import scrub_pii

    docs = Catalog(spark, sf_dir).documents
    per = scrub_pii(docs, keep_cols=("source", "n_chars"))
    hits = F.col("n_email") + F.col("n_ipv4") + F.col("n_phone")
    return per.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum((hits > 0).cast("int")).cast("bigint").alias("pii_docs"),
        F.sum(hits).cast("bigint").alias("pii_hits"),
        F.round(F.sum(hits) * 1000.0 / F.sum("n_chars"), 6).alias(
            "pii_per_kchar"
        ),
    )


# --------------------------------------------------------------------------
# 72. Embedding norm outliers — the vector-side health screen (collapsed
#     or exploded embeddings distort IVF cells and cosine thresholds).
#     One scan for the norm, a broadcast 1-row mean/stddev, no corpus
#     shuffle.
# --------------------------------------------------------------------------
@query(
    "embedding_norm_outliers",
    """
    WITH n AS (
        SELECT vec_id,
               sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings WHERE embedding IS NOT NULL),
    s AS (SELECT avg(nrm) AS mu, stddev_samp(nrm) AS sd FROM n)
    SELECT vec_id,
           round(nrm, 6) AS norm,
           round((nrm - mu) / sd, 6) AS z,
           CAST(CASE WHEN abs((nrm - mu) / sd) > 2.0 THEN 1 ELSE 0 END AS INT)
               AS is_outlier
    FROM n CROSS JOIN s
    """,
)
def embedding_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators import similarity as sim

    return sim.norm_outliers(Catalog(spark, sf_dir).embeddings)


# --------------------------------------------------------------------------
# 73. Prefix dedup — duplicate groups keyed by the digest of the first
#     128 NORMALIZED characters (the cheap boilerplate-header catcher
#     CCNet-style pipelines run before the full MinHash pass; docs that
#     differ only past their shared preamble group together). Same
#     digest-only shuffle economics as dedup_exact.
# --------------------------------------------------------------------------
@query(
    "prefix_dup",
    r"""
    SELECT md5(substring(trim(regexp_replace(regexp_replace(lower(text),
                 '[^a-z0-9 \t\n\r\f]', '', 'g'), '[ \t\n\r\f]+', ' ', 'g')),
               1, 128)) AS content_hash,
           CAST(min(doc_id) AS BIGINT) AS keep_id,
           CAST(count(*) AS BIGINT) AS n_dups
    FROM documents GROUP BY 1
    """,
)
def prefix_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators import dedup as dd

    docs = spread(Catalog(spark, sf_dir).documents)
    return dd.dedup_exact(
        docs.withColumn(
            "text", F.substring(dd.normalize_text("text"), 1, 128)
        )
    )


# --------------------------------------------------------------------------
# 74. Per-source language mix — docs per (source, lang), Shannon entropy
#     of the distribution, and the majority language with its share. The
#     mixture-planning diagnostic for multilingual corpora. Two partial-
#     agged groupBys over counts; the per-source total joins back on a
#     frame of |sources| rows.
# --------------------------------------------------------------------------
@query(
    "source_lang_entropy",
    """
    WITH sl AS (SELECT source, lang, count(*) AS cnt
                FROM documents GROUP BY 1, 2),
    tot AS (SELECT source, sum(cnt) AS n FROM sl GROUP BY 1),
    ent AS (
        SELECT sl.source,
               round(-sum((cnt * 1.0 / n) * ln(cnt * 1.0 / n)), 6) AS lang_entropy,
               CAST(count(*) AS BIGINT) AS n_langs
        FROM sl JOIN tot USING (source) GROUP BY 1),
    top AS (
        SELECT source, lang AS top_lang, cnt
        FROM (SELECT *, row_number() OVER (PARTITION BY source
                                           ORDER BY cnt DESC, lang) AS rn
              FROM sl)
        WHERE rn = 1)
    SELECT e.source,
           CAST(t2.n AS BIGINT) AS n_docs,
           e.n_langs,
           e.lang_entropy,
           t.top_lang,
           round(t.cnt * 1.0 / t2.n, 6) AS top_share
    FROM ent e JOIN top t USING (source) JOIN tot t2 USING (source)
    """,
)
def source_lang_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = Catalog(spark, sf_dir).documents
    sl = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    tot = sl.groupBy("source").agg(F.sum("cnt").alias("n"))
    joined = sl.join(F.broadcast(tot), "source")
    p = F.col("cnt") / F.col("n")
    ent = joined.groupBy("source").agg(
        F.round(-F.sum(p * F.log(p)), 6).alias("lang_entropy"),
        F.count(F.lit(1)).cast("bigint").alias("n_langs"),
    )
    w = Window.partitionBy("source").orderBy(F.col("cnt").desc(), "lang")
    top = (
        joined.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "source",
            F.col("lang").alias("top_lang"),
            F.round(F.col("cnt") / F.col("n"), 6).alias("top_share"),
            F.col("n").cast("bigint").alias("n_docs"),
        )
    )
    return ent.join(top, "source").select(
        "source", "n_docs", "n_langs", "lang_entropy", "top_lang",
        "top_share",
    )


# --------------------------------------------------------------------------
# 75. Chunk-level duplicate rate per source — sub-document boilerplate
#     measurement: disjoint 64-token chunks (stride = size), duplicate
#     share = 1 − distinct/total chunk hashes. Docs that exact-dedup
#     clean can still be 40% shared paragraphs; this is the diagnostic
#     that catches it. Chunks carry only (source, hash) into the agg.
# --------------------------------------------------------------------------
@query(
    "chunk_dedup_rate",
    r"""
    WITH t AS (
        SELECT doc_id, source,
               list_transform(
                   list_filter(string_split_regex(text, '[ \t\n\r\f]+'),
                               x -> x <> ''),
                   tk -> list_reduce(
                            list_prepend(CAST(0 AS BIGINT),
                                list_transform(
                                    list_filter(string_split(tk, ''), c -> c <> ''),
                                    c -> CAST(ascii(c) AS BIGINT))),
                            (a, b) -> (a * 31 + b) % 1000000007)) AS th
        FROM documents),
    n AS (
        SELECT doc_id, source, th,
               CASE WHEN len(th) <= 0 THEN 0
                    ELSE 1 + CAST(ceil(greatest(len(th) - 64, 0) / 64.0) AS BIGINT)
               END AS n_chunks
        FROM t),
    e AS (SELECT doc_id, source, th,
                 unnest(range(1, n_chunks + 1)) AS chunk_id
          FROM n),
    c AS (
        SELECT source,
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       th[((chunk_id - 1) * 64 + 1):((chunk_id - 1) * 64 + 64)]),
                   (a, b) -> (a * 131 + b) % 1000000007) AS chunk_hash
        FROM e)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(count(DISTINCT chunk_hash) AS BIGINT) AS n_distinct,
           round(1.0 - count(DISTINCT chunk_hash) * 1.0 / count(*), 6)
               AS dup_rate
    FROM c GROUP BY 1
    """,
)
def chunk_dedup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators.text import token_chunks

    docs = Catalog(spark, sf_dir).documents
    chunks = token_chunks(docs, chunk_size=64, stride=64)
    return (
        chunks.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.count_distinct("chunk_hash").cast("bigint").alias(
                "n_distinct"
            ),
            F.round(
                1.0
                - F.count_distinct("chunk_hash")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("dup_rate"),
        )
    )


# --------------------------------------------------------------------------
# 76. Duplicate-cluster size histogram — the shape report on the LSH
#     connected components (how much of the corpus sits in 2-member
#     pairs vs boilerplate mega-clusters) that decides keep-policy and
#     cap tuning. Two partial-agged groupBys over the shared cluster
#     labels; reduced frame = #distinct sizes.
# --------------------------------------------------------------------------
@query(
    "dup_cluster_stats",
    f"""
    WITH RECURSIVE sh AS ({_mh_sql_shingles()}),
    sig AS (SELECT doc_id, {_mh_sql_minexprs()} FROM sh GROUP BY doc_id),
    bk AS (
        SELECT doc_id, 0 AS band, md5(mh0::VARCHAR || '_' || mh1::VARCHAR) AS bucket FROM sig
        UNION ALL
        SELECT doc_id, 1, md5(mh2::VARCHAR || '_' || mh3::VARCHAR) FROM sig
        UNION ALL
        SELECT doc_id, 2, md5(mh4::VARCHAR || '_' || mh5::VARCHAR) FROM sig
        UNION ALL
        SELECT doc_id, 3, md5(mh6::VARCHAR || '_' || mh7::VARCHAR) FROM sig),
    pr AS (
        SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        FROM bk x JOIN bk y ON x.band = y.band AND x.bucket = y.bucket
        WHERE x.doc_id < y.doc_id),
    ed AS (SELECT a AS src, b AS dst FROM pr UNION SELECT b, a FROM pr),
    reach(node, lab) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, r.lab FROM reach r JOIN ed e ON e.src = r.node),
    cl AS (SELECT node AS doc_id, min(lab) AS cluster_id
           FROM reach GROUP BY node),
    sz AS (SELECT cluster_id, count(*) AS cluster_size
           FROM cl GROUP BY 1)
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(cluster_size * count(*) AS BIGINT) AS n_docs
    FROM sz GROUP BY cluster_size
    """,
)
def dup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    clusters = _clusters_df(spark, sf_dir)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1)))
        .cast("bigint")
        .alias("n_docs"),
    ).select(
        F.col("cluster_size").cast("bigint").alias("cluster_size"),
        "n_clusters",
        "n_docs",
    )


# --------------------------------------------------------------------------
# 77. Adjacent-bigram PMI collocations — phrase mining for tokenizer /
#     vocab work (which word pairs behave as units). PMI = ln of the
#     bigram's probability over its unigrams' independence expectation;
#     min-support 5 cuts the noise tail. The bigram expansion is a
#     zero-shuffle zip of two array slices; unigram marginals reuse the
#     shared tf frame; the two totals are 1-row broadcasts. Identical
#     ln-term association on both engines; round-6 output.
# --------------------------------------------------------------------------
@query(
    "cooccurrence_pmi",
    r"""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[ \t\n\r\f]+'),
                           x -> x <> '') AS toks
        FROM documents),
    uni AS (
        SELECT tok, count(*) AS c FROM (SELECT unnest(toks) AS tok FROM t)
        GROUP BY 1),
    n_uni AS (SELECT sum(c) AS n FROM uni),
    bi AS (
        SELECT z[1] AS tok_a, z[2] AS tok_b, count(*) AS c_ab
        FROM (SELECT unnest(list_zip(toks[1:len(toks) - 1],
                                     toks[2:len(toks)])) AS z
              FROM t WHERE len(toks) >= 2) zz
        GROUP BY 1, 2),
    n_bi AS (SELECT sum(c_ab) AS n FROM bi),
    scored AS (
        SELECT tok_a, tok_b, c_ab,
               ln(c_ab * 1.0 / n_bi.n)
                 - ln(ua.c * 1.0 / n_uni.n)
                 - ln(ub.c * 1.0 / n_uni.n) AS pmi
        FROM bi
        JOIN uni ua ON ua.tok = bi.tok_a
        JOIN uni ub ON ub.tok = bi.tok_b
        CROSS JOIN n_uni CROSS JOIN n_bi
        WHERE c_ab >= 5)
    SELECT tok_a, tok_b, CAST(c_ab AS BIGINT) AS c_ab,
           round(pmi, 6) AS pmi
    FROM scored
    ORDER BY round(pmi, 6) DESC, tok_a, tok_b
    LIMIT 50
    """,
)
def cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators.text import WS_RE

    docs = Catalog(spark, sf_dir).documents
    toks = F.array_remove(
        F.split(F.lower(F.col("text")), WS_RE), ""
    )
    staged = docs.select(toks.alias("__toks")).filter(
        F.size("__toks") >= 2
    )
    # arrays_zip, not zip_with-with-lambda: same (tok_a, tok_b) stream,
    # but arrays_zip is a regular codegen expression while lambda bodies
    # stay interpreted per element (the round-18 ngram_structs finding;
    # size >= 2 is already guaranteed by the filter above, so the slice
    # lengths are never negative).
    pairs = staged.select(
        F.explode(
            F.arrays_zip(
                F.slice("__toks", 1, F.size("__toks") - 1),
                F.slice("__toks", 2, F.size("__toks") - 1),
            )
        ).alias("p")
    ).select(
        F.col("p")["0"].alias("tok_a"), F.col("p")["1"].alias("tok_b")
    )
    bi = pairs.groupBy("tok_a", "tok_b").agg(
        F.count(F.lit(1)).alias("c_ab")
    )
    tf = _shared_doc_tf(spark, sf_dir)
    uni = tf.groupBy("tok").agg(F.sum("tf").alias("c"))
    # Scalar totals derived from the CACHED tf frame instead of
    # re-aggregating uni / re-running the bigram explode+groupBy subtree
    # a second time (the r17 plan evaluated `bi` twice — once for the
    # join, once just to sum it; 11 exchanges → 7, round 18):
    #   Σ c over uni            == Σ tf                    (same integers)
    #   Σ c_ab over bi          == Σ_docs max(len(toks)-1, 0)
    #                           == Σ tf − count(distinct doc_id)
    # (every doc present in tf has ≥ 1 token, so each contributes
    # len−1; zero-token docs are absent and contribute 0 to both sides).
    # The identity assumes doc_id uniquely identifies a document row —
    # the Catalog's contract, oracle-verified for the registered data.
    # Duplicate doc_ids (dirty ingest) would merge in tf and make __nb
    # read len1+len2−1 instead of (len1−1)+(len2−1); an ingest-robust
    # variant would derive Σ greatest(len−1, 0) per row instead.
    n_uni = tf.agg(F.sum("tf").alias("__nu"))
    n_bi = tf.agg(
        (F.sum("tf") - F.count_distinct("doc_id")).alias("__nb")
    )
    pmi = (
        F.log(F.col("c_ab") * 1.0 / F.col("__nb"))
        - F.log(F.col("ca") * 1.0 / F.col("__nu"))
        - F.log(F.col("cb") * 1.0 / F.col("__nu"))
    )
    return (
        bi.filter(F.col("c_ab") >= 5)
        .join(uni.select(F.col("tok").alias("tok_a"), F.col("c").alias("ca")), "tok_a")
        .join(uni.select(F.col("tok").alias("tok_b"), F.col("c").alias("cb")), "tok_b")
        .join(F.broadcast(n_uni))
        .join(F.broadcast(n_bi))
        .select(
            "tok_a",
            "tok_b",
            F.col("c_ab").cast("bigint").alias("c_ab"),
            F.round(pmi, 6).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "tok_a", "tok_b")
        .limit(50)
    )


# --------------------------------------------------------------------------
# 77b. BPE tokenizer-training round (Sennrich 2016): under the FROZEN
#      round-1 state (character vocab + </w> end-of-word marker), count
#      adjacent symbol pairs weighted by corpus word frequency and emit
#      the deterministic top-20 merge candidates. Completes the
#      tokenizer-training story vocab_topk / cooccurrence_pmi feed: all
#      work runs on the vocabulary frame off the shared tf artifact —
#      the token stream is never re-read — and the only shuffle is the
#      partial-agg pair groupBy (distinct adjacent pairs ≲ a few ×
#      vocab). The iterated trainer (bpe_train) is pinned against a
#      pure-Python textbook reference in tests/test_bpe.py, the same
#      one-round-oracle / iterated-test split as kmeans_round.
# --------------------------------------------------------------------------
@query(
    "bpe_merge_round",
    r"""
    WITH toks AS (
        SELECT unnest(list_filter(
                   string_split_regex(lower(text), '[ \t\n\r\f]+'),
                   x -> x <> '')) AS tok
        FROM documents),
    wf AS (SELECT tok, count(*) AS freq FROM toks GROUP BY tok),
    idx AS (
        SELECT tok, freq,
               unnest(range(1, CAST(length(tok) AS BIGINT) + 1)) AS i
        FROM wf),
    pairs AS (
        SELECT substr(tok, CAST(i AS INT), 1) AS lhs,
               CASE WHEN i < length(tok)
                    THEN substr(tok, CAST(i AS INT) + 1, 1)
                    ELSE '</w>' END AS rhs,
               freq
        FROM idx),
    counts AS (
        SELECT lhs, rhs, CAST(sum(freq) AS BIGINT) AS pair_count
        FROM pairs GROUP BY 1, 2)
    SELECT lhs, rhs, pair_count,
           CAST(row_number() OVER (ORDER BY pair_count DESC, lhs, rhs)
                AS BIGINT) AS rnk
    FROM counts
    ORDER BY pair_count DESC, lhs, rhs
    LIMIT 20
    """,
)
def bpe_merge_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators import bpe

    tf = _shared_doc_tf(spark, sf_dir)
    wf = tf.groupBy("tok").agg(F.sum("tf").alias("freq"))
    return bpe.bpe_merge_round(wf, merges=(), k=20, word_col="tok")


# --------------------------------------------------------------------------
# 78. PQ recall gate — ann_recall_eval's twin for the PQ/ADC layout:
#     recall@10 of the frozen-codebook ADC ranking against the exact
#     squared-L2 top-10 (ADC approximates Euclidean, so Euclidean is the
#     honest baseline, not cosine). This is the accept/reject gate for a
#     trained codebook before it ships. The exact half runs on the fixed
#     query sample (brute force IS the baseline; deployment runs it on a
#     pinned sample — caller choice, same posture as ann_recall_eval).
# --------------------------------------------------------------------------
def _pq_recall_sql() -> str:
    # reuse the pq_adc CTE chain, then intersect with the exact-L2 top-10
    books = _pq_frozen_codebooks()
    vals = ",\n           ".join(
        f"({j}, {c}, [{', '.join(repr(v) for v in books[j][c])}])"
        for j in range(_PQ_M)
        for c in range(_PQ_K)
    )
    return rf"""
    WITH cb(j, c, cv) AS (VALUES {vals}),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    d AS (
        SELECT v.vec_id, cb.j, cb.c,
               list_sum(list_transform(range(1, {_PQ_SUB + 1}),
                   i -> (e[CAST(cb.j * {_PQ_SUB} + i AS INT)] - cv[CAST(i AS INT)])
                      * (e[CAST(cb.j * {_PQ_SUB} + i AS INT)] - cv[CAST(i AS INT)]))) AS d2
        FROM v CROSS JOIN cb),
    codes AS (
        SELECT vec_id, j, c AS code
        FROM (SELECT vec_id, j, c,
                     row_number() OVER (PARTITION BY vec_id, j
                                        ORDER BY round(d2, 9), c) AS rn
              FROM d)
        WHERE rn = 1),
    qd AS (SELECT vec_id AS query_id, j, c, d2 FROM d WHERE vec_id % 50 = 0),
    adc AS (
        SELECT query_id, match_id FROM (
            SELECT dist.*, row_number() OVER (PARTITION BY query_id
                                              ORDER BY adc_dist, match_id) AS rn
            FROM (SELECT qd.query_id, codes.vec_id AS match_id,
                         round(sum(qd.d2), 6) AS adc_dist
                  FROM codes JOIN qd ON codes.j = qd.j AND codes.code = qd.c
                  WHERE codes.vec_id <> qd.query_id
                  GROUP BY qd.query_id, codes.vec_id) dist)
        WHERE rn <= 10),
    q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id % 50 = 0),
    exact AS (
        SELECT query_id, match_id FROM (
            SELECT s.*, row_number() OVER (PARTITION BY query_id
                                           ORDER BY d2, match_id) AS rn
            FROM (SELECT q.query_id, v.vec_id AS match_id,
                         round(list_sum(list_transform(range(1, {_PQ_M * _PQ_SUB + 1}),
                             i -> (q.qe[CAST(i AS INT)] - v.e[CAST(i AS INT)])
                                * (q.qe[CAST(i AS INT)] - v.e[CAST(i AS INT)]))), 6) AS d2
                  FROM q, v WHERE v.vec_id <> q.query_id) s)
        WHERE rn <= 10),
    hits AS (
        SELECT a.query_id, CAST(count(*) AS BIGINT) AS n_hits
        FROM adc a JOIN exact e
          ON e.query_id = a.query_id AND e.match_id = a.match_id
        GROUP BY a.query_id)
    SELECT q.query_id,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           round(coalesce(h.n_hits, 0) / 10, 6) AS recall_at_10
    FROM q LEFT JOIN hits h ON h.query_id = q.query_id
    """


@query("ann_pq_recall_eval", _pq_recall_sql())
def ann_pq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from xena_gdc_etl_spark.operators import similarity as sim

    books = [np.array(b) for b in _pq_frozen_codebooks()]
    emb = Catalog(spark, sf_dir).embeddings
    queries_df = emb.filter(F.col("vec_id") % 50 == 0)
    adc = sim.pq_topk(
        sim.pq_encode(emb, books), queries_df, books, k=10, round_digits=6
    ).select("query_id", "match_id")
    # exact squared-L2 ground truth via the GEMM top-k operator. The
    # original shape broadcast the queries into an interpreted zip_with
    # nested loop — Θ(|Q|·N) higher-order folds that the round-14 100×
    # lane measured at e=1.26 SUPER-linear (657 s / 800M folds); the
    # same FLOPs in sq_l2_topk's BLAS batch stage are e≈0.5 and the
    # (rounded d2 asc, id asc) top-10 set is identical.
    q = queries_df.select(F.col("vec_id").alias("query_id"))
    exact = sim.sq_l2_topk(
        emb, queries_df, k=10, round_digits=6
    ).select("query_id", "match_id")
    hits = exact.join(adc, ["query_id", "match_id"]).groupBy(
        "query_id"
    ).agg(F.count(F.lit(1)).alias("__n"))
    return (
        q.select("query_id")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("__n", F.lit(0)).cast("bigint").alias("n_hits"),
            F.round(F.coalesce("__n", F.lit(0)) / 10, 6).alias(
                "recall_at_10"
            ),
        )
    )


# --------------------------------------------------------------------------
# 79. Salted enrichment join + rollup — the manual hot-key scatter
#     (operators/skew.py) registered under the driver gate: the event
#     stream's skewed user key joins the customer dim with an explicit
#     n_salts=8 scatter (deterministic row-hash salt on the big side,
#     exploded replicas on the dim side), proving salted results ==
#     plain-join results against the oracle. AQE's skew handler covers
#     sort-merge joins; the manual scatter is the tool for the cases it
#     doesn't reach (broadcast-ineligible dims, stateful stages).
# --------------------------------------------------------------------------
@query(
    "salted_event_enrich",
    """
    SELECT e.user_id, c.c_name,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(e.value), 4) AS total_value
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY 1, 2
    """,
)
def salted_event_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators.skew import salted_join

    cat = Catalog(spark, sf_dir)
    events = cat.events.select("user_id", "value")
    dim = cat.customer.select(
        F.col("c_custkey").alias("user_id"), "c_name"
    )
    return (
        salted_join(events, dim, ["user_id"], n_salts=8)
        .groupBy("user_id", "c_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


# --------------------------------------------------------------------------
# 73b. Suffix dedup — the boilerplate-FOOTER catcher, symmetric to
#      prefix_dup: duplicate groups keyed by the digest of the last 128
#      normalized characters (license blocks, signature footers, SEO
#      tails). Same digest-only shuffle economics as dedup_exact;
#      right() has identical shorter-than-n semantics in both engines.
#      BOUNDED RAW TAIL (round-12): the normalization regex runs over
#      right(text, 1024), not the whole text — per-doc work is O(1024)
#      regardless of doc length (the full scan made this the
#      second-heaviest 100x row at 45.8s with nothing past the last
#      ~few hundred chars contributing to the key). Edge case, by
#      design: a doc whose last 1024 RAW chars normalize to <128 chars
#      (a >896-char punctuation/whitespace run at the tail) hashes its
#      shorter residue — groups still form consistently under the same
#      bounded rule on both engines; on this corpus (max doc 577 chars)
#      the bound is inert and the groups are measured IDENTICAL to the
#      full-scan variant (BASELINE §suffix-tail).
# --------------------------------------------------------------------------
@query(
    "suffix_dup",
    r"""
    SELECT md5(right(trim(regexp_replace(regexp_replace(
                 lower(right(text, 1024)),
                 '[^a-z0-9 \t\n\r\f]', '', 'g'), '[ \t\n\r\f]+', ' ', 'g')),
               128)) AS content_hash,
           CAST(min(doc_id) AS BIGINT) AS keep_id,
           CAST(count(*) AS BIGINT) AS n_dups
    FROM documents GROUP BY 1
    """,
)
def suffix_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators import dedup as dd

    docs = spread(Catalog(spark, sf_dir).documents)
    return dd.dedup_exact(
        docs.withColumn(
            "text",
            F.right(
                dd.normalize_text(F.right(F.col("text"), F.lit(1024))),
                F.lit(128),
            ),
        )
    )


# --------------------------------------------------------------------------
# 80. Per-source Jensen–Shannon divergence vs the corpus unigram mix —
#     the mixture diagnostic that says WHICH sources are linguistically
#     far from the blend (a source whose JSD jumps between snapshots is
#     a crawl/extraction regression; a source far above its peers gets
#     its mixture weight revisited). JSD(P_s ‖ Q) with Q = the corpus
#     distribution, decomposed so only the source's OWN tokens are ever
#     enumerated: the Σ over tokens absent from the source collapses to
#     ln(2)·(1 − Σ_{t∈s} q_t). Plan: the shared (doc,tok,tf) frame rolls
#     up to (source, tok) and (tok) aggregates; one tok-keyed join
#     (vocab-scale both sides, orders of magnitude under the token
#     stream), per-source totals broadcast, one partial-agged groupBy.
# --------------------------------------------------------------------------
@query(
    "source_jsd",
    r"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '[ \t\n\r\f]+'),
                                  x -> x <> '')) AS tok
        FROM documents),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
    st AS (SELECT d.source, t.tok, sum(t.tf) AS stf
           FROM tf t JOIN documents d USING (doc_id) GROUP BY 1, 2),
    corpus AS (SELECT tok, sum(stf) AS ctf FROM st GROUP BY 1),
    ns AS (SELECT source, sum(stf) AS ns FROM st GROUP BY 1),
    tot AS (SELECT sum(ctf) AS n FROM corpus),
    j AS (SELECT st.source,
                 st.stf / ns.ns AS p,
                 corpus.ctf / tot.n AS q
          FROM st JOIN corpus USING (tok) JOIN ns USING (source)
          CROSS JOIN tot),
    agg AS (SELECT source,
                   sum(p * ln(p / ((p + q) / 2))) AS kl_p,
                   sum(q * ln(q / ((p + q) / 2))) AS kl_q_in,
                   sum(q) AS q_in
            FROM j GROUP BY 1)
    SELECT a.source,
           CAST(ns.ns AS BIGINT) AS n_tokens,
           round(0.5 * kl_p + 0.5 * (kl_q_in + ln(2) * (1.0 - q_in)), 6) AS jsd
    FROM agg a JOIN ns USING (source)
    """,
)
def source_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators.seams import seam

    tf = _shared_doc_tf(spark, sf_dir)
    src = Catalog(spark, sf_dir).documents.select("doc_id", "source")
    # THREE consumers read the (source, tok, stf) rollup (the corpus
    # rollup, the per-source totals, and the final join) — without the
    # seam the tf-join + groupBy ran ~3x (the one place the house
    # shared-intermediate rule wasn't applied; round-11 verdict). The
    # frame is vocab x sources scale — kilobytes per source — so the
    # eager fill is cheap and every consumer reads the cached rollup.
    st = seam(
        tf.join(src, "doc_id")
        .groupBy("source", "tok")
        .agg(F.sum("tf").alias("stf"))
    )
    corpus = st.groupBy("tok").agg(F.sum("stf").alias("ctf"))
    ns = st.groupBy("source").agg(F.sum("stf").alias("ns"))
    tot = corpus.agg(F.sum("ctf").alias("n"))
    p = F.col("stf") / F.col("ns")
    q = F.col("ctf") / F.col("n")
    m = (p + q) / 2
    agg = (
        st.join(corpus, "tok")
        .join(F.broadcast(ns), "source")
        .join(F.broadcast(tot))
        .groupBy("source")
        .agg(
            F.sum(p * F.log(p / m)).alias("kl_p"),
            F.sum(q * F.log(q / m)).alias("kl_q_in"),
            F.sum(q).alias("q_in"),
        )
    )
    import math

    return agg.join(F.broadcast(ns), "source").select(
        "source",
        F.col("ns").cast("bigint").alias("n_tokens"),
        F.round(
            0.5 * F.col("kl_p")
            + 0.5 * (F.col("kl_q_in") + math.log(2.0) * (1.0 - F.col("q_in"))),
            6,
        ).alias("jsd"),
    )


# --------------------------------------------------------------------------
# 81. Per-source Zipf slope — fit ln(tf) ~ ln(rank) over each source's
#     top-500 tokens with an IN-ENGINE regression aggregate (regr_slope,
#     codegen partial-aggregable in both engines). Natural text sits near
#     slope −1; a source far off (−0.5: templated/boilerplate token mix;
#     −2: degenerate vocabulary) is a crawl/extraction regression the
#     corpus-health dashboard should flag. The per-source rank uses the
#     house SHARDED prefix-scan rank (operators/prefix.group_row_number)
#     — a plain per-source window would single-task each source's whole
#     vocabulary at corpus scale.
# --------------------------------------------------------------------------
@query(
    "zipf_slope",
    r"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '[ \t\n\r\f]+'),
                                  x -> x <> '')) AS tok
        FROM documents),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
    st AS (SELECT d.source, t.tok, sum(t.tf) AS stf
           FROM tf t JOIN documents d USING (doc_id) GROUP BY 1, 2),
    ranked AS (
        SELECT source, stf,
               row_number() OVER (PARTITION BY source
                                  ORDER BY stf DESC, tok) AS r
        FROM st)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_ranks,
           round(regr_slope(ln(stf), ln(r)), 6) AS zipf_slope
    FROM ranked WHERE r <= 500 GROUP BY source
    """,
)
def zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xena_gdc_etl_spark.operators.prefix import group_row_number

    tf = _shared_doc_tf(spark, sf_dir)
    src = Catalog(spark, sf_dir).documents.select("doc_id", "source")
    st = (
        tf.join(src, "doc_id")
        .groupBy("source", "tok")
        .agg(F.sum("tf").alias("stf"))
    )
    ranked = group_row_number(
        st, ["source"], [("stf", "desc"), "tok"], "r"
    ).filter(F.col("r") <= 500)
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ranks"),
        F.round(F.regr_slope(F.log("stf"), F.log("r")), 6).alias(
            "zipf_slope"
        ),
    )


# --------------------------------------------------------------------------
# 82. Incremental keep DECISIONS — the frozen-labels daily-dedup rule as a
#     driver-gated query (round-13 verdict task 6; the operator itself is
#     sources/dedup_state.py:incremental_cc_update, previously only
#     unit/example-tested). Fixture roles derived deterministically from
#     the documents table: landed corpus = doc_id % 10 != 0 (its frozen
#     labels = the house CC over prefix/suffix-bucket duplicate edges),
#     increment = doc_id % 10 == 0. Edges: two docs are duplicate
#     candidates iff they share the md5 of their first 128 chars OR of
#     their last 128 chars — a rule that CHAINS (A~B by prefix, B~C by
#     suffix), so the oracle needs a real recursive-CTE closure, and the
#     inherit-smallest-touched-landed-rep precedence is exercised across
#     multi-hop components, not just hash groups. All joins are
#     equi-joins on the bucket keys (the OR is a union of two hash
#     joins, never a cartesian); the landed corpus is touched by ONE key
#     join against the increment's cross-edges, exactly the artifact
#     loop's scale shape.
# --------------------------------------------------------------------------
@query(
    "incremental_keep_decisions",
    """
    WITH RECURSIVE
    d AS (SELECT doc_id,
                 md5(substr(text, 1, 128)) AS pk,
                 md5(substr(text, greatest(length(text) - 127, 1), 128)) AS sk
          FROM documents),
    landed AS (SELECT * FROM d WHERE doc_id % 10 <> 0),
    inc    AS (SELECT * FROM d WHERE doc_id % 10 = 0),
    led AS (
        SELECT x.doc_id AS src, y.doc_id AS dst
        FROM landed x JOIN landed y ON x.pk = y.pk
        WHERE x.doc_id <> y.doc_id
        UNION
        SELECT x.doc_id, y.doc_id
        FROM landed x JOIN landed y ON x.sk = y.sk
        WHERE x.doc_id <> y.doc_id),
    lreach(node, lab) AS (
        SELECT doc_id, doc_id FROM landed
        UNION
        SELECT e.dst, r.lab FROM lreach r JOIN led e ON e.src = r.node),
    frozen AS (SELECT node AS doc_id, min(lab) AS rep
               FROM lreach GROUP BY node),
    ied AS (
        SELECT x.doc_id AS src, y.doc_id AS dst
        FROM inc x JOIN inc y ON x.pk = y.pk WHERE x.doc_id <> y.doc_id
        UNION
        SELECT x.doc_id, y.doc_id
        FROM inc x JOIN inc y ON x.sk = y.sk WHERE x.doc_id <> y.doc_id),
    ireach(node, lab) AS (
        SELECT doc_id, doc_id FROM inc
        UNION
        SELECT e.dst, r.lab FROM ireach r JOIN ied e ON e.src = r.node),
    icomp AS (SELECT node AS doc_id, min(lab) AS cluster_id
              FROM ireach GROUP BY node),
    cross_anchor AS (
        SELECT i.doc_id, min(f.rep) AS a
        FROM inc i
        JOIN landed l ON i.pk = l.pk OR i.sk = l.sk
        JOIN frozen f ON f.doc_id = l.doc_id
        GROUP BY i.doc_id),
    comp_anchor AS (
        SELECT c.cluster_id, min(a.a) AS anchor
        FROM icomp c JOIN cross_anchor a ON a.doc_id = c.doc_id
        GROUP BY c.cluster_id)
    SELECT c.doc_id,
           CAST(coalesce(ca.anchor, c.cluster_id) AS BIGINT) AS cluster_rep,
           CAST(CASE WHEN coalesce(ca.anchor, c.cluster_id) = c.doc_id
                     THEN 1 ELSE 0 END AS BIGINT) AS keep
    FROM icomp c LEFT JOIN comp_anchor ca ON ca.cluster_id = c.cluster_id
    """,
)
def incremental_keep_decisions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from xena_gdc_etl_spark.operators.dedup import connected_components
    from xena_gdc_etl_spark.operators.seams import seam
    from xena_gdc_etl_spark.sources.dedup_state import incremental_cc_update

    # EIGHT branches read the (doc_id, pk, sk) hash frame (the bucket
    # self-joins, the CC node sets) — seaming the 3-narrow-column frame
    # runs the md5-over-text scan ONCE instead of per branch, and the
    # eager fill's actual-bytes stats let every downstream bucket join
    # pick its strategy from real sizes (at corpus scale these joins
    # must shuffle, not broadcast).
    docs = seam(
        Catalog(spark, sf_dir).documents.select(
            "doc_id",
            F.md5(F.substring("text", 1, 128)).alias("pk"),
            F.md5(
                F.expr("substr(text, greatest(length(text) - 127, 1), 128)")
            ).alias("sk"),
        )
    )
    landed = docs.filter(F.col("doc_id") % 10 != 0)
    inc = docs.filter(F.col("doc_id") % 10 == 0)

    # STAR-REDUCED edges — never a bucket self-join. A shared-boilerplate
    # bucket (a license-header prefix at corpus scale) has |B| members;
    # the pairwise expansion emits |B|² edge rows, but connectivity only
    # needs a star: every member → the bucket's min member gives the
    # SAME components (each bucket's members end up connected through
    # the min), so edges are O(corpus), not O(hot-bucket²). The anchor
    # rule survives the reduction too: all landed members of one bucket
    # are in one frozen component (they share the bucket), hence share
    # ONE rep — an increment doc touching the bucket inherits the same
    # min whether it edges to every landed member or only to the
    # bucket's min landed id. Melt (pk, sk) to (kind, key) rows, ONE
    # partial-aggregated groupBy for per-bucket (min landed, min inc),
    # one equi-join back; the three edge sets fall out as filters.
    melted = docs.select(
        "doc_id",
        F.posexplode(F.array("pk", "sk")).alias("__kind", "__k"),
    )
    mins = (
        melted.groupBy("__kind", "__k")
        .agg(
            F.min(
                F.when(F.col("doc_id") % 10 != 0, F.col("doc_id"))
            ).alias("__min_landed"),
            F.min(
                F.when(F.col("doc_id") % 10 == 0, F.col("doc_id"))
            ).alias("__min_inc"),
            F.count(F.lit(1)).alias("__cnt"),
        )
        # singleton buckets (the overwhelming majority of a real corpus)
        # produce no edges — dropping them BEFORE the join-back leaves a
        # frame of only the duplicate buckets, which AQE sees post-
        # shuffle and broadcasts on benign corpora (the melted side then
        # never shuffles for this join); on a boilerplate-heavy corpus
        # it degrades gracefully to a shuffle join that is still one row
        # per bucket, never |B|² pairs
        .filter(F.col("__cnt") >= 2)
        .drop("__cnt")
    )
    # seam the joined dup-bucket member frame: it is SMALL (members of
    # multi-member buckets only) and all three edge derivations below
    # read it — unseamed, each re-runs the melt+groupBy+join pipeline
    m = seam(melted.join(mins, ["__kind", "__k"]))
    is_inc = F.col("doc_id") % 10 == 0
    # duplicate star edges across pk/sk need no distinct: CC dedupes its
    # edge set internally and the anchor fold is a min
    landed_pairs = m.filter(
        ~is_inc & (F.col("doc_id") != F.col("__min_landed"))
    ).select(F.col("__min_landed").alias("a"), F.col("doc_id").alias("b"))
    inc_pairs = m.filter(
        is_inc & (F.col("doc_id") != F.col("__min_inc"))
    ).select(F.col("__min_inc").alias("a"), F.col("doc_id").alias("b"))
    cross = m.filter(is_inc & F.col("__min_landed").isNotNull()).select(
        F.col("doc_id").alias("new_id"),
        F.col("__min_landed").alias("landed_id"),
    )

    frozen = connected_components(
        landed_pairs, landed.select("doc_id"), id_col="doc_id"
    ).select("doc_id", F.col("cluster_id").alias("cluster_rep"))
    out = incremental_cc_update(
        frozen, inc.select("doc_id"), cross, inc_pairs
    )
    return out.select(
        "doc_id",
        "cluster_rep",
        (F.col("doc_id") == F.col("cluster_rep"))
        .cast("bigint")
        .alias("keep"),
    )


# --------------------------------------------------------------------------
# Registry ordering — self-maintaining driver-window rotation.
#
# The driver's correctness gate samples the FIRST 50 entries of ``queries()``
# in dict order each round and records the sampled window as
# ``CORRECTNESS_r{N}.json`` in the repo root.  House invariant (since round
# 4, generalized in round 10): every query is sampled at least once in any
# ⌈N/50⌉ consecutive rounds — with N ≤ 100 that is the original "no query
# goes two consecutive rounds unsampled".  Rounds 7 and 8 both tripped
# the invariant because the order was a hand-maintained ``_PROMOTED`` list
# that had to be re-edited at round END; per the round-8 verdict the order is
# now DERIVED from the recorded windows themselves: least-recently-sampled
# first (never-sampled queries — e.g. ones added this round — sort to the
# very front), ties broken by total times sampled (ascending) then by
# registration order, so the ordering is deterministic and needs no manual
# upkeep.  The derivation gives ⌈N/50⌉-round coverage at ANY registry size
# by construction: queries sampled in round r sort behind every query not
# sampled in round r, so the unsampled queue drains 50 per round and no
# query waits more than ⌈N/50⌉ rounds (tests/test_parity.py proves this
# both on the live registry and on a synthetic 105-entry one — the
# round-9 verdict's ≤100 cliff is gone).  Source-file position of the
# implementations is unchanged — only dict iteration order moves.
# Outside the repo (no CORRECTNESS files) the registration order is
# kept as-is.
# --------------------------------------------------------------------------


def _recorded_windows() -> "list[set[str]]":
    """Recorded driver windows, oldest→newest, from CORRECTNESS_r*.json."""
    import glob as _glob
    import json as _json
    import re as _re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    recs = _glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))

    def _round(p: str) -> int:
        m = _re.search(r"r(\d+)", os.path.basename(p))
        return int(m.group(1)) if m else -1

    windows = []
    for path in sorted(recs, key=_round):
        try:
            with open(path) as fh:
                windows.append(set(_json.load(fh)))
        except (OSError, ValueError):  # unreadable/partial file: skip it
            continue
    return windows


def _reorder_registry() -> None:
    windows = _recorded_windows()
    if not windows:
        return  # round 1 / installed outside the repo: keep decorator order
    reg_pos = {k: i for i, k in enumerate(QUERIES)}
    last_sampled = {}  # query -> index of newest window containing it
    times_sampled = {k: 0 for k in QUERIES}
    for idx, win in enumerate(windows):
        for k in win:
            if k in reg_pos:
                last_sampled[k] = idx
                times_sampled[k] += 1
    order = sorted(
        QUERIES,
        key=lambda k: (last_sampled.get(k, -1), times_sampled[k], reg_pos[k]),
    )
    for registry in (QUERIES, ORACLES):
        snapshot = dict(registry)
        registry.clear()
        registry.update({k: snapshot[k] for k in order if k in snapshot})


_reorder_registry()
