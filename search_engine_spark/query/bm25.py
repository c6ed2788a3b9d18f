"""BM25 scoring — pure-DataFrame path (Catalyst built-ins only).

This is the declarative twin of the WAND path: same posting statistics, same
scores, expressed as filter -> broadcast join -> agg -> TakeOrderedAndProject
so Catalyst gets full pushdown/pruning. It is the path used for the DuckDB
oracle checks; the WAND path must be rank-identical to it.

Score (north rule, k1=1.2 b=0.75):

    score(D, Q) = sum_{t in Q} qtf(t) * idf(t) * tf*(k1+1)/(tf + k1*(1-b+b*dl/avgdl))
    idf(t)      = ln(1 + (N - df + 0.5)/(df + 0.5))

Query-term duplicates multiply their term's contribution — this mirrors the
reference ranker iterating the raw query-term list
(``Ranker/ParallelRanker.java:86-104``) and standard BM25 query-tf.
Ties break by doc_id ascending (FIXTURES.md §4).
"""

from __future__ import annotations

from collections import Counter

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..index.build import term_bucket_py
from ..index.codec import BM25_B, BM25_K1
from ..index.storage import IndexStore


def score_expr(avgdl: float, k1: float = BM25_K1, b: float = BM25_B):
    """Column expression: qtf * bm25_idf * impact(tf, doc_len)."""
    tf = F.col("tf").cast("double")
    dl = F.col("doc_len").cast("double")
    impact = tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))
    return F.col("qtf") * F.col("bm25_idf") * impact


def _per_term_sum(uniq: list[str]) -> tuple[list[F.Column], F.Column]:
    """Deterministic per-doc score: term contributions added in SORTED term
    order (SURVEY §7 hard part (a)). A plain F.sum accumulates in row-
    encounter order, which depends on the physical layout — float addition
    is not associative, so true ties in the oracle could differ in the last
    bits here and flip the doc_id tie-break.

    Implementation: one conditional sum PER QUERY TERM (each (doc, term)
    group holds exactly one row, so every "sum" is that single value), then
    the columns are added left-to-right in sorted term order; a missing
    term contributes +0.0, which is an exact IEEE no-op for the positive
    scores here — the float sequence is identical to folding the present
    terms in sorted order. This stays a plain map-side-combinable
    HashAggregate; the previous collect_list + array_sort + F.aggregate
    fold forced an ObjectHashAggregate that shipped per-doc structs through
    the shuffle (~0.4 s slower per query at the 3.9M-turn index)."""
    cols = [
        F.sum(F.when(F.col("term") == t, F.col("term_score"))).alias(f"_s{i}")
        for i, t in enumerate(uniq)
    ]
    expr: F.Column = F.lit(0.0)
    for i in range(len(uniq)):
        expr = expr + F.coalesce(F.col(f"_s{i}"), F.lit(0.0))
    return cols, expr


def candidates_for_terms(
    spark: SparkSession,
    store: IndexStore,
    terms: list[str],
    with_importance: bool = False,
    with_cf: bool = False,
) -> DataFrame | None:
    """Partition-pruned posting scan for the query terms, joined (broadcast)
    with the per-term stats — the Spark analog of the reference's per-term
    index point-lookups (``QueryProcessor.java:533``) + J1 union-merge.
    ``with_importance`` additionally reads the stored role-weight column
    (kept opt-in so the un-boosted path's scan stays column-pruned).
    ``with_cf`` additionally reads the build-time collection frequency
    (LM scoring)."""
    if not terms:
        return None
    # bucket count from the store's stats, not the module default — an index
    # built with a different n_buckets would otherwise prune wrong dirs
    n_buckets = store.corpus_stats()["n_buckets"]
    qtf = Counter(terms)
    uniq = sorted(qtf)
    buckets = sorted({term_bucket_py(t, n_buckets) for t in uniq})

    cols = ["term", "doc_id", "tf", "doc_len"]
    if with_importance:
        cols.append("importance")
    postings = (
        store.postings(spark)
        .filter(F.col("tbucket").isin(buckets))  # partition pruning
        .filter(F.col("term").isin(uniq))
        .select(*cols)
    )
    stats = store.term_stats(spark)
    stat_cols = ["term", "df", "idf", "bm25_idf"]
    if with_cf:
        stat_cols.append("cf")
    stats = (
        stats
        .filter(F.col("tbucket").isin(buckets))
        .filter(F.col("term").isin(uniq))
        .select(*stat_cols)
    )
    # Arrow-built: a local relation the broadcast reads on the driver, not a
    # Python RDD it must evaluate
    qtf_df = spark.createDataFrame(
        pa.table({"term": list(qtf), "qtf": [float(c) for c in qtf.values()]}),
        "term string, qtf double",
    )
    return postings.join(F.broadcast(stats), "term").join(
        F.broadcast(qtf_df), "term"
    )


def bm25_topk(
    spark: SparkSession,
    store: IndexStore,
    terms: list[str],
    k: int | None = 10,
    boost: bool = False,
) -> DataFrame:
    """Top-k (doc_id, score) for an analyzed term list, DataFrame path.
    ``k=None`` returns the full scored candidate set (logical-op operand).

    ``boost=True`` multiplies each term contribution by the stored role
    weight (``index.build.ROLE_WEIGHTS`` — the transcripts analog of the
    reference's in-title x2 boost, ``Ranker/ParallelRanker.java:86-104``).
    The postings' ``importance`` column stores weight*tf, so the weight is
    importance/tf."""
    cstats = store.corpus_stats()
    cand = candidates_for_terms(spark, store, terms, with_importance=boost)
    if cand is None:
        return spark.createDataFrame([], "doc_id long, score double")
    expr = score_expr(cstats["avgdl"])
    if boost:
        expr = expr * (F.col("importance") / F.col("tf"))
    scored = cand.withColumn("term_score", expr)
    cols, total = _per_term_sum(sorted(set(terms)))
    agg = (
        scored.groupBy("doc_id").agg(*cols)
        .select("doc_id", total.alias("score"))
    )
    from ..index.deletes import live_filter, topk_live

    if k is None:
        # logical-op operand: every live row is needed downstream
        return live_filter(spark, store, agg)
    # top-k: bloom-split single-job protocol — the candidate set is never
    # joined against the tombstone table (see deletes.topk_live)
    return topk_live(spark, store, agg, k)


def tfidf_topk(
    spark: SparkSession,
    store: IndexStore,
    terms: list[str],
    k: int = 10,
    popularity: float = 0.5,
    boost: bool = False,
) -> DataFrame:
    """Reference-parity scoring path: 0.7 * sum(tf_norm * idf) + 0.3 * popularity
    (``Ranker/ParallelRanker.java:14-15,86-104``; tf = freq/len from
    ``Indexer.java:334``; idf = ln(N/(1+df)) from ``Indexer.java:384-388``).
    The popularity prior defaults to the fixture's constant 0.5.
    ``boost=True`` multiplies by the stored role weight — the reference's
    in-title boost (``ParallelRanker.java:86-104``) applied live."""
    cand = candidates_for_terms(spark, store, terms, with_importance=boost)
    if cand is None:
        return spark.createDataFrame([], "doc_id long, score double")
    rel = (
        F.col("qtf")
        * (F.col("tf").cast("double") / F.col("doc_len"))
        * F.col("idf")
    )
    if boost:
        rel = rel * (F.col("importance") / F.col("tf"))
    from ..index.deletes import topk_live

    cols, total = _per_term_sum(sorted(set(terms)))
    agg = (
        cand.withColumn("term_score", rel)
        .groupBy("doc_id")
        .agg(*cols)
        .select(
            "doc_id", (0.7 * total + 0.3 * F.lit(popularity)).alias("score")
        )
    )
    # tombstoned docs are anti-filtered at serve time, like every query
    # path — via the bloom-split top-k (no candidate/tombstone join)
    return topk_live(spark, store, agg, k)
