"""Batch search: evaluate a WORKLOAD TABLE of queries against the index
in one Spark job.

``pipeline.search`` serves one interactive query per driver round-trip —
right for a search box, wrong for the offline shapes a 100 TB corpus
actually sees: relevance test sets, training-data mining ("give me the
top-k docs for each of these 100k weak-supervision queries"), query-log
replay. Looping ``search`` from the driver re-scans the segments once
per query; this module amortizes ONE partition-pruned posting scan over
the whole workload:

    queries (query_id, query)                 -- a DataFrame, any size
      -> Arrow-batched analyze (same chain as the index side)
      -> (query_id, term, qtf)
      -> postings scan, pruned to the workload's terms/tbuckets
      -> join on term            (broadcast while the workload is small,
                                  AQE switches to shuffle when not)
      -> per-(query_id, doc_id) score fold in SORTED term order
      -> tombstone anti-join     (once, for the whole workload)
      -> per-query top-k window  (planned as a two-level group limit:
         WindowGroupLimit(Partial) prunes to k rows per query per
         upstream partition BEFORE the query_id exchange, SPARK-37099)

Scale shape: the expensive side (postings) is scanned ONCE; the shuffle
keys are (query_id, doc_id), then query_id over k-bounded survivors —
workload-sized, not corpus-sized; a hot query's candidate set is sorted
across the (query_id, doc_id)-partitioned map side, never in one task
(the join-side skew is additionally covered by AQE's skew-join split). Term/tbucket literal pushdown
(directory-level partition pruning, same as the single-query path) is
kept while the workload's distinct-term set is driver-bounded
(``pushdown_cap``); past the cap the scan goes full — at that point the
workload touches most of the dictionary anyway and one full scan
amortized over >>cap queries is the right plan.

Scoring is the exact single-query BM25 (``bm25.py``: same idf, same
impact, qtf-weighted, contributions folded in sorted term order so
score bits do not depend on physical row order). For any query_id the
result rows equal ``bm25_topk(spark, store, analyze_query(q), k)`` —
tests assert per-query row identity against the single-query engine.

The reference serves one query per HTTP request (QueryProcessor.java);
batch evaluation has no reference analog — it exists for the
training-data-pipeline role this engine adds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..index.build import term_bucket_py
from ..index.codec import BM25_B, BM25_K1
from ..index.storage import IndexStore

# past this many DISTINCT workload terms, stop collecting them to the
# driver for literal isin pushdown and let the term join prune instead
PUSHDOWN_CAP = 10_000


def analyze_queries(
    spark: SparkSession, queries: DataFrame, stem: bool = True
) -> DataFrame:
    """(query_id, query) -> (query_id, term, qtf): the index-side analyzer
    chain (tokenize/lowercase/stopword/len>1[/Porter]) applied
    Arrow-batched — a 10M-row query log never visits the driver."""
    from ..analysis.analyzer import analyze_series

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _terms(texts):
        return analyze_series(texts, stem=stem)

    return (
        queries.select("query_id", F.explode(_terms("query")).alias("term"))
        .groupBy("query_id", "term")
        .agg(F.count("*").cast("double").alias("qtf"))
    )


def _workload_terms(qterms: DataFrame, cap: int) -> list[str] | None:
    """The workload's distinct terms IF there are <= ``cap`` of them
    (driver-bounded by construction: limit cap+1), else None."""
    rows = qterms.select("term").distinct().limit(cap + 1).collect()
    if len(rows) > cap:
        return None
    return sorted(r["term"] for r in rows)


def batch_bm25_topk(
    spark: SparkSession,
    store: IndexStore,
    queries: DataFrame,
    k: int = 10,
    stem: bool = True,
    boost: bool = False,
    pushdown_cap: int = PUSHDOWN_CAP,
) -> DataFrame:
    """Top-``k`` (query_id, rank, doc_id, score) per workload query, one
    job. ``queries``: (query_id, query string). Queries whose terms all
    miss the dictionary (or analyze to nothing) return no rows, exactly
    like the single-query path."""
    qterms = analyze_queries(spark, queries, stem=stem)

    n_buckets = store.corpus_stats()["n_buckets"]
    avgdl = float(store.corpus_stats()["avgdl"])

    cols = ["term", "doc_id", "tf", "doc_len"]
    if boost:
        cols.append("importance")
    postings = store.postings(spark)
    stats = store.term_stats(spark)
    terms = _workload_terms(qterms, pushdown_cap)
    if terms is not None:
        if not terms:
            return spark.createDataFrame(
                [], "query_id long, rank int, doc_id long, score double"
            )
        buckets = sorted({term_bucket_py(t, n_buckets) for t in terms})
        postings = postings.filter(F.col("tbucket").isin(buckets)).filter(
            F.col("term").isin(terms)
        )
        stats = stats.filter(F.col("tbucket").isin(buckets)).filter(
            F.col("term").isin(terms)
        )
    postings = postings.select(*cols)
    stats = stats.select("term", "bm25_idf")

    tf = F.col("tf").cast("double")
    dl = F.col("doc_len").cast("double")
    impact = (
        tf
        * (BM25_K1 + 1.0)
        / (tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / avgdl))
    )
    s = F.col("qtf") * F.col("bm25_idf") * impact
    if boost:
        s = s * (F.col("importance") / tf)

    contrib = (
        postings.join(stats, "term")
        .join(qterms, "term")  # AQE: broadcast while the workload is small
        .select(
            "query_id",
            "doc_id",
            F.struct(F.col("term"), s.alias("s")).alias("ts"),
        )
    )
    # deterministic fold: per (query, doc) the term contributions are added
    # in sorted term order (same guarantee as bm25._per_term_sum — float
    # addition is not associative and the tie-break is by score bits)
    scored = (
        contrib.groupBy("query_id", "doc_id")
        .agg(F.array_sort(F.collect_list("ts")).alias("tss"))
        .select(
            "query_id",
            "doc_id",
            F.aggregate(
                "tss", F.lit(0.0), lambda acc, x: acc + x["s"]
            ).alias("score"),
        )
    )

    from ..index.deletes import live_filter

    scored = live_filter(spark, store, scored)

    # Per-query top-k: row_number over query_id + rank filter. Spark 3.5+
    # plans this as a TWO-LEVEL group limit (SPARK-37099): a
    # WindowGroupLimit(Partial) node BEFORE the query_id exchange keeps at
    # most k rows per query per upstream partition (the upstream layout is
    # hash(query_id, doc_id) from the score agg — evenly spread), so the
    # query_id window partition receives <= k * n_upstream_partitions rows
    # and a head-term query's full candidate set is never sorted in one
    # task. tests/test_batch.py pins the Partial node in the plan.
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select("query_id", "rank", "doc_id", "score")
    )
