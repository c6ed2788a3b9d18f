"""Score explanation: the per-term anatomy of a BM25 hit.

Lucene-parity feature (``IndexSearcher.explain`` / ``Explanation``): for
each of the query's top-k documents, one row per contributing query term
with every factor of the score — tf, df, idf, the length-normalized
impact, and the final contribution — so relevance debugging doesn't
require re-deriving the math by hand. The reference engine exposes only
the final score (``Ranker/ParallelRanker.java``); every production search
engine ships an explain endpoint next to it.

Scale shape (100 TB story): the top-k doc set comes from the normal
pruned WAND/DataFrame path and is driver-bounded (k rows); the factor
table is the SAME tbucket-pruned posting scan the query already ran,
further filtered by a pushed ``doc_id IN (k ids)`` predicate — so explain
costs one extra bounded probe, never a rescan of the corpus, and the
output is |k x query terms| rows at most.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..index.codec import BM25_B, BM25_K1
from ..index.storage import IndexStore


def explain_topk(
    spark: SparkSession,
    store: IndexStore,
    terms: list[str],
    k: int = 10,
    engine: str = "wand",
) -> DataFrame:
    """(rank, doc_id, score, term, qtf, tf, doc_len, df, idf, contribution)
    for the query's top-k documents — one row per (doc, present term).
    ``sum(contribution) group by doc`` reproduces ``score`` exactly."""
    from .bm25 import bm25_topk, candidates_for_terms

    if engine == "wand":
        from .wand import bm25_topk_wand

        top = bm25_topk_wand(spark, store, terms, k=k)
    else:
        top = bm25_topk(spark, store, terms, k=k)
    rows = top.orderBy(F.desc("score"), F.asc("doc_id")).limit(k).collect()
    if not rows:
        return spark.createDataFrame(
            [],
            "rank int, doc_id long, score double, term string, qtf double, "
            "tf int, doc_len int, df long, idf double, contribution double",
        )
    ranked = spark.createDataFrame(
        [(i + 1, int(r["doc_id"]), float(r["score"])) for i, r in enumerate(rows)],
        "rank int, doc_id long, score double",
    )
    ids = [int(r["doc_id"]) for r in rows]

    avgdl = float(store.corpus_stats()["avgdl"])
    cand = candidates_for_terms(spark, store, terms).filter(
        F.col("doc_id").isin(ids)  # pushed IN over the pruned posting scan
    )
    tf = F.col("tf").cast("double")
    dl = F.col("doc_len").cast("double")
    impact = tf * (BM25_K1 + 1.0) / (
        tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / avgdl)
    )
    factors = cand.select(
        "doc_id",
        "term",
        "qtf",
        F.col("tf"),
        F.col("doc_len"),
        F.col("df"),
        F.col("bm25_idf").alias("idf"),
        (F.col("qtf") * F.col("bm25_idf") * impact).alias("contribution"),
    )
    return F.broadcast(ranked).join(factors, "doc_id").select(
        "rank", "doc_id", "score", "term", "qtf", "tf", "doc_len", "df",
        "idf", "contribution",
    )


def explain_query(
    spark: SparkSession,
    store: IndexStore,
    query: str,
    k: int = 10,
    engine: str = "wand",
) -> DataFrame:
    """explain_topk for a raw free-text query string (analyzed with the
    store's own analyzer config, duplicates keeping their query-tf)."""
    from ..analysis.analyzer import analyze

    stem = store.corpus_stats()["stem"]
    return explain_topk(spark, store, analyze(query, stem=stem), k=k, engine=engine)
