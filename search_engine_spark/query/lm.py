"""Dirichlet-smoothed language-model ranking (second similarity).

Per matched query term, summed over the query's terms (unclamped):

    score(t, D) = qtf(t) * [ ln(1 + tf / (mu * P(t|C))) + ln(mu / (dl + mu)) ]
    P(t|C)      = cf(t) / |C|

with cf(t) = total occurrences of t in the corpus and |C| = total token
count (n_docs * avgdl — exact, since avgdl is the arithmetic mean of kept
doc lengths). mu defaults to Lucene's 2000. Swapping similarities is a
first-class production-engine capability the BM25/tf-idf pair alone does
not demonstrate.

This is the formula of Lucene's ``LMDirichletSimilarity``, but not its
scores. Lucene clamps each term's score at ``max(0, ·)``; here a matched
term whose length penalty ln(mu / (dl + mu)) outweighs its tf gain (low tf
in a long doc) adds a negative amount, so it can rank a doc below one that
lacks the term. Lucene also estimates P(t|C) as (cf + 1) / (|C| + 1) and
reads dl from a lossy one-byte norm; here both are exact. The contract's
oracle (``_lm_sql`` in ``__spark_entry__.py``) scores the same unclamped
formula.

Scale shape (100 TB story): identical to the BM25 DataFrame path — ONE
tbucket-pruned, term-IN-pushed posting scan. cf(t) is a static per-term
scalar computed at BUILD time (``index.build.build_term_stats`` folds a
``sum(tf)`` into the job that already computes df) and read from the
broadcast term_stats join like ``bm25_idf`` — zero query-time shuffles
beyond BM25's own; the per-doc fold reuses the sorted-term
conditional-sum kernel so scores are deterministic bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..index.storage import IndexStore

LM_MU = 2000.0


def lm_dirichlet_topk(
    spark: SparkSession,
    store: IndexStore,
    terms: list[str],
    k: int = 10,
    mu: float = LM_MU,
) -> DataFrame:
    """Top-k (doc_id, score) under Dirichlet-smoothed query likelihood."""
    from .bm25 import _per_term_sum, candidates_for_terms

    cand = candidates_for_terms(spark, store, terms, with_cf=True)
    if cand is None:
        return spark.createDataFrame([], "doc_id long, score double")
    cstats = store.corpus_stats()
    total_tokens = float(cstats["n_docs"]) * float(cstats["avgdl"])

    tf = F.col("tf").cast("double")
    dl = F.col("doc_len").cast("double")
    # build-time collection frequency, broadcast with the stats join
    p_c = F.col("cf").cast("double") / F.lit(total_tokens)
    term_score = F.col("qtf") * (
        F.log(F.lit(1.0) + tf / (F.lit(mu) * p_c))
        + F.log(F.lit(mu) / (dl + F.lit(mu)))
    )
    cols, fold = _per_term_sum(sorted(set(terms)))
    agg = (
        cand.withColumn("term_score", term_score)
        .groupBy("doc_id")
        .agg(*cols)
        .select("doc_id", fold.alias("score"))
    )
    from ..index.deletes import topk_live

    return topk_live(spark, store, agg, k)
