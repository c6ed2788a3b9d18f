"""More-like-this: find documents similar to a given document.

Lucene-parity feature (``MoreLikeThis`` in queries/mlt): re-analyze the
source document's stored text, rank its terms by tf x idf, keep the top
``max_terms`` as a query, and run the normal BM25 engine excluding the
source document. The reference engine has no MLT endpoint; this is part of
the production-search surface a user of a fulltext index expects
(SURVEY.md §2 query family Q1-Q4 extension).

Scale shape (100 TB story):
  1. source text fetch = pushed ``doc_id = ?`` point lookup on the doc
     registry (parquet min/max row-group skipping) — one row to driver;
  2. term selection = tbucket-pruned + term-IN-pushed ``term_stats`` scan,
     collects at most |unique terms of ONE document| rows — driver-bounded
     by construction, same protocol as the dictionary-expansion serve
     (``suggest.expand_prefix``);
  3. retrieval = the standard block-max WAND / DataFrame BM25 top-(k+1)
     (top-k of corpus-minus-source is a subset of top-(k+1) of the corpus,
     so excluding the source after the pruned top-k is exact).
No new shuffles, no full scans beyond what one BM25 query already does.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..analysis.analyzer import analyze
from ..index.storage import IndexStore


def mlt_terms(
    spark: SparkSession,
    store: IndexStore,
    doc_id: int,
    max_terms: int = 8,
    min_tf: int = 1,
) -> list[str]:
    """Top ``max_terms`` terms of ``doc_id`` ranked by tf * bm25_idf
    (score desc, term asc — deterministic). Terms absent from the
    dictionary (possible after compaction) contribute nothing and drop
    out via the stats inner join, like Lucene MLT skipping terms below
    minDocFreq."""
    cstats = store.corpus_stats()
    stem = cstats["stem"]
    n_buckets = cstats["n_buckets"]

    src = (
        store.docs(spark)
        .filter(F.col("doc_id") == int(doc_id))
        .select("text")
        .collect()
    )
    if not src:
        return []
    tf = Counter(analyze(src[0]["text"], stem=stem))
    cand = sorted(t for t, n in tf.items() if n >= min_tf)
    if not cand:
        return []

    # per-term idf via the WAND driver-side stats cache (same store-version
    # invalidation): repeat MLT queries skip the pruned stats collect, and
    # the retrieval step below finds its term weights already cached —
    # one driver round-trip instead of two on the warm path
    from .wand import _cached_term_idf

    idf_of = _cached_term_idf(spark, store, cand, n_buckets)
    ranked = sorted(
        ((tf[t] * idf_of[t], t) for t in cand if idf_of.get(t) is not None),
        key=lambda x: (-x[0], x[1]),
    )
    return [t for _, t in ranked[:max_terms]]


def more_like_this(
    spark: SparkSession,
    store: IndexStore,
    doc_id: int,
    k: int = 10,
    max_terms: int = 8,
    engine: str = "wand",
) -> DataFrame:
    """Top-k (doc_id, score) most-similar documents to ``doc_id``,
    excluding the source. Each selected term enters the query once
    (qtf=1), mirroring Lucene MLT's boolean-query construction."""
    terms = mlt_terms(spark, store, doc_id, max_terms=max_terms)
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double")
    if engine == "wand":
        from .wand import bm25_topk_wand

        top = bm25_topk_wand(spark, store, terms, k=k + 1)
    else:
        from .bm25 import bm25_topk

        top = bm25_topk(spark, store, terms, k=k + 1)
    return (
        top.filter(F.col("doc_id") != int(doc_id))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
