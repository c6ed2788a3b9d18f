"""Sharded-build merge: fold an independently-built index INTO another
without re-tokenizing (the Lucene ``IndexWriter.addIndexes`` analog; the
reference builds one monolithic index per process — ``Indexer.java`` —
and has no merge).

100 TB story: analysis (tokenize/stem) dominates build cost, and one
build job over the whole corpus serializes behind its slowest stage.
The sharded plan: split the corpus, run K independent ``build_index``
jobs in parallel (each a separate cluster or partition range), then fold
the shards together. A merge never re-analyzes text —

* the source's docs and flat postings move with a map-only docID shift
  (``doc_id + base``); the per-row positional varbyte stream is
  docID-independent, so those bytes move VERBATIM;
* only the source's segment blobs re-encode (their internal docID
  deltas shift) — one ``encode_segments`` pass over already-built
  postings, published as a fresh chunk exactly like a streaming append;
* global stats (N, avgdl, df -> idf) recompute in one aggregation over
  the merged tables, identical to the append path, so WAND's
  avgdl-drift bound scaling applies unchanged;
* source tombstones shift with the same base and append to the
  destination's tombstone table.

The merged store is query-equivalent to a single build over the
concatenated corpus (tests assert BM25/WAND/phrase row identity; the
contract rows ``index_bm25_merged`` / ``index_phrase_merged`` oracle it
against DuckDB at sf0.01).
"""

from __future__ import annotations

import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .build import corpus_counts, term_bucket_col, write_chunk, write_term_stats
from .storage import IndexStore


def merge_store(
    spark: SparkSession, dst: IndexStore, src: IndexStore
) -> int:
    """Fold ``src`` into ``dst`` (src is read-only; dst gains its docs
    under shifted ids plus one new segment chunk). Returns the number of
    docs merged in. Analyzer configs must match — a stemmed and an
    unstemmed index disagree on the dictionary itself."""
    dstats = dst.corpus_stats()
    sstats = src.corpus_stats()
    if dstats["stem"] != sstats["stem"]:
        raise ValueError(
            "cannot merge: analyzer mismatch "
            f"(dst stem={dstats['stem']}, src stem={sstats['stem']})"
        )
    n_buckets = int(dstats["n_buckets"])
    drange_span = int(dstats["drange_span"])
    base = int(dstats["next_doc_id"])
    new_chunk = max((m["chunk"] for m in dst.manifests()), default=-1) + 1
    prefix = f"m{new_chunk}-"
    for target in (dst.docs_path, dst.postings_path):
        dst.unpublish(target, prefix)

    docs = src.docs(spark).withColumn("doc_id", F.col("doc_id") + F.lit(base))
    stage = dst.staging_dir(f"{prefix}docs")
    docs.write.mode("overwrite").parquet(stage)
    dst.publish(stage, dst.docs_path, prefix)

    # flat postings: docID shift + re-bucket under dst's bucket count
    # (positions bytes move verbatim — they are doc-relative ordinals)
    shifted = (
        src.postings(spark)
        .withColumn("doc_id", F.col("doc_id") + F.lit(base))
        .withColumn("tbucket", term_bucket_col(F.col("term"), n_buckets))
        .persist()
    )
    stage = dst.staging_dir(f"{prefix}postings")
    (
        shifted.sortWithinPartitions("tbucket", "term")
        .write.mode("overwrite")
        .partitionBy("tbucket")
        .parquet(stage)
    )
    dst.publish(stage, dst.postings_path, prefix)
    n_merged = docs.count()

    # global stats over the MERGED tables — same recompute as append_batch
    n_docs, avgdl = corpus_counts(dst.docs(spark))
    write_term_stats(dst.postings(spark), n_docs, n_buckets, dst.term_stats_path)

    # re-encode ONLY the source's postings (shifted ids) into a new chunk
    dst.write_manifest(new_chunk, write_chunk(
        spark, shifted, f"{dst.segments_path}/chunk={new_chunk}", new_chunk,
        f"merge:{src.dir}", avgdl, drange_span, n_buckets,
    ))
    shifted.unpersist()

    # source deletes travel with their docs
    from .deletes import mark_deleted, tombstones

    tomb = tombstones(spark, src)
    if tomb is not None:
        mark_deleted(
            spark, dst, tomb.withColumn("doc_id", F.col("doc_id") + F.lit(base))
        )

    dstats.update(
        {
            "n_docs": int(n_docs),
            "next_doc_id": base + int(sstats["next_doc_id"]),
            "avgdl": avgdl,
            "n_chunks": new_chunk + 1,
            "last_append_unix": time.time(),
        }
    )
    dst.write_corpus_stats(dstats)
    return int(n_merged)
