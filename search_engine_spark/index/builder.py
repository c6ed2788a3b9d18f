"""Checkpoint-resumable index build orchestration.

Stages (each guarded by a ``_SUCCESS`` marker; a re-run skips completed
work — the immutable-build answer to the reference's dirty-flag incremental
re-index, ``Indexer/Indexer.java:558-560,694-779``):

  1. docs      — dense docID assignment + doc_len + sha2 content hash
  2. postings  — flat (term, doc_id, tf, positions, doc_len, importance)
  3. stats     — term df/idf + corpus N/avgdl (single job; the reference's
                 second IDF pass, Indexer.java:391-548, disappears)
  4. segments  — compressed block-max segments, built in drange-keyed chunks;
                 each chunk commits atomically with a lineage/metrics
                 manifest -> resume granularity is a chunk, not the job
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .build import (
    N_TERM_BUCKETS,
    assign_doc_ids,
    build_postings,
    corpus_counts,
    term_bucket_col,
    with_terms,
    write_chunk,
    write_term_stats,
)
from .storage import FORMAT_VERSION, IndexStore

DEFAULT_DRANGE_SPAN = 1 << 16  # postings per term per range shard bound
DEFAULT_N_CHUNKS = 4


def build_index(
    spark: SparkSession,
    transcripts: DataFrame,
    index_dir: str,
    drange_span: int | None = None,
    n_chunks: int = DEFAULT_N_CHUNKS,
    n_buckets: int = N_TERM_BUCKETS,
    resume: bool = True,
    stem: bool = True,  # False -> no-stem analyzer (SQL-oracle-expressible)
    fail_after_chunk: int | None = None,  # test hook for resume tests
    verbose: bool = False,
) -> IndexStore:
    store = IndexStore(index_dir)
    t0 = time.time()
    _t = [time.time()]

    def tick(label):
        now = time.time()
        if verbose:
            print(f"[build_index] {label}: {now - _t[0]:.1f}s", flush=True)
        _t[0] = now

    # -- stage 1: docs ---------------------------------------------------
    # The analyzer output is persisted in memory and reused by stage 2 so
    # tokenize/stem runs ONCE per document (the reference re-analyzes per
    # field pass and again for in-title flags, Indexer.java:151-176,310-316).
    analyzed = None
    _cleanup: list = []
    if not (resume and store.stage_done("docs")):
        analyzed = with_terms(
            assign_doc_ids(transcripts, cleanup=_cleanup), stem=stem
        ).persist()
        docs = (
            analyzed.withColumn("doc_len", F.size("terms"))
            .withColumn("content_hash", F.sha2(F.col("text"), 256))
            .drop("terms")
        )
        docs.write.mode("overwrite").parquet(store.docs_path)
        tick("stage1 docs")
    docs = store.docs(spark)

    n_docs, corpus_avgdl = corpus_counts(docs)
    tick("count")
    if drange_span is None:
        # target ~64k docs per range shard locally; on a cluster this is
        # sized so a shard's postings for one term fit one encode task.
        drange_span = min(DEFAULT_DRANGE_SPAN, max(1024, n_docs // 64 + 1))
    # never more chunks than doc ranges (avoids empty chunk partitions)
    n_dranges = n_docs // drange_span + 1
    n_chunks = max(1, min(n_chunks, n_dranges))

    # -- stage 2: ONE unified postings table --------------------------------
    # (term, doc_id, tf, doc_len, importance, positions) partitioned by
    # tbucket, written shuffle-free (sort + partitionBy straight from the
    # analysis tasks). Parquet is columnar, so the scored (DataFrame/WAND/
    # stats) readers never touch the fat positions blob (column pruning —
    # asserted in tests/test_plans.py) while phrase queries read it from the
    # same files. Round 1 kept a separate compact copy without the blob;
    # that second full write + its bucket shuffle measured ~50 s/3.9M turns
    # and did not scale with cores — pure write amplification.
    if not (resume and store.stage_done("postings")):
        src = analyzed if analyzed is not None else with_terms(docs, stem=stem)
        # NOT persisted: the vectorized agg recomputes from the cached
        # analyzed docs in ~10 s at sf0.1x4, while materializing 59M
        # object-heavy rows into the block manager cost ~25 s and scaled
        # poorly
        postings_all = build_postings(src)
        (
            postings_all
            .withColumn("tbucket", term_bucket_col(F.col("term"), n_buckets))
            .sortWithinPartitions("tbucket", "term")  # clusters row groups
            .write.mode("overwrite")                  # so term min/max bites
            .partitionBy("tbucket")
            .parquet(store.postings_path)
        )
        if analyzed is not None:
            analyzed.unpersist()
        for df_ in _cleanup:
            df_.unpersist()
        _cleanup.clear()
        tick("stage2 postings")
    # downstream stages re-read the artifact: Catalyst prunes to the few
    # columns they need (never the fat `positions` arrays), which beats
    # caching 10M+ object-heavy rows in the JVM heap
    postings = store.postings(spark)

    # -- stage 3: stats ----------------------------------------------------
    if not (resume and store.stage_done("stats/terms")):
        write_term_stats(postings, n_docs, n_buckets, store.term_stats_path)
        tick("stage3 term_stats")
        store.write_corpus_stats(
            {
                "format_version": FORMAT_VERSION,
                "n_docs": n_docs,
                "next_doc_id": n_docs,
                "avgdl": corpus_avgdl,
                "drange_span": int(drange_span),
                "n_buckets": n_buckets,
                "n_chunks": n_chunks,
                "stem": stem,
                "built_unix": time.time(),
            }
        )
    cstats = store.corpus_stats()
    avgdl = cstats["avgdl"]
    drange_span = cstats["drange_span"]
    n_chunks = cstats["n_chunks"]

    # -- stage 4: compressed segments, chunked by drange -------------------
    for chunk in range(n_chunks):
        if resume and store.chunk_done(chunk):
            continue
        chunk_postings = postings.filter(
            (F.col("doc_id") / drange_span).cast("long") % n_chunks == chunk
        )
        payload = write_chunk(
            spark, chunk_postings, f"{store.segments_path}/chunk={chunk}",
            chunk, "transcripts", avgdl, drange_span, n_buckets,
        )
        tick(f"chunk {chunk} encode+write")
        # written AFTER the chunk's _SUCCESS so chunk_done => both exist
        store.write_manifest(chunk, payload)
        tick(f"chunk {chunk} manifest")
        if fail_after_chunk is not None and chunk == fail_after_chunk:
            raise RuntimeError(f"injected failure after chunk {chunk}")

    elapsed = time.time() - t0
    stats = store.corpus_stats()
    stats["last_build_secs"] = elapsed
    store.write_corpus_stats(stats)
    return store
