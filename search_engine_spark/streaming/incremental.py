"""Incremental index append via Structured Streaming.

The reference re-indexes incrementally with a dirty flag + ``$pull`` cleanup
(``Indexer/Indexer.java:558-560,694-779``). The immutable-build equivalent
here: new transcript files (new Iceberg snapshots in production) arrive in a
watched directory; an ``availableNow`` streaming query drains them in
batches, and each batch appends a self-contained index delta:

* new docs get docIDs AFTER the current max (dense continuation) — within a
  batch the stable (conv_id, turn_idx) ordering is preserved;
* postings/positions append to the same bucket layout;
* term/corpus stats are recomputed from the merged postings (df and idf are
  global properties — the reference pays a full second pass every build,
  Indexer.java:391-548; here it's one cheap pruned-column aggregation);
* the batch's postings are encoded into a NEW segment chunk. Its doc ranges
  are disjoint from existing chunks (ids start past the old max), so
  block-max WAND simply sees extra per-(term,drange) iterators — queries
  stay correct with no segment rewrite.

foreachBatch is at-least-once (a crash between the batch's writes and the
streaming checkpoint commit replays the batch), so the append is made
idempotent per batch_id: committed batch_ids are recorded in the store's
stream ledger (replays skip), the docID base + chunk number are pinned in
the ledger at first attempt, and data files are staged then published under
batch-prefixed names with a purge of any earlier failed attempt's files —
a retried partial batch republishes the SAME artifacts instead of appending
duplicates. Exactly-once = at-least-once delivery + this idempotent commit.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..corpus import TRANSCRIPTS_SCHEMA_DDL
from ..index.build import (
    assign_doc_ids,
    build_postings,
    corpus_counts,
    term_bucket_col,
    with_terms,
    write_chunk,
    write_term_stats,
)
from ..index.storage import IndexStore


def append_batch(
    spark: SparkSession,
    store: IndexStore,
    batch_df: DataFrame,
    batch_id: int | None = None,
) -> int:
    """Append one micro-batch of new transcripts to an existing index.
    Returns the number of turns appended. Idempotent per ``batch_id`` (see
    module docstring); ``batch_id=None`` (direct batch calls) still goes
    through the staged-publish path but skips the replay check."""
    if batch_df.isEmpty():
        return 0
    ledger = store.read_ledger()
    key = str(batch_id) if batch_id is not None else None
    if key is not None and key in ledger["committed"]:
        return 0
    cstats = store.corpus_stats()
    n_buckets = cstats["n_buckets"]
    drange_span = cstats["drange_span"]

    # pin docID base + chunk number at first attempt so a retried partial
    # batch reproduces the same artifacts
    if key is not None and key in ledger["inflight"]:
        base = int(ledger["inflight"][key]["base"])
        new_chunk = int(ledger["inflight"][key]["chunk"])
    else:
        base = cstats["next_doc_id"]
        new_chunk = max((m["chunk"] for m in store.manifests()), default=-1) + 1
        if key is not None:
            ledger["inflight"][key] = {"base": base, "chunk": new_chunk}
            store.write_ledger(ledger)
    # distinct namespaces: stream batch_ids ("b<id>-") and direct-call chunk
    # numbers ("c<chunk>-") advance on the same small integers — one shared
    # prefix would let a later stream replay's unpublish() delete a direct
    # append's already-published files (and vice versa)
    prefix = f"b{key}-" if key is not None else f"c{new_chunk}-"
    # purge data files from a failed earlier attempt of this batch
    for target in (store.docs_path, store.postings_path):
        store.unpublish(target, prefix)

    cleanup: list[DataFrame] = []
    ids = assign_doc_ids(batch_df, cleanup=cleanup).withColumn(
        "doc_id", F.col("doc_id") + F.lit(base)
    )
    analyzed = with_terms(ids, stem=cstats["stem"]).persist()
    cleanup.append(analyzed)
    docs = (
        analyzed.withColumn("doc_len", F.size("terms"))
        .withColumn("content_hash", F.sha2(F.col("text"), 256))
        .drop("terms")
    )
    stage = store.staging_dir(f"{prefix}docs")
    docs.write.mode("overwrite").parquet(stage)
    store.publish(stage, store.docs_path, prefix)

    postings_all = build_postings(analyzed).persist()
    cleanup.append(postings_all)
    compact = postings_all.withColumn(
        "tbucket", term_bucket_col(F.col("term"), n_buckets)
    )
    stage = store.staging_dir(f"{prefix}postings")
    (
        compact.sortWithinPartitions("tbucket", "term")
        .write.mode("overwrite")
        .partitionBy("tbucket")
        .parquet(stage)
    )
    store.publish(stage, store.postings_path, prefix)
    n_new = analyzed.count()

    # global stats: recompute from the merged tables (pruned columns)
    n_docs, avgdl = corpus_counts(store.docs(spark))
    write_term_stats(
        store.postings(spark), n_docs, n_buckets, store.term_stats_path
    )

    # encode the delta into a new chunk (doc ranges disjoint from old chunks;
    # chunk number pinned -> overwrite is retry-safe)
    store.write_manifest(new_chunk, write_chunk(
        spark, compact, f"{store.segments_path}/chunk={new_chunk}", new_chunk,
        "transcripts-stream", avgdl, drange_span, n_buckets,
    ))
    for df_ in cleanup:
        df_.unpersist()

    cstats.update(
        {"n_docs": n_docs, "next_doc_id": base + n_new, "avgdl": avgdl,
         "n_chunks": new_chunk + 1, "last_append_unix": time.time()}
    )
    store.write_corpus_stats(cstats)
    # commit: inflight -> committed (atomic ledger rewrite)
    ledger = store.read_ledger()
    if key is not None:
        ledger["inflight"].pop(key, None)
        ledger["committed"][key] = {"chunk": new_chunk, "n_turns": n_new}
        store.write_ledger(ledger)
    return n_new


def incremental_index_stream(
    spark: SparkSession,
    store: IndexStore,
    input_path: str,
    checkpoint_path: str,
    available_now: bool = True,
):
    """Watch ``input_path`` for new transcript parquet files and append each
    micro-batch to the index. ``availableNow`` drains what exists and stops
    (the snapshot-catchup pattern); pass False for a continuous stream."""
    stream = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA_DDL)
        .parquet(input_path)
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        append_batch(spark, store, batch_df, batch_id=batch_id)

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_path
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
