"""Reader memo (storage._read_cached): repeated reads reuse the constructed
DataFrame (no re-listing); ANY filesystem mutation of the artifact — full
overwrite, replace_dir, or a publish() dropping files into partition
subdirs — must invalidate via the mtime fingerprint."""

import time

from pyspark.sql import functions as F


def _mk_store(tmp_path):
    from search_engine_spark.index.storage import IndexStore

    return IndexStore(str(tmp_path / "ix"))


def test_repeat_reads_reuse_reader(spark, tmp_path):
    store = _mk_store(tmp_path)
    spark.range(5).select(
        F.col("id").alias("doc_id"), F.lit("t").alias("term")
    ).write.parquet(store.postings_path)
    a = store.postings(spark)
    b = store.postings(spark)
    assert a is b


def test_overwrite_invalidates(spark, tmp_path):
    store = _mk_store(tmp_path)
    spark.range(5).select(F.col("id").alias("doc_id")).write.parquet(
        store.postings_path
    )
    a = store.postings(spark)
    assert a.count() == 5
    time.sleep(0.01)  # distinct mtime_ns even on coarse filesystems
    spark.range(9).select(F.col("id").alias("doc_id")).write.mode(
        "overwrite"
    ).parquet(store.postings_path)
    b = store.postings(spark)
    assert b is not a
    assert b.count() == 9


def test_publish_into_partition_subdir_invalidates(spark, tmp_path):
    store = _mk_store(tmp_path)
    spark.range(4).select(
        F.col("id").alias("doc_id"), (F.col("id") % 2).cast("int").alias("tbucket")
    ).write.partitionBy("tbucket").parquet(store.postings_path)
    assert store.postings(spark).count() == 4
    time.sleep(0.01)
    # streaming-append shape: new files appear INSIDE tbucket=N/ dirs
    staging = store.staging_dir("b1")
    spark.range(4, 6).select(
        F.col("id").alias("doc_id"), (F.col("id") % 2).cast("int").alias("tbucket")
    ).write.partitionBy("tbucket").parquet(staging)
    store.publish(staging, store.postings_path, "b1-")
    assert store.postings(spark).count() == 6


def test_memo_is_per_session(spark, tmp_path):
    """A newSession() shares the SparkContext (same application id) but
    must get a reader bound to itself, never another session's frame."""
    store = _mk_store(tmp_path)
    spark.range(3).select(F.col("id").alias("doc_id")).write.parquet(
        store.postings_path
    )
    other = spark.newSession()
    a = store.postings(spark)
    b = store.postings(other)
    assert a.sparkSession is spark
    assert b.sparkSession is other
    assert store.postings(other) is b
    assert store.postings(spark) is a
    assert b.count() == 3


def test_tombstone_reader_is_memoized(spark, tmp_path):
    """Queries between a delete and its compaction reuse one tombstone
    reader; every mark_deleted append invalidates it."""
    from search_engine_spark.index.deletes import mark_deleted, tombstones

    store = _mk_store(tmp_path)
    assert tombstones(spark, store) is None
    mark_deleted(spark, store, [1, 2])
    a = tombstones(spark, store)
    assert tombstones(spark, store) is a
    mark_deleted(spark, store, [3])
    b = tombstones(spark, store)
    assert b is not a
    assert sorted(r["doc_id"] for r in b.collect()) == [1, 2, 3]
