"""The store format check: ``corpus.json`` carries one ``format_version``,
every writer leaves the current one, and a store without it fails at its
first stats read with ``StoreFormatError`` instead of deep inside a kernel."""

import json
import os

import pytest
from pyspark.sql import functions as F

from search_engine_spark.corpus import HEAD_TERMS
from search_engine_spark.index.builder import build_index
from search_engine_spark.index.deletes import compact, mark_deleted
from search_engine_spark.index.merge import merge_store
from search_engine_spark.index.storage import (
    FORMAT_VERSION,
    IndexStore,
    StoreFormatError,
)
from search_engine_spark.query.pipeline import search
from search_engine_spark.streaming.incremental import append_batch

SPLIT = "conv-0020"
PHRASE_Q = f'"{HEAD_TERMS[0]} {HEAD_TERMS[1]}"'


def _write_stats(store: IndexStore, stats: dict) -> None:
    store.corpus_stats_path.parent.mkdir(parents=True, exist_ok=True)
    store.corpus_stats_path.write_text(json.dumps(stats))


@pytest.mark.parametrize(
    "version", [None, 0, FORMAT_VERSION - 1, FORMAT_VERSION + 1]
)
def test_other_format_is_refused_by_name(tmp_path, version):
    store = IndexStore(str(tmp_path / "old"))
    stats = {"n_docs": 1, "avgdl": 1.0, "n_buckets": 64, "stem": True}
    if version is not None:
        stats["format_version"] = version
    _write_stats(store, stats)
    with pytest.raises(StoreFormatError) as e:
        store.corpus_stats()
    assert str(store.dir) in str(e.value)
    assert "rebuild" in str(e.value)


def _build(spark, df, d):
    return build_index(spark, df, d, drange_span=32, n_chunks=1)


def _after_build(spark, df, tmp_path):
    return _build(spark, df, str(tmp_path / "b"))


def _after_append(spark, df, tmp_path):
    store = _build(
        spark, df.filter(F.col("conv_id") < SPLIT), str(tmp_path / "a")
    )
    append_batch(spark, store, df.filter(F.col("conv_id") >= SPLIT))
    return store


def _after_merge(spark, df, tmp_path):
    dst = _build(
        spark, df.filter(F.col("conv_id") < SPLIT), str(tmp_path / "dst")
    )
    src = _build(
        spark, df.filter(F.col("conv_id") >= SPLIT), str(tmp_path / "src")
    )
    merge_store(spark, dst, src)
    return dst


def _after_compact(spark, df, tmp_path):
    store = _build(spark, df, str(tmp_path / "c"))
    mark_deleted(spark, store, [0, 3])
    compact(spark, store)
    return store


@pytest.mark.parametrize(
    "mutate", [_after_build, _after_append, _after_merge, _after_compact],
    ids=["build", "append_batch", "merge", "compact"],
)
def test_every_writer_leaves_a_store_that_opens(
    spark, transcripts_df, tmp_path, mutate
):
    store = mutate(spark, transcripts_df, tmp_path)
    stats = store.corpus_stats()
    assert stats["format_version"] == FORMAT_VERSION
    # a fresh handle on the same dir opens too, and serves
    again = IndexStore(str(store.dir))
    assert again.corpus_stats() == stats
    assert search(spark, again, PHRASE_Q, k=5, with_metadata=False).collect()


def test_old_store_fails_at_first_stats_read(spark, transcripts_df, tmp_path):
    """A store written without ``format_version`` (as every store before
    the field was) is refused at its first stats read, by the serve path
    of every query class and by the writers."""
    store = _build(spark, transcripts_df, str(tmp_path / "old"))
    stats = store.corpus_stats()
    del stats["format_version"]
    _write_stats(store, stats)
    for q in (PHRASE_Q, HEAD_TERMS[0], f"{HEAD_TERMS[0]} NEAR/3 {HEAD_TERMS[1]}"):
        for engine in ("df", "wand"):
            with pytest.raises(StoreFormatError, match="rebuild"):
                search(spark, store, q, k=5, engine=engine)
    with pytest.raises(StoreFormatError):
        append_batch(spark, store, transcripts_df)


def test_failed_commit_keeps_the_old_stats(tmp_path, monkeypatch):
    """corpus.json is the store's commit record: a writer that dies before
    its commit completes leaves the previous stats readable, and every
    commit mints a new store_version."""
    store = IndexStore(str(tmp_path / "s"))
    store.write_corpus_stats({"format_version": FORMAT_VERSION, "n_docs": 1})
    old = store.corpus_stats()

    def crash(src, dst):
        raise OSError("killed mid-commit")

    monkeypatch.setattr(os, "replace", crash)
    with pytest.raises(OSError, match="mid-commit"):
        store.write_corpus_stats(
            {"format_version": FORMAT_VERSION, "n_docs": 2}
        )
    monkeypatch.undo()
    assert store.corpus_stats() == old
    store.write_corpus_stats({"format_version": FORMAT_VERSION, "n_docs": 2})
    new = store.corpus_stats()
    assert new["n_docs"] == 2
    assert new["store_version"] != old["store_version"]
