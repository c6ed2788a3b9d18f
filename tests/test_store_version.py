"""Every store mutation against every driver-side cache.

On a copy of a small store, each writer runs once: a streaming append, a
merge, a logical delete, a compaction, a popularity writeback and a
rebuild into the same dir. Afterwards a WAND query (scores and enriched
metadata) and a prefix expansion must serve the new state, checked against
the brute-force oracle. The memo's idf and expansion entries must be
replaced by each stats commit (a new ``store_version``) and kept by the
mutations that do not commit; the tombstone bloom must be rebuilt by each
change of the tombstone table."""

import shutil
from types import SimpleNamespace

import numpy as np
import pytest
from pyspark.sql import functions as F

from search_engine_spark.corpus import HEAD_TERMS
from search_engine_spark.graph.pagerank import write_popularity
from search_engine_spark.index import storage
from search_engine_spark.index.builder import build_index
from search_engine_spark.index.deletes import (
    compact,
    mark_deleted,
    tombstone_bloom,
)
from search_engine_spark.index.merge import merge_store
from search_engine_spark.index.storage import IndexStore
from search_engine_spark.oracle import build_oracle_index, score_query, topk
from search_engine_spark.query.pipeline import search
from search_engine_spark.query.suggest import PREFIX_EXPAND_LIMIT, expand_prefix
from search_engine_spark.streaming.incremental import append_batch

SPLIT = "conv_00000020"  # conv ids are conv_%08d
QUERY = f"{HEAD_TERMS[0]} {HEAD_TERMS[1]}"
PREFIX = "s"
K = 10


def _build(spark, df, d, resume=True):
    return build_index(
        spark, df, d, drange_span=32, n_chunks=1, resume=resume
    )


@pytest.fixture(scope="module")
def ctx(spark, transcripts_df, transcripts_pdf, tmp_path_factory):
    d = tmp_path_factory.mktemp("matrix")
    head = transcripts_df.filter(F.col("conv_id") < SPLIT)
    tail = transcripts_df.filter(F.col("conv_id") >= SPLIT)
    return SimpleNamespace(
        head=head,
        tail=tail,
        base=_build(spark, head, str(d / "base")),
        src=_build(spark, tail, str(d / "src")),
        head_pdf=transcripts_pdf[transcripts_pdf["conv_id"] < SPLIT],
        all_pdf=transcripts_pdf,
    )


def _top(spark, store) -> int:
    rows = search(
        spark, store, QUERY, k=1, engine="wand", with_metadata=False
    ).collect()
    return int(rows[0]["doc_id"])


# mutation(spark, store, ctx, victim) -> (corpus the statistics count, live
# doc ids or None for all, tombstoned ids)
def _append(spark, store, ctx, victim):
    append_batch(spark, store, ctx.tail)
    return ctx.all_pdf, None, set()


def _merge(spark, store, ctx, victim):
    merge_store(spark, store, ctx.src)
    return ctx.all_pdf, None, set()


def _delete(spark, store, ctx, victim):
    again = _top(spark, store)
    mark_deleted(spark, store, [again])
    return ctx.head_pdf, None, {victim, again}


def _compact(spark, store, ctx, victim):
    compact(spark, store)
    return ctx.head_pdf, set(range(len(ctx.head_pdf))) - {victim}, set()


def _popularity(spark, store, ctx, victim):
    ranks = spark.createDataFrame([(0, 1.0), (1, 0.0)], "node long, rank double")
    write_popularity(spark, store, ranks)
    assert "popularity" in store.docs(spark).columns
    return ctx.head_pdf, None, set()


def _rebuild(spark, store, ctx, victim):
    _build(spark, ctx.head, str(store.dir), resume=False)
    return ctx.head_pdf, None, set()


# name -> (mutation, commits the statistics, runs on a store with a tombstone)
CASES = {
    "append_batch": (_append, True, False),
    "merge_store": (_merge, True, False),
    "mark_deleted": (_delete, False, True),
    "compact": (_compact, True, True),
    "write_popularity": (_popularity, False, False),
    "rebuild": (_rebuild, True, False),
}


def _entry(name: str, store: IndexStore):
    return storage._MEMO[(name, str(store.dir))][1]


def _serve(spark, store):
    rows = search(spark, store, QUERY, k=K, engine="wand").collect()
    return rows, expand_prefix(spark, store, PREFIX)


def _expected(corpus, live, deleted):
    """(top-k, expansions, (conv_id, turn_idx) by doc id) of the oracle over
    the rows of ``corpus`` in ``live``, minus ``deleted``."""
    ordered = corpus.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    ids = sorted(live) if live is not None else list(range(len(ordered)))
    oix = build_oracle_index(ordered.loc[ids].reset_index(drop=True))
    scores = {
        ids[d]: s for d, s in score_query(oix, QUERY).items()
        if ids[d] not in deleted
    }
    expansions = sorted(
        (t for t in oix.df if t.startswith(PREFIX)),
        key=lambda t: (-oix.df[t], t),
    )[:PREFIX_EXPAND_LIMIT]
    meta = dict(zip(ordered.index, zip(ordered["conv_id"], ordered["turn_idx"])))
    return topk(scores, K), expansions, meta


@pytest.mark.parametrize("case", list(CASES))
def test_mutation_refreshes_every_cache(spark, ctx, tmp_path, case):
    mutate, commits, tombstoned = CASES[case]
    store = IndexStore(str(tmp_path / "ix"))
    shutil.copytree(ctx.base.dir, store.dir)
    victim = None
    if tombstoned:
        victim = _top(spark, store)
        mark_deleted(spark, store, [victim])
    _serve(spark, store)  # fills the readers, the idf and expansion entries
    idf0, expand0 = _entry("idf", store), _entry("expand", store)
    bloom0 = tombstone_bloom(spark, store)
    assert (bloom0 is not None) == tombstoned
    version0 = store.corpus_stats()["store_version"]

    corpus, live, deleted = mutate(spark, store, ctx, victim)

    rows, expansions = _serve(spark, store)
    want, want_expansions, meta = _expected(corpus, live, deleted)
    assert [r["doc_id"] for r in rows] == [d for d, _ in want]
    for r, (_, score) in zip(rows, want):
        assert r["score"] == pytest.approx(score, rel=1e-9)
        assert (r["conv_id"], r["turn_idx"]) == meta[r["doc_id"]]
    assert expansions == want_expansions

    assert (store.corpus_stats()["store_version"] != version0) == commits
    assert (_entry("idf", store) is not idf0) == commits
    assert (_entry("expand", store) is not expand0) == commits
    if tombstoned:
        bloom = tombstone_bloom(spark, store)
        assert bloom is not bloom0
        if deleted:
            ids = np.array(sorted(deleted), dtype=np.int64)
            assert bloom.contains_many(ids).all()
        else:
            assert bloom is None
