"""Delete / re-index (S10 analog): tombstones exclude docs from every query
path immediately; compaction restores exact fresh-build statistics."""

import pytest

from search_engine_spark.corpus import HEAD_TERMS, VOCAB, generate_pandas
from search_engine_spark.index.builder import build_index
from search_engine_spark.index.deletes import compact, mark_deleted, tombstones
from search_engine_spark.oracle import build_oracle_index, score_query, topk
from search_engine_spark.query.pipeline import search

QUERY = f"{HEAD_TERMS[0]} {VOCAB[0]}"
PHRASE_Q = f'"{VOCAB[0]} {VOCAB[1]}"'
NEAR_Q = f"{HEAD_TERMS[0]} NEAR/3 {HEAD_TERMS[1]}"
CHAIN_Q = f"{VOCAB[1]} NEAR/8 {VOCAB[0]} NEAR/8 {VOCAB[2]}"
# synthetic-term queries whose df is counted over their match set
MATCH_QUERIES = (PHRASE_Q, NEAR_Q, CHAIN_Q)


def _served(spark, store, q, k=10**6):
    return [
        (int(r["doc_id"]), float(r["score"]))
        for r in search(spark, store, q, k=k, with_metadata=False).collect()
    ]


@pytest.fixture(scope="module")
def deleted_setup(spark, transcripts_pdf, tmp_path_factory):
    d = tmp_path_factory.mktemp("del") / "ix"
    store = build_index(
        spark, spark.createDataFrame(transcripts_pdf), str(d),
        drange_span=64, n_chunks=2,
    )
    # delete the docs that top the term query and each match query before
    # deletion; keep each match query's full pre-delete list
    before = {q: _served(spark, store, q) for q in MATCH_QUERIES}
    victims = [doc for doc, _ in _served(spark, store, QUERY, k=3)]
    for q in MATCH_QUERIES:
        assert len(before[q]) > 2, q
        victims += [doc for doc, _ in before[q][:2] if doc not in victims]
    mark_deleted(spark, store, victims)
    return store, victims, before


def test_tombstones_exclude_from_all_paths(spark, deleted_setup):
    store, victims, _ = deleted_setup
    for engine in ("df", "wand"):
        got = search(
            spark, store, QUERY, k=10, engine=engine, with_metadata=False
        ).collect()
        assert got, engine
        assert not set(victims) & {r["doc_id"] for r in got}, engine
    ph = search(spark, store, PHRASE_Q, k=10, with_metadata=False).collect()
    assert not set(victims) & {r["doc_id"] for r in ph}


def test_df_and_wand_agree_under_tombstones(spark, deleted_setup):
    store, _, _ = deleted_setup
    a = search(spark, store, QUERY, k=10, engine="df", with_metadata=False).collect()
    b = search(spark, store, QUERY, k=10, engine="wand", with_metadata=False).collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in a] == [
        (r["doc_id"], round(r["score"], 9)) for r in b
    ]


def test_match_query_scores_stay_put_until_compaction(
    spark, transcripts_pdf, deleted_setup
):
    """Between a delete and its compaction n_docs, avgdl and term df still
    count the deleted docs; the df of a phrase or NEAR match set must count
    them too. So the served list is the pre-delete list minus the victims,
    and the phrase list equals the pre-delete oracle's minus the victims."""
    store, victims, before = deleted_setup
    gone = set(victims)
    oix = build_oracle_index(transcripts_pdf)
    exp = [
        (d, s) for d, s in topk(score_query(oix, PHRASE_Q), 10**9)
        if d not in gone
    ][:10]
    got = _served(spark, store, PHRASE_Q, k=10)
    assert [d for d, _ in got] == [d for d, _ in exp]
    assert all(abs(a - b) <= 1e-9 for (_, a), (_, b) in zip(got, exp))
    for q in MATCH_QUERIES:
        exp = [(d, s) for d, s in before[q] if d not in gone]
        got = _served(spark, store, q)
        assert [d for d, _ in got] == [d for d, _ in exp], q
        assert all(
            abs(a - b) <= 1e-9 for (_, a), (_, b) in zip(got, exp)
        ), q


def test_compaction_restores_fresh_build_semantics(
    spark, transcripts_pdf, deleted_setup
):
    store, victims, _ = deleted_setup
    compact(spark, store)
    assert tombstones(spark, store) is None
    assert store.corpus_stats()["n_docs"] == len(transcripts_pdf) - len(victims)

    # oracle over the surviving corpus, with ORIGINAL doc ids: compaction
    # must not renumber survivors (stable ids = stable external references)
    oix = build_oracle_index(transcripts_pdf)
    surviving = set(range(len(transcripts_pdf))) - set(victims)
    import pandas as pd

    surv_pdf = (
        transcripts_pdf.sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
        .loc[sorted(surviving)]
    )
    oix2 = build_oracle_index(surv_pdf)
    # oracle renumbers densely; map dense ids back to original ids
    idmap = dict(enumerate(sorted(surviving)))
    exp = [
        (idmap[d], round(s, 9))
        for d, s in topk(score_query(oix2, QUERY), 10)
    ]
    for engine in ("df", "wand"):
        got = [
            (r["doc_id"], round(r["score"], 9))
            for r in search(
                spark, store, QUERY, k=10, engine=engine, with_metadata=False
            ).collect()
        ]
        assert got == exp, engine


def test_batches_after_compaction_start_past_the_largest_id(spark, tmp_path):
    """Compaction keeps the survivors' ids, so n_docs falls below the
    largest live id: an appended or merged batch must start past that id,
    or its docs take the ids of live ones."""
    from search_engine_spark.index.merge import merge_store
    from search_engine_spark.streaming.incremental import append_batch

    def built(name, n_convs, seed):
        return build_index(
            spark, spark.createDataFrame(generate_pandas(n_convs, seed=seed)),
            str(tmp_path / name), drange_span=64,
        )

    store = built("ix", 6, 3)
    n = store.corpus_stats()["n_docs"]
    mark_deleted(spark, store, [0, n - 1])
    compact(spark, store)
    n_new = append_batch(
        spark, store, spark.createDataFrame(generate_pandas(2, seed=4))
    )
    n_new += merge_store(spark, store, built("src", 2, 5))
    ids = sorted(r["doc_id"] for r in store.docs(spark).collect())
    assert ids == list(range(1, n - 1)) + list(range(n, n + n_new))
