"""Regression tests for the segment phrase adjacency kernel
(query/phrase.py): exactness under tiny Arrow batches, non-default bucket
counts, and the composite-key overflow guard."""

from __future__ import annotations

import numpy as np
import pytest

from search_engine_spark.corpus import HEAD_TERMS, VOCAB
from search_engine_spark.oracle import score_query, topk
from search_engine_spark.query.phrase import phrase_matches
from search_engine_spark.query.pipeline import search


def _phrase_counts(spark, store, terms):
    rows = phrase_matches(spark, store, terms).collect()
    return sorted((int(r["doc_id"]), int(r["phrase_count"])) for r in rows)


def test_kernel_correct_when_partitions_span_many_arrow_batches(
    spark, index_store, oracle_index
):
    """A (term, drange) group's segment rows come from different tbucket
    scan tasks and chunks; the per-drange kernel must see the whole group
    however Arrow batches the shuffle. Force tiny batches (every group
    spans MANY batches) and assert the kernel still matches the
    brute-force oracle, and with normal batches gives the same counts."""
    from search_engine_spark.analysis import analyze_query

    phrase_q = f'"{HEAD_TERMS[0]} {HEAD_TERMS[1]}"'
    terms = analyze_query(phrase_q.replace('"', " "))
    conf = spark.conf
    old = conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        got = _phrase_counts(spark, index_store, terms)
    finally:
        conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    exp = topk(score_query(oracle_index, phrase_q), 10**9)
    # oracle top-k over ALL matches: same doc set
    assert [d for d, _ in got] == sorted(d for d, _ in exp)
    # and with normal batches, byte-identical counts
    assert got == _phrase_counts(spark, index_store, terms)


def test_nondefault_bucket_count_index(spark, transcripts_df, oracle_index,
                                       tmp_path):
    """The segment scan / candidates_for_terms / WAND must prune with the
    STORE's bucket count, not the module default 64 — an index built with
    n_buckets=7 used to scan the wrong partition dirs and return empty."""
    from search_engine_spark.index.builder import build_index

    store7 = build_index(
        spark, transcripts_df, str(tmp_path / "ix7"),
        drange_span=64, n_chunks=2, n_buckets=7,
    )
    queries = [
        f"{VOCAB[0]} {VOCAB[5]}",
        f'"{HEAD_TERMS[0]} {HEAD_TERMS[1]}"',
        f'"{VOCAB[0]} {VOCAB[1]}" OR "{VOCAB[4]} {VOCAB[5]}"',
    ]
    for q in queries:
        exp = topk(score_query(oracle_index, q), 10)
        for engine in ("df", "wand"):
            got = search(
                spark, store7, q, k=10, engine=engine, with_metadata=False
            ).collect()
            assert [int(r["doc_id"]) for r in got] == [d for d, _ in exp], (
                q, engine,
            )


def test_position_overflow_fails_loudly():
    """A position at/over 2^21-64 would corrupt the composite doc<<21|pos
    key — gathering a candidate's positions must raise, not silently
    mis-match."""
    from search_engine_spark.index.codec import (
        PositionalSegment,
        encode_positions_segment,
        varbyte_encode,
    )
    from search_engine_spark.query.phrase import gather_candidate_keys

    bad_pos = varbyte_encode(np.array([5, (1 << 21) - 1], dtype=np.int64))
    part = {
        "ids": np.array([1], dtype=np.int64),
        "tfs": np.array([2], dtype=np.int64),
        "dls": np.array([10], dtype=np.int64),
        "pos": PositionalSegment(encode_positions_segment([bad_pos])),
    }
    with pytest.raises(ValueError, match="composite phrase key"):
        gather_candidate_keys([part], np.array([1], dtype=np.int64))
