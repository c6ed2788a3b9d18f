"""Positional segment streams (VERDICT r3 next #1): per-block skip data for
phrase/logical queries served straight from the compressed segments.

Covers: codec roundtrip (reference encoder == production encoder, block
slicing == full stream), exact parity between the segment kernel and the
brute-force oracle on a multi-chunk index, streaming-append interleaving,
and the plan property that the scored WAND path never reads the fat
positions column (P1 for segments)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from search_engine_spark.analysis import analyze_query
from search_engine_spark.corpus import HEAD_TERMS, VOCAB
from search_engine_spark.oracle import phrase_match_counts
from search_engine_spark.query.phrase import phrase_matches_multi


def test_positional_codec_roundtrip():
    from search_engine_spark.index.codec import (
        BLOCK_SIZE,
        PositionalSegment,
        encode_positions_segment,
        varbyte_decode,
        varbyte_encode,
    )

    rng = np.random.default_rng(11)
    pos_lists = [
        np.sort(rng.choice(500, size=rng.integers(1, 9), replace=False))
        for _ in range(3 * BLOCK_SIZE + 17)  # 4 blocks, last partial
    ]
    blobs = [varbyte_encode(p.astype(np.int64)) for p in pos_lists]
    seg = PositionalSegment(encode_positions_segment(blobs))
    assert seg.n_blocks == 4
    # whole-stream decode equals the flat concatenation
    tf = np.array([len(p) for p in pos_lists])
    flat = np.concatenate(pos_lists)
    got = varbyte_decode(seg.block_bytes(0, seg.n_blocks), int(tf.sum()))
    assert np.array_equal(got, flat)
    # each single block decodes to exactly its postings' positions
    tf_cum = np.concatenate(([0], np.cumsum(tf)))
    for bi in range(seg.n_blocks):
        lo = bi * BLOCK_SIZE
        hi = min((bi + 1) * BLOCK_SIZE, len(pos_lists))
        cnt = int(tf_cum[hi] - tf_cum[lo])
        blk = varbyte_decode(seg.block_bytes(bi, bi + 1), cnt)
        assert np.array_equal(blk, flat[tf_cum[lo]:tf_cum[hi]])


def test_production_encoder_matches_reference(spark, index_store):
    """Every segment row's positions column must equal the reference
    encoder applied to that group's postings-table position blobs in doc
    order."""
    from search_engine_spark.index.codec import encode_positions_segment

    drange_span = index_store.corpus_stats()["drange_span"]
    seg_rows = {
        (r["term"], int(r["drange"])): bytes(r["positions"])
        for r in index_store.segments(spark)
        .select("term", "drange", "positions")
        .collect()
    }
    assert seg_rows, "index has no segments"
    post = (
        index_store.postings(spark)
        .select("term", "doc_id", "positions")
        .collect()
    )
    groups: dict = {}
    for r in post:
        key = (r["term"], int(r["doc_id"]) // drange_span)
        groups.setdefault(key, []).append(
            (int(r["doc_id"]), bytes(r["positions"]))
        )
    assert set(groups) == set(seg_rows)
    for key, rows in groups.items():
        rows.sort()
        expect = encode_positions_segment([b for _, b in rows])
        assert seg_rows[key] == expect, key


@pytest.mark.parametrize(
    "sides",
    [
        [[HEAD_TERMS[0], HEAD_TERMS[1]]],
        [[VOCAB[0], VOCAB[1]], [VOCAB[4], VOCAB[5]]],
        [[HEAD_TERMS[0]], ["nonexistentterm", VOCAB[2]]],
    ],
)
def test_segment_kernel_matches_oracle(spark, index_store, oracle_index, sides):
    got = sorted(
        tuple(r)
        for r in phrase_matches_multi(spark, index_store, sides).collect()
    )
    dl = dict(zip(oracle_index.docs["doc_id"], oracle_index.docs["doc_len"]))
    exp = sorted(
        (si, d, c, int(dl[d]))
        for si, ts in enumerate(sides)
        for d, c in phrase_match_counts(oracle_index, ts).items()
    )
    assert got == exp
    assert got, "at least one side should match on the fixture"


def test_appended_chunks_interleave(spark, transcripts_df, tmp_path):
    """A (term, drange) pair whose postings span the base build and an
    appended chunk must merge in docID order inside the segment kernel."""
    from search_engine_spark.index.builder import build_index
    from search_engine_spark.streaming.incremental import append_batch

    half = transcripts_df.filter(F.col("conv_id") < "conv-0020")
    rest = transcripts_df.filter(F.col("conv_id") >= "conv-0020")
    d = str(tmp_path / "ixapp")
    store = build_index(spark, half, d, drange_span=64, n_chunks=1)
    append_batch(spark, store, rest)
    full = build_index(
        spark, transcripts_df, str(tmp_path / "ixfull"),
        drange_span=64, n_chunks=1,
    )
    q = [HEAD_TERMS[0], HEAD_TERMS[1]]
    got = sorted(
        (int(r["doc_id"]), int(r["phrase_count"]))
        for r in phrase_matches_multi(spark, store, [q]).collect()
    )
    exp = sorted(
        (int(r["doc_id"]), int(r["phrase_count"]))
        for r in phrase_matches_multi(spark, full, [q]).collect()
    )
    # append assigns the same dense docIDs the full build would
    assert got == exp
    assert got, "phrase should match somewhere in the corpus"


def test_wand_never_reads_positions_column(spark, index_store):
    """P1 for segments: the scored WAND scan must stay pruned to the
    postings blob — the fat positional stream is phrase-path-only."""
    from search_engine_spark.query.wand import bm25_topk_wand

    df = bm25_topk_wand(spark, index_store, analyze_query("spark index"), k=10)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    seg_scans = [
        p for p in plan.split("Scan parquet") if "/segments]" in p
    ]
    assert seg_scans, plan
    for s in seg_scans:
        read = s.split("ReadSchema", 1)[1].split("\n", 1)[0]
        assert "positions" not in read, read
