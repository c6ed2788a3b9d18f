"""Kernel-level exactness of the shard scorer, the vectorized block-max
region scorer (``blockmax_topk_segments``), against a brute-force
reference."""

import numpy as np
import pytest

from search_engine_spark.index.codec import bm25_idf, encode_postings
from search_engine_spark.query.wand import blockmax_topk_segments


def _brute(term_segments_raw, weights, avgdl, k):
    scores = {}
    for term, (ids, tfs, dls) in term_segments_raw.items():
        w = weights[term]
        for d, tf, dl in zip(ids, tfs, dls):
            imp = tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
            scores[int(d)] = scores.get(int(d), 0.0) + w * imp
    return sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:k]


@pytest.mark.parametrize("seed", range(8))
@pytest.mark.parametrize("k", [1, 5, 37])
def test_kernels_match_brute_force(seed, k):
    rng = np.random.default_rng(seed)
    avgdl = 25.0
    n_docs = 5000
    raw, enc, weights = {}, {}, {}
    for t in range(rng.integers(1, 6)):
        term = f"t{t}"
        n = int(rng.integers(1, 2000))
        ids = np.sort(rng.choice(n_docs, size=n, replace=False)).astype(np.int64)
        tfs = rng.integers(1, 8, n)
        dls = rng.integers(5, 60, n)
        raw[term] = (ids, tfs, dls)
        enc[term] = [encode_postings(ids, tfs, dls, avgdl, block_size=64)]
        weights[term] = float(rng.integers(1, 3)) * float(bm25_idf(n_docs, n))

    exp = [(d, round(s, 10)) for d, s in _brute(raw, weights, avgdl, k)]
    got = [
        (d, round(s, 10)) for d, s in blockmax_topk_segments(enc, weights, avgdl, k)
    ]
    assert got == exp


def test_multiple_disjoint_buffers_per_term():
    # streaming appends produce several docID-disjoint segments per term
    avgdl = 10.0
    ids1 = np.array([1, 5, 9], dtype=np.int64)
    ids2 = np.array([100, 104], dtype=np.int64)
    tf = np.array([2, 1, 3], dtype=np.int64)
    dl = np.array([10, 10, 10], dtype=np.int64)
    enc = {
        "x": [
            encode_postings(ids1, tf, dl, avgdl),
            encode_postings(ids2, tf[:2], dl[:2], avgdl),
        ]
    }
    w = {"x": 1.0}
    raw = {"x": (np.concatenate([ids1, ids2]), np.concatenate([tf, tf[:2]]),
                 np.concatenate([dl, dl[:2]]))}
    exp = [(d, round(s, 10)) for d, s in _brute(raw, w, avgdl, 3)]
    got = blockmax_topk_segments(enc, w, avgdl, 3)
    assert [(d, round(s, 10)) for d, s in got] == exp


def test_empty_and_tiny():
    assert blockmax_topk_segments({}, {}, 10.0, 5) == []
    enc = {"x": [encode_postings(np.array([7], dtype=np.int64),
                                 np.array([1]), np.array([4]), 10.0)]}
    out = blockmax_topk_segments(enc, {"x": 2.0}, 10.0, 5)
    assert len(out) == 1 and out[0][0] == 7
