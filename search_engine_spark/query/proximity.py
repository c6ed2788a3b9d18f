"""Proximity (NEAR/w) matching: docs where two terms co-occur within a
position window, served from the positional segment family.

The reference engine has no proximity operator (its QueryProcessor matches
exact phrases only, ``QueryProcessor.java:226-273``); this is the standard
fulltext extension (Lucene's sloppy ``PhraseQuery`` / ``SpanNearQuery``,
unordered form): ``a NEAR/3 b`` matches a doc when some position of ``a``
and some position of ``b`` differ by at most 3 ordinals (positions are
ordinals over the surviving analyzed stream — stopwords between the words
don't widen the gap, same convention as the phrase path).

Spark plan — identical shape to the phrase segment path (the 100 TB plan):
pruned columnar scan of the two terms' segment rows (``phrase.segment_scan``:
tbucket partition dirs + pushed term filter, scored blobs + positional
stream only), ONE shuffle of compressed per-(term, drange) blobs grouped by
drange, then a per-range kernel behind the serve path's one Arrow shard
boundary (``phrase.shard_map``, ``applyInArrow``: Arrow table in, typed
Arrow columns out, no pandas). The kernel intersects the compact docID
streams, block-skip decodes only the candidate docs' positional blocks
(``phrase.gather_candidate_keys``), and counts qualifying pairs with two
``searchsorted`` probes per occurrence of the rarer side — no pair
materialization, no per-doc Python loop.

``pair_count`` = |{(pa, pb) : |pa - pb| <= w}| per doc — the natural
tf analog for proximity scoring (``near_topk`` feeds it through the same
synthetic-term BM25 as phrase matches).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..index.deletes import live_filter
from ..index.storage import IndexStore
from .phrase import (
    _POS_BITS,
    decode_segment_parts,
    gather_candidate_keys,
    part_ids,
    score_phrase_matches,
    segment_scan,
    shard_map,
)

# gather_candidate_keys guarantees pos < 2^_POS_BITS - 64, so a window up
# to 63 can never carry pa + w across the composite key's docID boundary
MAX_WINDOW = 63


def _near_kernel(term_a: str, term_b: str, window: int):
    """Shard kernel (see ``phrase.shard_map``) over ONE doc-range's segment
    rows: emits (doc_id, pair_count, doc_len) for docs where ``term_a`` and
    ``term_b`` co-occur within ``window`` positions."""

    def shard(table) -> dict | None:
        parts_of = decode_segment_parts(table)
        if term_a not in parts_of or term_b not in parts_of:
            return None
        cand = np.intersect1d(
            part_ids(parts_of[term_a]), part_ids(parts_of[term_b]),
            assume_unique=True,
        )
        if cand.size == 0:
            return None
        ga = gather_candidate_keys(parts_of[term_a], cand)
        gb = gather_candidate_keys(parts_of[term_b], cand)
        if ga is None or gb is None:
            return None
        keys_a, dl_ids, dl_vals = ga
        keys_b = gb[0]
        # per occurrence of a: count b-positions in [pa - w, pa + w],
        # clamped to the doc's own key block (pa - w may underflow into the
        # previous doc's high positions; pa + w cannot overflow — gather
        # guarantees pos < 2^_POS_BITS - 64 and w <= 63)
        doc_floor = (keys_a >> _POS_BITS) << _POS_BITS
        lo = np.maximum(keys_a - window, doc_floor)
        hi = keys_a + window
        cnt = np.searchsorted(keys_b, hi, side="right") - np.searchsorted(
            keys_b, lo, side="left"
        )
        if not cnt.any():
            return None
        docs = keys_a >> _POS_BITS
        uniq, inv = np.unique(docs, return_inverse=True)
        sums = np.bincount(inv, weights=cnt).astype(np.int64)
        keep = sums > 0
        mdoc = uniq[keep]
        # doc_len lookup: one posting per (term, doc) -> dl_ids unique asc
        return {
            "doc_id": mdoc,
            "pair_count": sums[keep],
            "doc_len": dl_vals[np.searchsorted(dl_ids, mdoc)],
        }

    return shard


def _near_all(
    spark: SparkSession,
    store: IndexStore,
    term_a: str,
    term_b: str,
    window: int,
) -> DataFrame:
    """Every segment match of ``term_a NEAR/window term_b``, tombstoned docs
    included (the df ``score_phrase_matches`` counts)."""
    if term_a == term_b:
        raise ValueError("NEAR requires two distinct analyzed terms")
    if not (1 <= int(window) <= MAX_WINDOW):
        raise ValueError(f"NEAR window must be in [1, {MAX_WINDOW}]")
    scan = segment_scan(spark, store, [term_a, term_b])
    return shard_map(
        scan,
        _near_kernel(term_a, term_b, int(window)),
        "doc_id long, pair_count long, doc_len long",
    )


def near_matches(
    spark: SparkSession,
    store: IndexStore,
    term_a: str,
    term_b: str,
    window: int,
) -> DataFrame:
    """Docs where ``term_a`` and ``term_b`` (analyzed terms) co-occur
    within ``window`` positions: (doc_id, pair_count, doc_len), tombstone-
    filtered. Served entirely from the segment family — see module doc."""
    return live_filter(
        spark, store, _near_all(spark, store, term_a, term_b, window)
    )


def _near_chain_kernel(terms: list[str], window: int):
    """Shard kernel (see ``phrase.shard_map``) over ONE doc-range's segment
    rows for the ORDERED n-term span chain: emits (doc_id, chain_count,
    doc_len) where ``chain_count`` = |{p1 : exists p1 < p2 < ... < pn,
    term_i at p_i, pn - p1 <= window}| — the number of first-term anchors
    that open a valid ordered span (Lucene SpanNearQuery inOrder=true
    semantics with the span bound as the window).

    Greedy-minimal chaining is exact here: taking the SMALLEST next
    position > current at every link minimizes the final position, so an
    anchor has a valid chain iff its greedy chain satisfies the span bound
    (induction: greedy position <= any valid chain's position per link).
    Per-link-gap semantics would NOT admit this greedy argument — span is
    both the Lucene model and the vectorizable one."""

    def shard(table) -> dict | None:
        parts_of = decode_segment_parts(table)
        if any(t not in parts_of for t in terms):
            return None
        cand = part_ids(parts_of[terms[0]])
        for t in terms[1:]:
            cand = np.intersect1d(cand, part_ids(parts_of[t]), assume_unique=True)
            if cand.size == 0:
                return None
        gathered = [gather_candidate_keys(parts_of[t], cand) for t in terms]
        if any(g is None for g in gathered):
            return None
        keys0, dl_ids, dl_vals = gathered[0]
        # greedy chain walk over composite (doc << _POS_BITS | pos) keys:
        # one searchsorted per link, no per-doc Python. A link that walks
        # past a doc boundary inflates the span far beyond MAX_WINDOW (the
        # codec guarantees pos < 2^_POS_BITS - 64), so the final span check
        # also enforces doc containment.
        chain = keys0
        dead = np.zeros(keys0.size, dtype=bool)
        for g in gathered[1:]:
            nxt = g[0]
            j = np.searchsorted(nxt, chain, side="right")
            oob = j >= nxt.size
            chain = np.where(oob, chain, nxt[np.minimum(j, nxt.size - 1)])
            dead |= oob
            if dead.all():
                return None
        ok = ~dead & (chain - keys0 <= window)
        if not ok.any():
            return None
        docs = keys0[ok] >> _POS_BITS
        uniq, inv = np.unique(docs, return_inverse=True)
        return {
            "doc_id": uniq,
            "chain_count": np.bincount(inv),
            "doc_len": dl_vals[np.searchsorted(dl_ids, uniq)],
        }

    return shard


def _near_chain_all(
    spark: SparkSession,
    store: IndexStore,
    terms: list[str],
    window: int,
) -> DataFrame:
    """Every segment match of the ordered span chain, tombstoned docs
    included (the df ``score_phrase_matches`` counts)."""
    if len(terms) < 2 or len(set(terms)) != len(terms):
        raise ValueError("NEAR chain requires >=2 distinct analyzed terms")
    if not (1 <= int(window) <= MAX_WINDOW):
        raise ValueError(f"NEAR window must be in [1, {MAX_WINDOW}]")
    scan = segment_scan(spark, store, terms)
    return shard_map(
        scan,
        _near_chain_kernel(list(terms), int(window)),
        "doc_id long, chain_count long, doc_len long",
    )


def near_chain_matches(
    spark: SparkSession,
    store: IndexStore,
    terms: list[str],
    window: int,
) -> DataFrame:
    """Docs matching the ordered n-term span chain (see
    ``_near_chain_kernel``): (doc_id, chain_count, doc_len), tombstone-
    filtered. Same pruned-scan + per-drange-kernel plan as ``near_matches``
    — scan cost grows with the terms' posting sizes, kernel cost with the
    candidate intersection, never with corpus size."""
    return live_filter(
        spark, store, _near_chain_all(spark, store, terms, window)
    )


def near_chain_topk(
    spark: SparkSession,
    store: IndexStore,
    terms: list[str],
    window: int,
    k: int | None = 10,
) -> DataFrame:
    """Top-k ordered-chain docs scored like a synthetic phrase term (BM25
    with tf = chain_count, df = |matching docs|) — identical scoring shape
    to ``near_topk`` and the phrase path."""
    matches = _near_chain_all(spark, store, terms, window).select(
        "doc_id",
        F.col("chain_count").alias("phrase_count"),
        "doc_len",
    )
    return score_phrase_matches(spark, store, matches, k=k)


def near_topk(
    spark: SparkSession,
    store: IndexStore,
    term_a: str,
    term_b: str,
    window: int,
    k: int | None = 10,
) -> DataFrame:
    """Top-k NEAR/w docs scored like a synthetic phrase term (BM25 with
    tf = pair_count, df = |matching docs|) — the same scoring the phrase
    path applies to exact-adjacency matches."""
    matches = _near_all(spark, store, term_a, term_b, window).select(
        "doc_id",
        F.col("pair_count").alias("phrase_count"),
        "doc_len",
    )
    return score_phrase_matches(spark, store, matches, k=k)
