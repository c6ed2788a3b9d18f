"""Block-Max WAND top-k over the compressed segment index.

The reference scores EVERY candidate then globally sorts
(``Ranker/ParallelRanker.java:18-33``) — O(candidates). Block-Max WAND
(Broder et al. 2003; Ding & Suel 2011) skips documents whose score upper
bound cannot enter the top-k, using per-block max impacts stored at build
time (codec.py).

Distribution model: segments are grouped by ``drange`` (docID range shard).
Each shard holds every query term's postings restricted to its range, so
the block-max traversal (``blockmax_topk_segments``) is shard-local and
runs behind the serve path's one Arrow shard boundary (``phrase.shard_map``);
each shard emits its local top-k and the driver merge is
``TakeOrderedAndProject`` over shards — the two-level top-k from SURVEY.md
§3.1.

Correctness with ties: docIDs are traversed ascending and ties break by
doc_id ascending, so pruning with ``upper_bound <= threshold`` (strict
keep-if-greater) is exact.
"""

from __future__ import annotations

import heapq
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..index.build import term_bucket_py
from ..index.codec import BM25_B, BM25_K1, PostingSegment
from ..index.storage import (
    TERM_STATS_DDL, IndexStore, any_equal, read_arrow, store_memo,
)
from .phrase import shard_map


def _seg_entries(bufs) -> list[tuple[bytes, float]]:
    """Normalize a term's segment list: entries are either raw ``bytes`` or
    ``(bytes, bound_scale)``. ``bound_scale`` inflates the STORED block-max
    impacts (computed at encode-time avgdl) into a valid upper bound at the
    current query-time avgdl: impact is monotone increasing in avgdl and
    impact(avgdl_q) <= impact(avgdl_e) * avgdl_q/avgdl_e whenever
    avgdl_q > avgdl_e, so scale = max(1, avgdl_q/avgdl_e) is safe. Exact
    scoring always recomputes from (tf, dl) with the query-time avgdl."""
    out = []
    for b in bufs:
        if isinstance(b, tuple):
            out.append((b[0], float(b[1])))
        else:
            out.append((b, 1.0))
    return out


def blockmax_topk_segments(
    term_segments: dict[str, list[bytes]],
    term_weights: dict[str, float],
    avgdl: float,
    k: int,
    excluded=None,
    suspect_of=None,
    boost: bool = False,
) -> list[tuple[int, float]]:
    """Block-max top-k over one drange shard. ``term_segments`` maps each
    query term to its encoded segment buffers within the shard (docID-sorted,
    disjoint) — raw ``bytes`` or ``(bytes, bound_scale)`` (see
    ``_seg_entries``). Returns [(doc_id, score)] sorted by (-score, doc_id).

    The WAND pruning principle applied at block granularity (a la block-max
    maxscore): docID space is processed in regions bounded by the current
    blocks' last-docIDs; a region whose upper bound (sum of the overlapping
    blocks' max impacts x weights) cannot beat the current threshold is
    skipped WITHOUT decoding; regions that survive are scored exactly with
    dense numpy accumulation, so no per-document Python loop survives.
    Ascending docID order + doc_id-asc tie-break makes `ub <= threshold`
    pruning exact (checked against a brute-force scorer in
    tests/test_wand_kernels.py).

    ``suspect_of`` (optional, a bloom with ``contains_many``) switches on
    the tombstone-suspect protocol: bloom-positive docs never enter the
    top-k heap (so the pruning threshold is driven by certainly-live docs
    only — conservative, exact) but any that beat the insertion condition
    are returned separately for exact downstream verification; the return
    becomes ``(top, suspects, spilled)``. Exactness: if a suspect fails the
    insertion condition, k live docs in this shard already rank above it
    (ties break doc_id-asc and docIDs ascend), so it cannot be in the
    global top-k. The suspect list itself is BOUNDED to the shard's k best
    suspects (mass-deleting the whole top would otherwise make it
    corpus-sized — a driver-scale hazard): if every retained suspect
    verifies live, anything evicted is dominated by k live docs and the
    bound is exact; ``spilled=True`` with a retained suspect that verifies
    DELETED is the one (detectable, rare) case where an evicted
    bloom-false-positive could have qualified, and the caller must fall
    back to the exact path.
    """
    segs: list[tuple[PostingSegment, float]] = []
    bound_scales: list[float] = []
    # TERM-SORTED segment order: region scoring concatenates per-segment
    # contributions and np.add.at sums them sequentially per doc, so this
    # fixes the float summation order to sorted-term — bit-identical to the
    # DataFrame path's deterministic term-sorted sum (a (term, doc) pair
    # lives in exactly one segment, so ordering across terms is the only
    # freedom).
    for term in sorted(term_segments):
        w = term_weights[term]
        for buf, scale in _seg_entries(term_segments[term]):
            if buf:
                segs.append((PostingSegment(buf), w))
                bound_scales.append(scale)
    if not segs:
        return ([], [], False) if suspect_of is not None else []

    n = len(segs)
    cur_block = np.zeros(n, dtype=np.int64)          # current block index
    n_blocks = np.array([s.n_blocks for s, _ in segs], dtype=np.int64)
    weights = np.array([w for _, w in segs], dtype=np.float64)
    # stored impacts were computed at encode-time avgdl; scale them into a
    # valid bound at query-time avgdl (see _seg_entries)
    ub_weights = weights * np.array(bound_scales, dtype=np.float64)
    # first docID of the current block per segment (for region entry check)
    first_doc = np.array(
        [s.block(0)[0][0] if s.n_blocks else np.iinfo(np.int64).max for s, _ in segs],
        dtype=np.int64,
    )
    INF = np.iinfo(np.int64).max

    heap: list[tuple[float, int]] = []
    # bounded k-best suspect heap + spill flag (see docstring)
    suspects: list[tuple[float, int]] = []
    sus_spilled = False
    decoded: dict[tuple[int, int], tuple] = {}

    def block_last(i):
        s = segs[i][0]
        b = cur_block[i]
        return int(s.last_doc_ids[b]) if b < n_blocks[i] else INF

    def block_first(i):
        return int(first_doc[i])

    while True:
        active = [i for i in range(n) if cur_block[i] < n_blocks[i]]
        if not active:
            break
        # region = [min first, min last] over active current blocks
        region_end = min(block_last(i) for i in active)
        overlapping = [i for i in active if block_first(i) <= region_end]
        threshold = heap[0][0] if len(heap) >= k else float("-inf")
        ub = sum(
            float(
                ub_weights[i]
                * (
                    segs[i][0].wimpacts[cur_block[i]]
                    if boost
                    else segs[i][0].impacts[cur_block[i]]
                )
            )
            for i in overlapping
        )
        if ub > threshold and overlapping:
            # exact scoring of the region: decode overlapping blocks once,
            # slice to region, dense-accumulate
            ids_parts, score_parts = [], []
            for i in overlapping:
                key = (i, int(cur_block[i]))
                if key not in decoded:
                    d_ids, d_tfs, d_dls = segs[i][0].block(int(cur_block[i]))
                    tf = d_tfs.astype(np.float64)
                    dl = d_dls.astype(np.float64)
                    imp = tf * (BM25_K1 + 1.0) / (
                        tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / avgdl)
                    )
                    if boost:
                        # (weight*impact)*w grouping matches the DataFrame
                        # path bit-for-bit; fold w AFTER the qtf*idf weight
                        # by carrying it as a separate factor
                        decoded[key] = (
                            d_ids, imp,
                            segs[i][0].block_weights(int(cur_block[i])),
                        )
                    else:
                        decoded[key] = (d_ids, imp, None)
                d_ids, imp = decoded[key][0], decoded[key][1]
                hi = int(np.searchsorted(d_ids, region_end, side="right"))
                if hi:
                    ids_parts.append(d_ids[:hi])
                    part = weights[i] * imp[:hi]
                    if boost:
                        part = part * decoded[key][2][:hi]
                    score_parts.append(part)
            if ids_parts:
                all_ids = np.concatenate(ids_parts)
                all_scores = np.concatenate(score_parts)
                uniq, inv = np.unique(all_ids, return_inverse=True)
                sums = np.zeros(uniq.size, dtype=np.float64)
                np.add.at(sums, inv, all_scores)
                if len(heap) >= k:
                    mask = sums > heap[0][0]
                else:
                    mask = np.ones(uniq.size, dtype=bool)
                if excluded is not None and len(excluded):
                    mask &= ~np.isin(uniq, excluded)
                if suspect_of is not None and mask.any():
                    # maybe-deleted docs: route to the suspect channel
                    # (verified exactly downstream) instead of the live heap
                    sus = mask & suspect_of.contains_many(uniq)
                    if sus.any():
                        mask &= ~sus
                        for doc, sc in zip(uniq[sus], sums[sus]):
                            entry = (float(sc), -int(doc))
                            if len(heap) < k or entry > heap[0]:
                                if len(suspects) < k:
                                    heapq.heappush(suspects, entry)
                                elif entry > suspects[0]:
                                    heapq.heapreplace(suspects, entry)
                                    sus_spilled = True
                                else:
                                    sus_spilled = True
                for doc, sc in zip(uniq[mask], sums[mask]):
                    entry = (float(sc), -int(doc))
                    if len(heap) < k:
                        heapq.heappush(heap, entry)
                    elif entry > heap[0]:
                        heapq.heapreplace(heap, entry)
        # advance every segment whose current block ends at region_end and
        # drop the consumed prefix of partially-consumed blocks
        for i in overlapping:
            key = (i, int(cur_block[i]))
            if block_last(i) <= region_end:
                decoded.pop(key, None)
                s = segs[i][0]
                prev_last = int(s.last_doc_ids[cur_block[i]])
                cur_block[i] += 1
                if cur_block[i] < n_blocks[i]:
                    # lower bound on the next block's first docID (exact value
                    # would need a decode); conservative for the overlap test,
                    # the UB stays a valid upper bound either way
                    first_doc[i] = prev_last + 1
                else:
                    first_doc[i] = INF
            elif key in decoded:
                d_ids, imp, wv = decoded[key]
                lo = int(np.searchsorted(d_ids, region_end, side="right"))
                decoded[key] = (
                    d_ids[lo:], imp[lo:], wv[lo:] if wv is not None else None
                )
                first_doc[i] = int(d_ids[lo]) if lo < d_ids.size else block_last(i)
            else:
                # block never decoded (region skipped): conservative bound
                first_doc[i] = region_end + 1
        # segments not overlapping the region keep their position

    out = [(-nd, s) for s, nd in heap]
    out.sort(key=lambda x: (-x[1], x[0]))
    if suspect_of is not None:
        return out, [(-nd, s) for s, nd in suspects], sus_spilled
    return out


# driver-side term-stats cache: {term: bm25_idf | None}, one per committed
# store version (an entry of the store memo, ``storage.store_memo``). None
# memoizes "term not in the index" so absent terms are not re-read on every
# query. Every stats commit (build, append, merge, compaction) starts a
# fresh entry; logical deletes intentionally do NOT invalidate (stats stay
# stale until compaction by design).
_IDF_MAX_TERMS = 100_000


def _cached_term_idf(
    spark: SparkSession, store: IndexStore, terms: list[str], n_buckets: int
) -> dict[str, float | None]:
    cache = store_memo(store, "idf", dict)
    missing = sorted(t for t in set(terms) if t not in cache)
    if missing:
        # a point read on the driver (no Spark job) of the query terms'
        # tbucket partitions only
        buckets = sorted({term_bucket_py(t, n_buckets) for t in missing})
        found = read_arrow(
            store.term_stats_path, TERM_STATS_DDL, ["term", "bm25_idf"],
            ds.field("tbucket").isin(buckets) & any_equal("term", missing),
        ).to_pydict()
        if len(cache) + len(missing) > _IDF_MAX_TERMS:
            cache.clear()
        for t in missing:
            cache[t] = None
        for t, idf in zip(found["term"], found["bm25_idf"]):
            cache[t] = float(idf)
    return {t: cache.get(t) for t in set(terms)}


def bm25_topk_wand(
    spark: SparkSession,
    store: IndexStore,
    terms: list[str],
    k: int = 10,
    boost: bool = False,
) -> DataFrame:
    """Distributed block-max WAND: pruned segment scan -> per-drange WAND ->
    global top-k merge. Rank-identical to ``bm25.bm25_topk``.

    ``boost=True`` applies the stored per-posting role weights (the
    transcripts analog of the reference's in-title boost,
    ``Ranker/ParallelRanker.java:86-104``) using the segment codec's weight
    stream and per-block boosted block-max bounds — bit-identical to
    ``bm25_topk(boost=True)``."""
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double")
    cstats = store.corpus_stats()
    avgdl = cstats["avgdl"]
    n_buckets = cstats["n_buckets"]
    qtf = Counter(terms)
    uniq = sorted(qtf)
    buckets = sorted({term_bucket_py(t, n_buckets) for t in uniq})

    # per-term idf from the driver-side stats cache (the reference's
    # in-memory GlobalStats analog); a miss is a driver read of the terms'
    # stats partitions, not a Spark job. Measured alternatives at the
    # 3.9M-turn index: a pruned-scan collect costs ~0.6 s per query; joining
    # the weights onto the segment rows as an in-job broadcast costs ~0.6 s
    # MORE than the collect (the broadcast exchange adds a full AQE stage).
    # Uses the STORED bm25_idf column — the very value the DataFrame path
    # scores with, so engine parity does not lean on np.log and JVM log
    # agreeing to the last ulp.
    idf_of = _cached_term_idf(spark, store, uniq, n_buckets)
    weights = {
        t: qtf[t] * idf_of[t] for t in uniq if idf_of.get(t) is not None
    }
    if not weights:
        return spark.createDataFrame([], "doc_id long, score double")
    b_weights = spark.sparkContext.broadcast(weights)

    # Tombstoned docs are excluded inside the shard scorers via a broadcast
    # BLOOM filter (fixed-size regardless of delete volume — the id set
    # never reaches the driver; a 10^8-row dedup delete set broadcasts the
    # same few MB). Bloom-positive docs that would have made a shard's
    # top-k come back as "suspects" and are verified exactly against the
    # tombstone table below — bloom false positives cost a lookup, never a
    # wrong result.
    from ..index.deletes import tombstone_bloom, verify_suspects

    bloom = tombstone_bloom(spark, store)
    b_excl = spark.sparkContext.broadcast(bloom)

    # per-chunk encode-time avgdl: stored block-max impacts are only a valid
    # upper bound at the avgdl they were encoded with; after streaming
    # appends the corpus avgdl drifts, so inflate each chunk's bounds by
    # max(1, avgdl_now / encode_avgdl) (exact scores are always recomputed
    # from tf/dl with the current avgdl — ranks stay df-path-identical).
    bound_scale_by_chunk = {
        int(m["chunk"]): (
            max(1.0, avgdl / float(m["encode_avgdl"]))
            if float(m.get("encode_avgdl") or 0.0) > 0.0
            else 1.0
        )
        for m in store.manifests()
    }
    b_scales = spark.sparkContext.broadcast(bound_scale_by_chunk)

    segs = (
        store.segments(spark)
        .filter(F.col("tbucket").isin(buckets))
        .filter(F.col("term").isin(uniq))
        .select("term", "drange", "postings", "chunk")
    )

    def shard_wand(table: pa.Table) -> dict:
        term_segments: dict[str, list] = {}
        cols = table.select(["term", "postings", "chunk"]).to_pydict()
        for term, buf, chunk in zip(*cols.values()):
            scale = b_scales.value.get(chunk, 1.0)
            term_segments.setdefault(term, []).append((buf, scale))
        bl = b_excl.value
        if bl is None:
            top = blockmax_topk_segments(
                term_segments, b_weights.value, avgdl, k, boost=boost
            )
            sus, spilled = [], False
        else:
            top, sus, spilled = blockmax_topk_segments(
                term_segments, b_weights.value, avgdl, k, suspect_of=bl,
                boost=boost,
            )
        return {
            "doc_id": [d for d, _ in top] + [d for d, _ in sus],
            "score": [s for _, s in top] + [s for _, s in sus],
            "suspect": [False] * len(top) + [True] * len(sus),
            "spilled": [spilled] * (len(top) + len(sus)),
        }

    local = shard_map(
        segs,
        shard_wand,
        "doc_id long, score double, suspect boolean, spilled boolean",
    )
    if bloom is None:
        return (
            local.select("doc_id", "score")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )
    # exact suspect resolution: the per-shard suspect lists are bounded to k
    # entries each (driver-sized by construction even under mass deletion of
    # the top results), so materialize once, verify the suspect ids against
    # the tombstone table with a driver read, and take the final
    # top-k over live ∪ verified-live.
    rows = local.collect()
    verified_deleted = verify_suspects(
        spark, store, [int(r["doc_id"]) for r in rows if r["suspect"]]
    )
    # exactness guard for the suspect-heap bound: a shard that EVICTED
    # suspects and had one of its k retained suspects verify deleted may
    # have dropped a live bloom-false-positive contender (requires >k
    # suspects above the live threshold in one shard AND a deletion among
    # its k best AND a false positive below them — detectable, rare). Fall
    # back to the exact DataFrame path, which anti-filters tombstones
    # without blooms.
    if any(
        r["spilled"] and r["suspect"] and int(r["doc_id"]) in verified_deleted
        for r in rows
    ):
        from .bm25 import bm25_topk

        return bm25_topk(spark, store, terms, k=k, boost=boost)
    final = [
        (int(r["doc_id"]), float(r["score"]))
        for r in rows
        if not (r["suspect"] and int(r["doc_id"]) in verified_deleted)
    ]
    final.sort(key=lambda x: (-x[1], x[0]))
    top = final[:k]
    return spark.createDataFrame(
        pa.table({"doc_id": [d for d, _ in top], "score": [s for _, s in top]}),
        "doc_id long, score double",
    )
