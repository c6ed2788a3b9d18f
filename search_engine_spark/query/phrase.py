"""Exact-phrase matching over the positional segments (J2 + J3).

The reference intersects posting doc-sets term-by-term
(``QueryProcessor.java:150-178``) then checks positional adjacency per doc
(``QueryProcessor.java:226-273``: for each position p of term_1, term_i must
contain p+i-1). Positions are ordinals over the surviving analyzed stream
(``Indexer.java:231-247``), so "fast key" matches even when a stopword stood
between the two words in the raw text — semantics preserved here.

Spark plan (the 100 TB shape), shared by single phrases, the phrase leaves
of logical queries and the NEAR operators (proximity.py):

1. **pruned columnar scan of the terms' segment rows** (``segment_scan``:
   tbucket partition dirs + pushed term filter): per (term, drange) the
   compressed docID/tf/dl blob and its block-skippable positional stream
   (``codec.PositionalSegment``).
2. **one shuffle of those blobs grouped by drange** — a few MB of
   compressed bytes, never per-posting rows.
3. **per-range kernel** (``shard_map``: one ``applyInArrow`` boundary
   shared with the WAND and NEAR kernels, Arrow in and out, no pandas):
   intersect the compact docID streams first — the reference's doc-set
   intersection, done before any position is touched — then decode ONLY
   the positional blocks holding a candidate, build int64 keys
   ``doc_id << 21 | pos`` and chain membership probes per phrase offset —
   no per-doc Python. Output is one row per matching doc.

Scoring (``score_phrase_matches``) counts the synthetic phrase term's df
over every segment match and only then drops tombstoned docs: between a
delete and its compaction ``n_docs`` and term df still count the deleted
docs, so the phrase df must count them too.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from ..index.storage import IndexStore

# positions are ordinals within a doc; doc_len < 2^21 leaves 42 bits of
# docID headroom in the composite int64 key
_POS_BITS = 21


def _in_sorted(values: np.ndarray, table: np.ndarray) -> np.ndarray:
    """Membership of ``values`` in a SORTED unique ``table`` via one
    searchsorted — both arrays come out of segment decodes already ordered,
    so this avoids np.isin's internal sort."""
    if table.size == 0 or values.size == 0:
        return np.zeros(values.shape, dtype=bool)
    j = np.searchsorted(table, values)
    ok = j < table.size
    out = np.zeros(values.shape, dtype=bool)
    out[ok] = table[j[ok]] == values[ok]
    return out


def gather_candidate_keys(
    parts: list[dict], cand: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray] | None:
    """Composite ``doc_id << _POS_BITS | pos`` keys for the candidate docs'
    positions of ONE term, decoded with per-block skips: only positional
    blocks whose posting range contains a candidate are varbyte-decoded
    (contiguous needed blocks decode as single runs; gaps skip at byte
    granularity). ``parts`` is the per-chunk list a segment kernel builds
    (``ids``/``tfs``/``dls`` arrays + ``pos`` PositionalSegment per chunk,
    chunks in ascending docID order). Returns ``(keys, dl_ids, dl_vals)``
    — keys ascending, dl arrays aligned per surviving posting — or ``None``
    when no candidate posting exists. Shared by the phrase/logical segment
    kernel and the proximity (NEAR/w) kernel."""
    from ..index.codec import BLOCK_SIZE, varbyte_decode

    key_chunks, dl_id_chunks, dl_chunks = [], [], []
    for p in parts:
        ids, tfs = p["ids"], p["tfs"]
        sel = np.flatnonzero(_in_sorted(ids, cand))
        if sel.size == 0:
            continue
        dl_id_chunks.append(ids[sel])
        dl_chunks.append(p["dls"][sel])
        tf_cum = np.concatenate(([0], np.cumsum(tfs)))
        blocks = np.unique(sel // BLOCK_SIZE)
        # contiguous needed blocks decode as one run (one varbyte
        # call); gaps between runs are skipped at byte granularity
        splits = np.flatnonzero(np.diff(blocks) > 1) + 1
        for run in np.split(blocks, splits):
            b0, b1 = int(run[0]), int(run[-1]) + 1
            lo = b0 * BLOCK_SIZE
            hi = min(b1 * BLOCK_SIZE, ids.size)
            cnt = int(tf_cum[hi] - tf_cum[lo])
            pos_run = varbyte_decode(p["pos"].block_bytes(b0, b1), cnt)
            in_run = sel[(sel >= lo) & (sel < hi)]
            s0 = tf_cum[in_run] - tf_cum[lo]
            s1 = tf_cum[in_run + 1] - tf_cum[lo]
            counts = s1 - s0
            total = int(counts.sum())
            if total == 0:
                continue
            shift = np.concatenate(([0], np.cumsum(counts)[:-1]))
            idx = np.arange(total, dtype=np.int64) + np.repeat(
                s0 - shift, counts
            )
            pos_sel = pos_run[idx]
            if int(pos_sel.max()) >= (1 << _POS_BITS) - 64:
                raise ValueError(
                    f"position {int(pos_sel.max())} >= "
                    f"2^{_POS_BITS} - 64; doc too long for the "
                    "composite phrase key"
                )
            doc_rep = np.repeat(ids[in_run], counts)
            key_chunks.append((doc_rep << _POS_BITS) | pos_sel)
    if not key_chunks:
        return None
    return (
        np.concatenate(key_chunks),
        np.concatenate(dl_id_chunks),
        np.concatenate(dl_chunks),
    )


def decode_segment_parts(table: pa.Table) -> dict[str, list[dict]]:
    """Per-term chunk parts from ONE doc-range's segment rows: decode the
    compact docID/tf/dl streams, keep the positional stream as a lazily
    block-decodable ``PositionalSegment``. A (term, drange) pair can span
    multiple chunks after streaming appends — chunks occupy disjoint
    ascending docID ranges, so sorting parts by first docID restores global
    order. Shared by the phrase/logical and proximity segment kernels."""
    from ..index.codec import PositionalSegment, PostingSegment

    parts_of: dict[str, list[dict]] = {}
    cols = table.select(["term", "postings", "positions"]).to_pydict()
    for t, pb, xb in zip(*cols.values()):
        ids, tfs, dls = PostingSegment(pb).decode_all()
        parts_of.setdefault(t, []).append(
            {"ids": ids, "tfs": tfs, "dls": dls, "pos": PositionalSegment(xb)}
        )
    for parts in parts_of.values():
        parts.sort(key=lambda p: int(p["ids"][0]))
    return parts_of


def part_ids(parts: list[dict]) -> np.ndarray:
    """Every docID of one term's chunk parts, ascending (parts come sorted
    out of ``decode_segment_parts``)."""
    if len(parts) == 1:
        return parts[0]["ids"]
    return np.concatenate([p["ids"] for p in parts])


def _seg_kernel(sides: list[list[str]]):
    """Shard kernel (see ``shard_map``) over ONE doc-range's segment rows:
    decode the compact docID/tf/dl streams fully (they are the candidate
    intersection input), then decode ONLY the positional blocks whose
    posting range contains a candidate — the per-block skip directory
    (``codec.PositionalSegment``) turns the rest of the positions stream
    into byte-range skips. Emits (side, doc_id, phrase_count, doc_len) per
    matched side."""
    side_sets = [sorted(set(ts)) for ts in sides]

    def shard(table: pa.Table) -> dict | None:
        parts_of = decode_segment_parts(table)

        # candidate docs per side: docs containing ALL the side's terms —
        # the classic intersect-before-positions order, on in-memory
        # sorted id arrays
        side_cands: list[np.ndarray] = []
        for ss in side_sets:
            if any(t not in parts_of for t in ss):
                side_cands.append(np.empty(0, np.int64))
                continue
            cand = part_ids(parts_of[ss[0]])
            for t in ss[1:]:
                if cand.size == 0:
                    break
                cand = np.intersect1d(
                    cand, part_ids(parts_of[t]), assume_unique=True
                )
            side_cands.append(cand)
        if not any(c.size for c in side_cands):
            return None

        term_keys: dict[str, np.ndarray] = {}
        term_dl: dict[str, tuple[np.ndarray, np.ndarray]] = {}
        for t, parts in parts_of.items():
            cand = None
            for si, ss in enumerate(side_sets):
                if t in ss and side_cands[si].size:
                    cand = (
                        side_cands[si]
                        if cand is None
                        else np.union1d(cand, side_cands[si])
                    )
            if cand is None or cand.size == 0:
                continue
            gathered = gather_candidate_keys(parts, cand)
            if gathered is not None:
                keys, dl_ids, dl_vals = gathered
                term_keys[t] = keys
                term_dl[t] = (dl_ids, dl_vals)

        outs = []
        for si, ts in enumerate(sides):
            cand = side_cands[si]
            if cand.size == 0 or any(t not in term_keys for t in ts):
                continue
            k0 = term_keys[ts[0]]
            starts = k0[_in_sorted(k0 >> _POS_BITS, cand)]
            for i, t in enumerate(ts[1:], start=1):
                if starts.size == 0:
                    break
                starts = starts[np.isin(starts + i, term_keys[t])]
            if starts.size == 0:
                continue
            mdoc, mcnt = np.unique(starts >> _POS_BITS, return_counts=True)
            dl_ids, dl_vals = term_dl[ts[0]]
            outs.append((np.full(mdoc.size, si, dtype=np.int32), mdoc, mcnt,
                         dl_vals[np.searchsorted(dl_ids, mdoc)]))
        if not outs:
            return None
        cols = ("side", "doc_id", "phrase_count", "doc_len")
        return dict(zip(cols, map(np.concatenate, zip(*outs))))

    return shard


def segment_scan(
    spark: SparkSession, store: IndexStore, terms: list[str]
) -> DataFrame:
    """Pruned columnar scan of the terms' segment rows: tbucket partition
    dirs (the STORE's bucket count) + pushed term filter, reading the
    scored blob and the positional stream. Shared by the phrase/logical and
    proximity kernels, which group it by drange."""
    from ..index.build import term_bucket_py

    n_buckets = store.corpus_stats()["n_buckets"]
    uniq = sorted(set(terms))
    buckets = sorted({term_bucket_py(t, n_buckets) for t in uniq})
    return (
        store.segments(spark)
        .filter(F.col("tbucket").isin(buckets))
        .filter(F.col("term").isin(uniq))
        .select("term", "drange", "postings", "positions")
    )


def shard_map(scan: DataFrame, kernel, schema: str) -> DataFrame:
    """The serve path's one shard-kernel boundary (WAND, phrase/logical,
    NEAR, NEAR chain): run ``kernel`` once per drange group on its
    ``pyarrow.Table``. The kernel returns a dict of column arrays, or
    ``None`` for no rows; the typed output is built here from the DDL
    ``schema``."""
    arrow_schema = to_arrow_schema(StructType.fromDDL(schema))

    def run(table):
        cols = kernel(table)
        if cols is None:
            return arrow_schema.empty_table()
        return pa.Table.from_pydict(cols, schema=arrow_schema)

    return scan.groupBy("drange").applyInArrow(run, schema=schema)


def phrase_matches_multi(
    spark: SparkSession, store: IndexStore, sides: list[list[str]]
) -> DataFrame:
    """Match SEVERAL exact phrases in one kernel pass ->
    (side, doc_id, phrase_count, doc_len), side = index into ``sides``.

    The logical-query serve path: ONE pruned segment scan for the union of
    all sides' terms, one per-drange kernel pass, each positional block
    decoded at most once. Tombstoned docs are NOT dropped here: the match
    set feeds ``score_phrase_matches``, which counts df over it first."""
    scan = segment_scan(spark, store, [t for ts in sides for t in ts])
    return shard_map(
        scan,
        _seg_kernel(sides),
        "side int, doc_id long, phrase_count long, doc_len long",
    )


def _phrase_matches_all(
    spark: SparkSession, store: IndexStore, terms: list[str]
) -> DataFrame:
    """(doc_id, phrase_count, doc_len) of every doc holding the phrase,
    tombstoned docs included."""
    if not terms:
        return spark.createDataFrame(
            [], "doc_id long, phrase_count long, doc_len long"
        )
    if len(terms) == 1:
        # single term: tf IS the match count — serve straight from the
        # compact postings row, no decode needed
        from ..index.build import term_bucket_py

        n_buckets = store.corpus_stats()["n_buckets"]
        return (
            store.postings(spark)
            .filter(F.col("tbucket") == term_bucket_py(terms[0], n_buckets))
            .filter(F.col("term") == terms[0])
            .select(
                "doc_id",
                F.col("tf").cast("long").alias("phrase_count"),
                "doc_len",
            )
        )
    return phrase_matches_multi(spark, store, [terms]).drop("side")


def phrase_matches(
    spark: SparkSession, store: IndexStore, terms: list[str]
) -> DataFrame:
    """Live docs containing the exact phrase -> (doc_id, phrase_count,
    doc_len). ``phrase_count`` = number of distinct start positions (the
    reference's matchCount, ``QueryProcessor.java:259-268``)."""
    from ..index.deletes import live_filter

    return live_filter(spark, store, _phrase_matches_all(spark, store, terms))


def score_phrase_matches(
    spark: SparkSession,
    store: IndexStore,
    matches: DataFrame,
    k: int | None = 10,
) -> DataFrame:
    """BM25-score a phrase match set as a synthetic term (the reference
    builds a synthetic term with its own tf/idf/importance,
    ``QueryProcessor.java:275-355,459-472``): tf = phrase_count,
    df = |matching docs|.

    ``matches`` is the kernel's full match set, tombstoned docs included:
    df is counted over it against the same (compaction-stale) ``n_docs``
    every other term's df is, and tombstoned docs are dropped from the
    scored rows afterwards — never returned."""
    from ..index.codec import BM25_B, BM25_K1
    from ..index.deletes import live_filter

    cstats = store.corpus_stats()
    n_docs, avgdl = cstats["n_docs"], cstats["avgdl"]
    # df of the synthetic phrase term: broadcast a 1-row count onto the
    # match set — same job as matching (no extra count() action; the
    # reference pays a full extra pass here, QueryProcessor.java:469-472)
    # and, unlike a global window, no single-partition shuffle of matches.
    dfc = matches.agg(F.count("*").alias("df_phrase"))
    matches = matches.crossJoin(F.broadcast(dfc))
    df_phrase = F.col("df_phrase").cast("double")
    idf = F.log(
        1.0 + (F.lit(float(n_docs)) - df_phrase + 0.5) / (df_phrase + 0.5)
    )
    tf = F.col("phrase_count").cast("double")
    dl = F.col("doc_len").cast("double")
    impact = tf * (BM25_K1 + 1.0) / (
        tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / avgdl)
    )
    scored = live_filter(
        spark, store,
        matches.withColumn("score", idf * impact).select("doc_id", "score"),
    )
    if k is None:
        return scored
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def phrase_topk(
    spark: SparkSession,
    store: IndexStore,
    terms: list[str],
    k: int | None = 10,
) -> DataFrame:
    """Top-k BM25 synthetic-term scoring of one exact phrase."""
    return score_phrase_matches(
        spark, store, _phrase_matches_all(spark, store, terms), k=k
    )
