"""Inverted-index build pipeline (SURVEY.md §3.2 Spark target lifecycle).

Replaces the reference's read-modify-write indexer
(``Indexer/Indexer.java:76-360``: per-doc threads + Mongo ``$push`` upserts +
a second full IDF pass, ``Indexer.java:391-548``) with a single declarative
DataFrame job:

    transcripts
      -> dense docID assignment (stable (conv_id, turn_idx) ordering)
      -> analyzer pandas UDF (Arrow-batched; tokenize/stop/stem)
      -> posexplode -> groupBy(doc_id, term) tf/positions  [A1]
      -> groupBy(doc_id) doc_len                            [A6]
      -> groupBy(term) df + idf in the SAME job             [A3+A5 — the
         reference's second pass disappears]
      -> repartition by (term-bucket, doc-range) -> one mapInArrow encode
         pass (delta+varbyte, block-max metadata)           [S8 replacement]
      -> partitioned parquet segments + per-partition lineage/metrics
         manifest (checkpoint-resumable)

Scale notes (the 100 TB story):
* docID assignment is the classic two-phase range-partition + per-partition
  offsets scheme — no single-partition Window, no driver materialization.
* the doc-range axis (``drange``) doubles as head-term skew salting: a hot
  term's postings are split across every doc range, so no single encode task
  ever sees a whole head term's posting list. It is also the query-time
  parallel axis for block-max WAND (each range shard holds every query
  term's postings for that docID range -> document-at-a-time traversal is
  local to the shard).
* term buckets (``tbucket`` = crc32(term) % N) give partition pruning on
  point term lookups (the analog of the reference's Mongo btree on ``word``,
  ``Indexer/Indexer.java:57``).

The four writers (``builder.build_index``, ``incremental.append_batch``,
``merge.merge_store``, ``deletes.compact``) share one write side:
``corpus_counts``, ``write_term_stats`` and ``write_chunk``. Each writer
still writes its manifests and commits corpus.json itself, in the order its
resume or crash story needs.
"""

from __future__ import annotations

import time
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .codec import BM25_K1, BM25_B, WEIGHT_SCALE
from .storage import SEGMENTS_DDL, _read_or_empty

# Role weights: transcripts analog of title x3 / header x2 / body x1
# (Indexer/Indexer.java:36-38): user turns are the "title" of a conversation
# exchange, tool output is body, assistant in between.
ROLE_WEIGHTS = {"user": 3.0, "assistant": 1.0, "tool": 2.0}

N_TERM_BUCKETS = 64


def term_bucket_py(term: str, n_buckets: int = N_TERM_BUCKETS) -> int:
    """Portable term bucket: crc32 — identical in Python and Spark's crc32."""
    return zlib.crc32(term.encode("utf-8")) % n_buckets


def term_bucket_col(col, n_buckets: int = N_TERM_BUCKETS):
    return (F.crc32(col.cast("string")) % n_buckets).cast("int")


# ---------------------------------------------------------------------------
# Dense docID assignment
# ---------------------------------------------------------------------------

def assign_doc_ids(
    df: DataFrame,
    num_partitions: int | None = None,
    cleanup: list | None = None,
) -> DataFrame:
    """Dense int64 ``doc_id`` following global (conv_id, turn_idx) order.

    Two-phase, cluster-scalable (no global Window): range-repartition on the
    ordering key, sort within partitions, count per partition, then add the
    cumulative offset inside an Arrow-batched mapInPandas. Replaces the
    reference's ``doc_<atomic counter>`` (``Indexer/Indexer.java:31,149``).
    """
    spark = df.sparkSession
    num_partitions = num_partitions or df.sparkSession.sparkContext.defaultParallelism

    ranged = (
        df.repartitionByRange(num_partitions, "conv_id", "turn_idx")
        .sortWithinPartitions("conv_id", "turn_idx")
        .withColumn("_pid", F.spark_partition_id())
    )
    # The count pass and the assignment pass MUST see identical range
    # boundaries and partition layout. persist() pins them; without it AQE
    # replans the exchange per action (recomputed sampling / coalesced
    # partitions) and the two passes can disagree -> duplicate docIDs.
    # On a real cluster this would be a DISK_ONLY persist or a checkpoint.
    # (Serialized levels were measured slower end-to-end: the ser/deser CPU
    # on every access outweighed any GC relief.)
    ranged = ranged.persist()
    if cleanup is not None:
        cleanup.append(ranged)
    counts = {
        r["_pid"]: r["cnt"]
        for r in ranged.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    }
    offsets = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    b_offsets = spark.sparkContext.broadcast(offsets)

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", doc_id long"

    def add_ids(batches):
        seen = 0
        pid = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if pid is None:
                pid = int(pdf["_pid"].iloc[0])
            base = b_offsets.value[pid] + seen
            pdf = pdf.drop(columns=["_pid"])
            pdf["doc_id"] = np.arange(base, base + len(pdf), dtype=np.int64)
            seen += len(pdf)
            yield pdf

    result = ranged.mapInPandas(add_ids, schema=out_schema)
    return result


# ---------------------------------------------------------------------------
# Analysis -> postings DataFrames
# ---------------------------------------------------------------------------

def with_terms(docs: DataFrame, stem: bool = True, positions: bool = True) -> DataFrame:
    """Add ``terms: array<string>`` via the Arrow-batched analyzer UDF
    (per-batch raw-token memo — see ``analysis.analyzer.analyze_batch``)."""
    from pyspark.sql.functions import pandas_udf

    from ..analysis.analyzer import analyze_batch

    @pandas_udf("array<string>")
    def analyze_udf(texts: pd.Series) -> pd.Series:
        return pd.Series(analyze_batch(list(texts), stem=stem))

    return docs.withColumn("terms", analyze_udf(F.col("text")))


POSTINGS_SCHEMA = (
    "doc_id long, term string, tf int, positions binary, "
    "doc_len int, importance double"
)


def build_postings(docs_analyzed: DataFrame) -> DataFrame:
    """Analyzed docs (with a ``terms`` column) -> grouped postings.

    Returns ``(doc_id, term, tf, positions, doc_len, importance)`` — one row
    per (doc, term), the Spark analog of the reference's per-posting struct
    (``Indexer/Indexer.java:337-342``: frequency, positions, length,
    importance_score).

    The per-doc term aggregation (A1) happens INSIDE the Arrow-batched UDF —
    it is per-row work (a doc's postings derive only from that doc's token
    list, exactly the reference's in-memory ``Map<String,WordStats>``,
    ``Indexer.java:213-258``), so shipping 10M+ exploded token rows through
    a JVM hash-agg shuffle would be pure waste. The only shuffles left in
    the build are the intrinsic layout ones (bucket/range repartitions).

    ``positions`` is varbyte-encoded binary (codec.varbyte_encode) rather
    than array<int>: it caches/shuffles as a flat byte blob instead of
    millions of boxed JVM ints (decode with ``decode_positions``).
    """
    if "terms" not in docs_analyzed.columns:
        docs_analyzed = with_terms(docs_analyzed)

    from .codec import varbyte_encode_with_sizes

    def agg_stream(batches):
        # mapInArrow, not mapInPandas: the output is ~15 posting rows per
        # doc with a string term and a binary blob each — materializing
        # those as 10M+ Python objects (pandas object columns) on the way
        # back to the JVM measurably dominated the stage (guide §4.2). In
        # Arrow everything stays in C buffers: terms dictionary-encode
        # without objects, the per-group position spans become ONE
        # BinaryArray built from an offsets array over the single varbyte
        # buffer (the spans tile it in sorted order — zero copies).
        import pyarrow as pa
        import pyarrow.compute as pc

        out_schema = pa.schema(
            [
                ("doc_id", pa.int64()),
                ("term", pa.string()),
                ("tf", pa.int32()),
                ("positions", pa.binary()),
                ("doc_len", pa.int32()),
                ("importance", pa.float64()),
            ]
        )
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            names = rb.schema.names
            doc_col = rb.column(names.index("doc_id"))
            role_col = rb.column(names.index("role"))
            terms_col = rb.column(names.index("terms"))
            counts = (
                pc.list_value_length(terms_col)
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            total = int(counts.sum())
            if total == 0:
                continue
            # flatten every doc's token stream; dictionary-encode terms to
            # int codes entirely in C (no Python string objects)
            flat = pc.list_flatten(terms_col)
            denc = pc.dictionary_encode(flat)
            codes = denc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
            uniques = denc.dictionary
            doc_ids = doc_col.to_numpy(zero_copy_only=False).astype(np.int64)
            doc_rep = np.repeat(doc_ids, counts)
            dl_rep = np.repeat(counts, counts)
            rdenc = pc.dictionary_encode(role_col)
            # null roles default to weight 1.0 exactly like the pandas
            # path's ROLE_WEIGHTS.get(r, 1.0): a null dictionary index is
            # filled with -1, which indexes the appended default slot
            w_uniq = np.array(
                [ROLE_WEIGHTS.get(r, 1.0) for r in rdenc.dictionary.to_pylist()]
                + [1.0],
                dtype=np.float64,
            )
            ridx = rdenc.indices
            if ridx.null_count:
                ridx = pc.fill_null(ridx, -1)
            w = w_uniq[ridx.to_numpy(zero_copy_only=False).astype(np.int64)]
            w_rep = np.repeat(w, counts)
            doc_starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
            pos_flat = np.arange(total, dtype=np.int64) - np.repeat(
                doc_starts, counts
            )
            order = np.lexsort((codes, doc_rep))  # stable -> positions asc
            d_s = doc_rep[order]
            c_s = codes[order]
            change = np.flatnonzero((d_s[1:] != d_s[:-1]) | (c_s[1:] != c_s[:-1]))
            starts = np.concatenate(([0], change + 1))
            ends = np.concatenate((change + 1, [total]))
            tf = (ends - starts).astype(np.int32)
            enc, sizes = varbyte_encode_with_sizes(pos_flat[order])
            byte_offs = np.concatenate(([0], np.cumsum(sizes)))
            if int(byte_offs[-1]) >= (1 << 31):
                # int32 Arrow binary offsets would silently wrap — fail
                # loudly (only reachable with a raised
                # arrow.maxRecordsPerBatch or pathological documents)
                raise ValueError(
                    "one Arrow batch encodes >= 2 GiB of positions; "
                    "lower spark.sql.execution.arrow.maxRecordsPerBatch"
                )
            # per-(doc, term) position spans tile the encoded buffer in
            # sorted order (ends[i] == starts[i+1]), so the output binary
            # column is just an offsets array over it — no per-row bytes
            pos_offs = byte_offs[np.concatenate((starts, [total]))].astype(
                np.int32
            )
            positions_arr = pa.Array.from_buffers(
                pa.binary(),
                len(starts),
                [None, pa.py_buffer(pos_offs.tobytes()), pa.py_buffer(enc)],
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(d_s[starts], type=pa.int64()),
                    pc.take(uniques, pa.array(c_s[starts])),
                    pa.array(tf, type=pa.int32()),
                    positions_arr,
                    pa.array(dl_rep[order][starts].astype(np.int32)),
                    pa.array(w_rep[order][starts] * tf, type=pa.float64()),
                ],
                schema=out_schema,
            )

    return docs_analyzed.select("doc_id", "role", "terms").mapInArrow(
        agg_stream, schema=POSTINGS_SCHEMA
    )


def decode_positions(buf: bytes, tf: int):
    """Decode a varbyte positions blob back to an int list."""
    from .codec import varbyte_decode

    return varbyte_decode(buf, tf)


def build_term_stats(postings: DataFrame, n_docs: int) -> DataFrame:
    """A3+A5 in one job: (term, df, cf, idf, bm25_idf).

    ``idf`` is the reference formula ln(N/(1+df)) (``Indexer.java:384-388``);
    ``bm25_idf`` = ln(1+(N-df+0.5)/(df+0.5)) is the north-rule scoring.
    ``cf`` (collection frequency, sum of tf) rides the SAME map-side-
    combinable aggregate: the Dirichlet LM scorer needs P(t|C) = cf/|C|,
    and reading it here removes the per-term window shuffle the LM query
    otherwise pays at serve time (a maximally skewed key: every posting of
    a head term in one partition).
    """
    return (
        postings.groupBy("term")
        .agg(F.count("*").alias("df"), F.sum("tf").cast("long").alias("cf"))
        .withColumn("idf", F.log(F.lit(float(n_docs)) / (F.col("df") + 1.0)))
        .withColumn(
            "bm25_idf",
            F.log(
                1.0
                + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
    )


def corpus_counts(docs: DataFrame) -> tuple[int, float]:
    """(n_docs, avgdl) of a docs table, in one job (A4 + avgdl)."""
    row = docs.agg(
        F.count("*").alias("n"), F.avg("doc_len").alias("avgdl")
    ).collect()[0]
    return row["n"], float(row["avgdl"] or 0.0)


def write_term_stats(
    postings: DataFrame, n_docs: int, n_buckets: int, path: str
) -> None:
    """Write the term_stats of ``postings`` to ``path``, partitioned by
    tbucket, with term-sorted row groups: dictionary lookups (per-term
    stats, prefix expansion, length-banded spell suggestion) skip row
    groups via parquet min/max instead of scanning the bucket."""
    (
        build_term_stats(postings, n_docs)
        .withColumn("tbucket", term_bucket_col(F.col("term"), n_buckets))
        .repartition(n_buckets, "tbucket")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .partitionBy("tbucket")
        .parquet(path)
    )


# ---------------------------------------------------------------------------
# Encoded segment build (one mapInArrow pass over (term, drange) groups)
# ---------------------------------------------------------------------------

SEGMENT_SCHEMA = (
    "term string, drange long, tbucket int, df_local long, "
    "first_doc_id long, last_doc_id long, max_impact double, "
    "postings binary, positions binary"
)


def encode_segments(
    postings: DataFrame,
    avgdl: float,
    drange_span: int,
    n_buckets: int = N_TERM_BUCKETS,
    num_partitions: int | None = None,
) -> DataFrame:
    """Group postings by (term, doc-range) and encode each group into one
    compressed binary segment row. ``drange`` = doc_id // drange_span.

    The (term, drange) grouping is the skew story: head terms split across
    all doc ranges, so the shuffle and the encode task sizes stay bounded by
    drange_span regardless of term df (SURVEY.md §4 "skew handling").

    Execution: repartition by group key + sortWithinPartitions, then ONE
    streaming mapInArrow pass that slices group boundaries with numpy and
    carries the split tail group across Arrow batches — avoiding a
    per-group UDF invocation (the Zipf tail has millions of tiny term
    groups at scale).
    """
    spark = postings.sparkSession
    # 4x the core count (scale-adaptive, not a local constant): encode
    # tasks interleave a JVM sort with the Arrow encode kernel, and finer
    # tasks pipeline the two across the worker pool (measured 30.2 -> 26.7 s
    # on the 59M-posting build at 8 cores; partitioning is BY GROUP KEY so
    # the (term, drange) segment layout is identical at any count).
    num_partitions = num_partitions or spark.sparkContext.defaultParallelism * 4
    # the role weight crosses the encode shuffle as a pre-quantized smallint
    # (2 bytes) instead of the raw importance double (8) — this stage moves
    # every posting once and the build's 2->8 core scaling is bandwidth-
    # sensitive. Spark HALF_UP vs numpy half-even rounding agree here:
    # weight*WEIGHT_SCALE is integral for every supported weight.
    sorted_parts = (
        postings.withColumn(
            "drange", (F.col("doc_id") / F.lit(drange_span)).cast("long")
        )
        .select(
            "term", "drange", "doc_id", "tf", "doc_len",
            F.round(F.col("importance") / F.col("tf") * WEIGHT_SCALE)
            .cast("smallint")
            .alias("wq"),
            # per-posting varbyte position blob: rides the encode shuffle so
            # each (term, drange) group can emit its block-skippable
            # positional stream next to the scored segment (phrase queries
            # then serve per-drange like WAND, no row-level shuffles)
            "positions",
        )
        .repartition(num_partitions, "term", "drange")
        .sortWithinPartitions("term", "drange", "doc_id")
    )

    def encode_stream(batches):
        # mapInArrow, not mapInPandas: the input is 50M+ rows per build
        # with a string term and a binary positions blob each — pandas
        # conversion materializes every one as a Python object, which an
        # isolated measurement showed costing ~2x the shuffle+sort of the
        # whole stage (guide §4.2). In Arrow the term column stays in C
        # buffers (boundary detection via compute.not_equal on slices,
        # group terms extracted via take — only one Python string per
        # GROUP, for crc32 bucketing and output) and the positional stream
        # is sliced straight out of the BinaryArray's data buffer via its
        # offsets (row blobs are contiguous in row order — zero copies).
        import pyarrow as pa
        import pyarrow.compute as pc

        from .codec import (
            BLOCK_SIZE,
            FLAG_WEIGHTS,
            MAGIC,
            WEIGHT_SCALE,
            _HEADER,
            _POS_HEADER,
            f32_upper,
            varbyte_encode_with_sizes,
        )

        out_schema = pa.schema(
            [
                ("term", pa.string()),
                ("drange", pa.int64()),
                ("tbucket", pa.int32()),
                ("df_local", pa.int64()),
                ("first_doc_id", pa.int64()),
                ("last_doc_id", pa.int64()),
                ("max_impact", pa.float64()),
                ("postings", pa.binary()),
                ("positions", pa.binary()),
            ]
        )

        def encode_groups(tb: pa.Table) -> pa.RecordBatch:
            """Vectorized group encoder, byte-identical to per-group
            ``encode_postings`` (tested): varbyte streams concatenate, so
            gaps/tfs/dls for the WHOLE sorted batch are encoded in one call
            each; per-block metadata (last docID, max impact, stream
            offsets) falls out of ``reduceat`` over block boundaries; the
            block directory is a structured array serialized per group.
            ``tb`` is single-chunked and sorted by (term, drange, doc_id)."""
            n_rows = tb.num_rows
            term_arr = tb.column("term").chunk(0)
            dranges = tb.column("drange").to_numpy().astype(np.int64)
            ids = tb.column("doc_id").to_numpy().astype(np.int64)
            tfs = tb.column("tf").to_numpy().astype(np.int64)
            dls = tb.column("doc_len").to_numpy().astype(np.int64)
            # pre-quantized role weight (importance/tf * WEIGHT_SCALE, see
            # the select above — exact for the integer ROLE_WEIGHTS)
            w_q = tb.column("wq").to_numpy().astype(np.int64)
            # group boundaries on the sorted (term, drange) stream: term
            # adjacency compared in C on the Arrow string column
            term_neq = pc.not_equal(
                term_arr.slice(1), term_arr.slice(0, n_rows - 1)
            ).to_numpy(zero_copy_only=False)
            change = np.flatnonzero(term_neq | (dranges[1:] != dranges[:-1]))
            starts = np.concatenate(([0], change + 1))
            ends = np.concatenate((change + 1, [n_rows]))
            imp_all = tfs * (BM25_K1 + 1.0) / (
                tfs + BM25_K1 * (1.0 - BM25_B + BM25_B * dls / avgdl)
            )
            # docID deltas: global diff, reset to 0 at each group start
            # (codec: first delta = 0 relative to the group's base docID)
            gaps = ids - np.concatenate(([0], ids[:-1]))
            gaps[starts] = 0
            gap_buf, gap_sz = varbyte_encode_with_sizes(gaps)
            tf_buf, tf_sz = varbyte_encode_with_sizes(tfs)
            dl_buf, dl_sz = varbyte_encode_with_sizes(dls)
            w_buf, w_sz = varbyte_encode_with_sizes(w_q)
            gap_mv, tf_mv, dl_mv, w_mv = map(
                memoryview, (gap_buf, tf_buf, dl_buf, w_buf)
            )
            gap_off = np.concatenate(([0], np.cumsum(gap_sz)))
            tf_off = np.concatenate(([0], np.cumsum(tf_sz)))
            dl_off = np.concatenate(([0], np.cumsum(dl_sz)))
            w_off = np.concatenate(([0], np.cumsum(w_sz)))
            # positional stream: the per-posting blobs are ALREADY varbyte
            # (build_postings encodes them once); the segment stream is
            # their concatenation in sorted order, which IS the binary
            # column's data buffer (values are stored contiguously in row
            # order) — slice it through the column's own offsets, no join
            pos_arr = tb.column("positions").chunk(0)
            _o = pos_arr.offset
            pos_off = np.frombuffer(pos_arr.buffers()[1], dtype=np.int32)[
                _o : _o + n_rows + 1
            ].astype(np.int64)
            pos_mv = memoryview(pos_arr.buffers()[2])
            # groups where every weight is 1 omit the stream entirely
            grp_has_w = (
                np.maximum.reduceat(w_q, starts) != WEIGHT_SCALE
            ) | (np.minimum.reduceat(w_q, starts) != WEIGHT_SCALE)

            # block boundaries: every BLOCK_SIZE postings within each group
            g_len = ends - starts
            nblk = (g_len + BLOCK_SIZE - 1) // BLOCK_SIZE
            blk_group = np.repeat(np.arange(len(starts)), nblk)
            blk_first = np.concatenate(([0], np.cumsum(nblk)))[:-1]
            blk_idx = np.arange(int(nblk.sum())) - blk_first[blk_group]
            blk_lo = starts[blk_group] + blk_idx * BLOCK_SIZE
            blk_hi = np.minimum(blk_lo + BLOCK_SIZE, ends[blk_group])
            blk_max = np.maximum.reduceat(imp_all, blk_lo)
            wimp_all = imp_all * (w_q.astype(np.float64) / WEIGHT_SCALE)
            blk_wmax = np.maximum.reduceat(wimp_all, blk_lo)
            dir_arr = np.empty(
                blk_lo.size,
                dtype=np.dtype(
                    [("ld", "<i8"), ("imp", "<f4"), ("wimp", "<f4"),
                     ("go", "<i4"), ("to", "<i4"), ("do", "<i4"),
                     ("wo", "<i4"), ("n", "<i4")],
                    align=False,
                ),
            )
            dir_arr["ld"] = ids[blk_hi - 1]
            # rounded UP to f32: stored bounds must stay valid upper bounds
            dir_arr["imp"] = f32_upper(blk_max)
            dir_arr["wimp"] = f32_upper(blk_wmax)
            # stream end-offsets RELATIVE to the group's start
            dir_arr["go"] = gap_off[blk_hi] - gap_off[starts[blk_group]]
            dir_arr["to"] = tf_off[blk_hi] - tf_off[starts[blk_group]]
            dir_arr["do"] = dl_off[blk_hi] - dl_off[starts[blk_group]]
            # weightless groups omit the stream -> zero offsets (keeps the
            # output byte-identical to codec.encode_postings)
            dir_arr["wo"] = np.where(
                grp_has_w[blk_group],
                w_off[blk_hi] - w_off[starts[blk_group]],
                0,
            )
            dir_arr["n"] = blk_hi - blk_lo
            dir_bytes = dir_arr.tobytes()
            DIR_SZ = dir_arr.dtype.itemsize
            dir_mv = memoryview(dir_bytes)
            blk_cum = np.concatenate(([0], np.cumsum(nblk)))
            # per-block end offsets into the group's positional stream,
            # relative to the group start (the skip directory)
            pos_blk_end = (
                pos_off[blk_hi] - pos_off[starts[blk_group]]
            ).astype("<i4")

            # per-group segment max impact (for the WAND term upper bound)
            grp_max = np.maximum.reduceat(imp_all, starts)

            postings_out = []
            positions_out = []
            for gi in range(len(starts)):
                s, e = int(starts[gi]), int(ends[gi])
                has_w = bool(grp_has_w[gi])
                header = _HEADER.pack(
                    MAGIC, e - s, int(ids[s]), int(nblk[gi]),
                    FLAG_WEIGHTS if has_w else 0,
                )
                postings_out.append(
                    header
                    + dir_mv[blk_cum[gi] * DIR_SZ:blk_cum[gi + 1] * DIR_SZ].tobytes()
                    + gap_mv[gap_off[s]:gap_off[e]].tobytes()
                    + tf_mv[tf_off[s]:tf_off[e]].tobytes()
                    + dl_mv[dl_off[s]:dl_off[e]].tobytes()
                    + (w_mv[w_off[s]:w_off[e]].tobytes() if has_w else b"")
                )
                positions_out.append(
                    _POS_HEADER.pack(int(nblk[gi]))
                    + pos_blk_end[blk_cum[gi]:blk_cum[gi + 1]].tobytes()
                    + pos_mv[pos_off[s]:pos_off[e]].tobytes()
                )
            term_vals = pc.take(term_arr, pa.array(starts))
            return pa.RecordBatch.from_arrays(
                [
                    term_vals,
                    pa.array(dranges[starts], type=pa.int64()),
                    pa.array(
                        np.fromiter(
                            (
                                term_bucket_py(t, n_buckets)
                                for t in term_vals.to_pylist()
                            ),
                            dtype=np.int32,
                            count=len(starts),
                        )
                    ),
                    pa.array((ends - starts).astype(np.int64)),
                    pa.array(ids[starts], type=pa.int64()),
                    pa.array(ids[ends - 1], type=pa.int64()),
                    pa.array(grp_max, type=pa.float64()),
                    pa.array(postings_out, type=pa.binary()),
                    pa.array(positions_out, type=pa.binary()),
                ],
                schema=out_schema,
            )

        carry: pa.Table | None = None
        for rb in batches:
            tb = pa.Table.from_batches([rb])
            if carry is not None and carry.num_rows:
                tb = pa.concat_tables([carry, tb])
            n = tb.num_rows
            if n == 0:
                continue
            tb = tb.combine_chunks()
            # hold back the trailing group: it may continue in the next
            # batch (input sorted by (term, drange) -> the trailing group
            # is exactly the suffix run equal to the last row's key)
            term_arr = tb.column("term").chunk(0)
            dranges = tb.column("drange").to_numpy()
            tail_eq = pc.equal(term_arr, term_arr[n - 1]).to_numpy(
                zero_copy_only=False
            ) & (dranges == dranges[n - 1])
            nz = np.flatnonzero(~tail_eq)
            tail_start = int(nz[-1]) + 1 if nz.size else 0
            carry = tb.slice(tail_start)
            if tail_start:
                yield encode_groups(tb.slice(0, tail_start).combine_chunks())
        if carry is not None and carry.num_rows:
            yield encode_groups(carry.combine_chunks())

    return sorted_parts.mapInArrow(encode_stream, schema=SEGMENT_SCHEMA)



def write_chunk(
    spark: SparkSession,
    postings: DataFrame,
    path: str,
    chunk: int,
    input: str,
    avgdl: float,
    drange_span: int,
    n_buckets: int,
) -> dict:
    """Encode ``postings`` into one segment chunk at ``path`` and return its
    manifest payload (the caller writes the manifest, after whatever commit
    order it needs).

    tbucket partition dirs -> term-lookup queries prune whole buckets. The
    encoded rows are small compressed blobs, so clustering them by bucket
    first is a cheap shuffle that caps files at n_buckets per chunk instead
    of tasks x n_buckets (file commits dominated the fixed build cost).

    Lineage + metrics come from RE-READING the written chunk (A11 analog),
    not from a persisted copy of the encoded rows: materializing ~300 MB of
    blobs into the block manager alongside the write measurably serialized
    the stage at high core counts, and the read-back agg is a
    column-pruned local scan."""
    (
        encode_segments(postings, avgdl, drange_span, n_buckets)
        .repartition(n_buckets, "tbucket")
        .write.mode("overwrite").partitionBy("tbucket").parquet(path)
    )
    m = _read_or_empty(spark, path, SEGMENTS_DDL).agg(
        F.count("*").alias("n_segments"),
        F.sum("df_local").alias("n_postings"),
        F.countDistinct("term").alias("n_terms"),
        F.countDistinct("drange").alias("n_dranges"),
        F.sum(F.length("postings")).alias("bytes"),
        F.sum(F.length("positions")).alias("pos_bytes"),
        F.min("first_doc_id").alias("min_doc_id"),
        F.max("last_doc_id").alias("max_doc_id"),
    ).collect()[0]
    return {
        "chunk": chunk,
        "input": input,
        "drange_span": drange_span,
        "encode_avgdl": avgdl,
        "n_segments": m["n_segments"],
        "n_postings": int(m["n_postings"] or 0),
        "n_terms": m["n_terms"],
        "n_dranges": m["n_dranges"],
        "bytes": int(m["bytes"] or 0),
        "pos_bytes": int(m["pos_bytes"] or 0),
        "min_doc_id": m["min_doc_id"],
        "max_doc_id": m["max_doc_id"],
        "completed_unix": time.time(),
    }
