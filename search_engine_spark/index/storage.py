"""Index artifact layout + readers.

On a production cluster these tables are Iceberg (``writeTo(...).append()``,
``MERGE INTO`` for re-index — SURVEY.md §1.3); the sandbox has no Iceberg
runtime jar, so the same layout is written as partitioned parquet behind this
abstraction. Layout under ``index_dir``:

    docs/                 doc registry: doc_id, conv_id, turn_idx, role, text,
                          tool, ts, doc_len, content_hash
    postings/             ONE flat postings table (term, doc_id, tf,
                          positions, doc_len, importance) partitioned by
                          tbucket: the DataFrame-path index, the stats
                          source, AND the positional (phrase) family —
                          columnar storage means scored readers never pay
                          for the positions blob (column pruning)
    segments/chunk=N/     compressed block-max segments (codec.py) — the WAND
                          path; chunked by drange for checkpoint-resume
    stats/terms/          (term, df, idf, bm25_idf, tbucket) part. by tbucket
    stats/corpus.json     {format_version, store_version, n_docs,
                          next_doc_id, avgdl, drange_span, n_buckets,
                          n_chunks, stem, built_unix [, last_append_unix,
                          compacted_unix, last_build_secs]} — the commit
                          record: every writer ends by rewriting it
                          atomically, which mints a fresh store_version;
                          ``corpus_stats()`` rejects a store whose
                          format_version is not FORMAT_VERSION (3)
    manifest/chunk_N.json per-chunk lineage + metrics (A11 analog: counters
                          the reference keeps as AtomicInteger,
                          WebCrawler.java:27-29)

Every driver-side cache lives in one memo (``_memoized``): the Spark
reader (``_read_cached``) for scans, the driver-side ``pyarrow.dataset``
reader (``read_arrow``) for point reads a Spark job would only slow down
(the idf lookup of uncached query terms, the enrichment probe of the top-k
ids, the exact check of bloom-suspect ids against the tombstones; all
filtered by ``any_equal`` so row-group min/max statistics prune), and the
entries derived from the statistics (``store_memo``: the idf cache and the
dictionary-expansion memo).
"""

from __future__ import annotations

import functools
import json
import operator
import os
import shutil
import uuid
from pathlib import Path

import pyarrow as pa
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


# The one on-disk format this code reads and writes. ``build_index`` stamps
# it into corpus.json; append, merge and compaction carry it forward. Bump
# it when the layout changes, so a store of another format fails at its
# first stats read instead of deep inside a kernel. Version 1: unified
# postings table, term_stats with the build-time ``cf`` column, segments
# with the block-skippable positional stream. Version 2: corpus.json
# carries ``next_doc_id``, the docID high-water mark that appends and
# merges start from (compaction keeps the survivors' ids, so n_docs, the
# live count, is not the next free id, and no id is ever reused). Version
# 3: corpus.json carries ``store_version``, the token of its last commit,
# which keys every cache derived from the statistics.
FORMAT_VERSION = 3


class StoreFormatError(RuntimeError):
    """The store on disk was written in a format this code does not read."""


# canonical artifact schemas — used only as empty-read fallbacks (a zero-doc
# corpus writes directories with no parquet part files)
DOCS_DDL = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp, doc_id long, doc_len int, content_hash string"
)
# ONE unified postings table serves the scored paths (which never read the
# fat positions blob — parquet column pruning) and the phrase path
POSTINGS_DDL = (
    "doc_id long, term string, tf int, positions binary, doc_len int, "
    "importance double, tbucket int"
)
TERM_STATS_DDL = (
    "term string, df long, cf long, idf double, bm25_idf double, tbucket int"
)
SEGMENTS_DDL = (
    "term string, drange long, df_local long, first_doc_id long, "
    "last_doc_id long, max_impact double, postings binary, "
    "positions binary, tbucket int, chunk int"
)


def _read_or_empty(spark: SparkSession, path: str, fallback_ddl: str) -> DataFrame:
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        if "UNABLE_TO_INFER_SCHEMA" in str(e) or "PATH_NOT_FOUND" in str(e):
            return spark.createDataFrame([], fallback_ddl)
        raise


# ---------------------------------------------------------------------------
# The memo: one bounded dict of every driver-side cache, each entry stored
# with the key of the state it was made from and rebuilt when that key
# changes.
# * Readers, keyed by a shallow filesystem fingerprint (names, sizes and
#   mtimes of the artifact's dirs AND files; single-digit ms, see
#   _dir_fingerprint): the constructed Spark DataFrame per (session, path)
#   (the UNRESOLVED plan + file index, never rows; `spark.read.parquet`
#   costs ~0.2 s of listing + footer schema inference, ~40% of a served
#   query's latency before the memo) and the driver-side Arrow dataset per
#   path (file list + schema, never rows). Every mutation path changes the
#   fingerprint: full overwrites and replace_dir swap the file set;
#   streaming publish() adds prefix-named files into tbucket=N/ subdirs;
#   unpublish removes them. The fingerprint stays, rather than the store
#   version, because the writers re-read the dirs they have just rewritten
#   before they commit corpus.json.
# * The tombstone bloom (index.deletes), keyed by the tombstones dir's
#   fingerprint: every mark_deleted append and every compaction changes it.
# * Entries derived from the statistics (``store_memo``: the idf cache, the
#   dictionary-expansion memo), keyed by corpus.json's ``store_version``.
#   Every stats commit (build, append, merge, compaction) mints a new one;
#   logical deletes do not commit, since they leave the statistics stale
#   until compaction by design.
# This is the open-IndexReader analog every production engine holds.
# ---------------------------------------------------------------------------

_MEMO: dict[tuple, tuple[object, object]] = {}  # key -> (state, entry)
_MEMO_MAX = 64


def _dir_fingerprint(path: str) -> tuple | None:
    """Shallow filesystem fingerprint: (name, size, mtime_ns) of every
    file and dir down to the deepest partition level the artifacts use
    (segments nest chunk=N/tbucket=M). File names+sizes are included, not
    just dir mtimes, so two mutations landing inside one mtime granule
    around a read still change the fingerprint unless they also preserve
    every file name and size (~a thousand os.stat calls on a built index,
    single-digit ms — vs ~200 ms for spark.read.parquet's listing +
    schema inference)."""
    root = Path(path)
    try:
        st = root.stat()
    except OSError:
        return None
    parts: list = [st.st_mtime_ns]

    def scan(d, depth: int) -> None:
        with os.scandir(d) as it:
            for e in sorted(it, key=lambda x: x.name):
                try:
                    est = e.stat(follow_symlinks=False)
                except OSError:
                    continue
                if e.is_dir(follow_symlinks=False):
                    parts.append((depth, e.name, est.st_mtime_ns))
                    if depth < 2:
                        scan(e.path, depth + 1)
                else:
                    parts.append(
                        (depth, e.name, est.st_size, est.st_mtime_ns)
                    )

    try:
        scan(root, 0)
    except OSError:
        return None
    return tuple(parts)


def _memoized(key: tuple, state, make):
    """The memo entry ``key``, made by ``make()`` again whenever ``state``
    differs from the one it was made from. Oldest entries go first."""
    hit = _MEMO.get(key)
    if hit is not None and hit[0] == state:
        return hit[1]
    entry = make()
    _MEMO.pop(key, None)  # a replaced entry is not an extra one
    while len(_MEMO) >= _MEMO_MAX:
        _MEMO.pop(next(iter(_MEMO)))
    _MEMO[key] = (state, entry)
    return entry


def store_memo(store: "IndexStore", name: str, make):
    """The memo entry ``name`` of ``store``'s current statistics: made by
    ``make()`` once per committed store version (a mutable container the
    caller fills)."""
    return _memoized(
        (name, str(store.dir)), store.corpus_stats()["store_version"], make
    )


def _read_cached(spark: SparkSession, path: str, fallback_ddl: str) -> DataFrame:
    fp = _dir_fingerprint(path)
    if fp is None:  # missing dir: empty-frame fallback, never cached
        return _read_or_empty(spark, path, fallback_ddl)
    # per session, not per application (newSession() shares the context);
    # the cached frame holds its session, so the id cannot be reused
    return _memoized(
        (id(spark), path), fp,
        lambda: _read_or_empty(spark, path, fallback_ddl),
    )


@functools.lru_cache(maxsize=None)
def _arrow_schema(ddl: str) -> pa.Schema:
    return to_arrow_schema(StructType.fromDDL(ddl))


# Spark writes timestamps as int96 by default; read them at microseconds so
# the scan's cast to the DDL type (timestamp[us, tz=UTC]: Spark stores UTC
# instants) neither truncates nor overflows
_PARQUET = ds.ParquetFileFormat(
    read_options={"coerce_int96_timestamp_unit": "us"}
)


def any_equal(field: str, values) -> ds.Expression:
    """``field`` equal to one of ``values``, as OR-ed equalities: pyarrow
    skips a row group by its min/max statistics for comparisons but never
    for ``is_in``."""
    return functools.reduce(
        operator.or_, (ds.field(field) == v for v in values), ds.scalar(False)
    )


def read_arrow(
    path: str, ddl: str, columns: list[str], filter: ds.Expression
) -> pa.Table:
    """Point read on the driver, no Spark job: ``columns`` of the rows of
    the artifact at ``path`` that match ``filter``, typed by the artifact's
    DDL. A missing or empty dir reads as an empty table. The dataset (file
    listing, hive partitions; ``_``/``.`` files ignored) is memoized next
    to the Spark readers under the same fingerprint. Partition filters
    skip directories; comparisons (``any_equal``, not ``is_in``) also skip
    row groups by their min/max statistics. Only for driver-sized results:
    scans stay in Spark."""
    schema = _arrow_schema(ddl)
    fp = _dir_fingerprint(path)
    if fp is None:
        return schema.empty_table().select(columns)
    dataset = _memoized(
        ("arrow", path), fp,
        lambda: ds.dataset(
            path, schema=schema, format=_PARQUET, partitioning="hive"
        ),
    )
    return dataset.to_table(columns=columns, filter=filter)


def _write_json(path: Path, obj) -> None:
    """Write ``obj`` to ``path`` through a hidden tmp file and one
    ``os.replace``: a concurrent reader sees the old file or the new one,
    never a partial one."""
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_name(f".{path.name}.tmp")
    tmp.write_text(json.dumps(obj, indent=2))
    os.replace(tmp, path)


class IndexStore:
    def __init__(self, index_dir: str):
        self.dir = Path(index_dir)

    # -- paths ---------------------------------------------------------
    @property
    def docs_path(self) -> str:
        return str(self.dir / "docs")

    @property
    def postings_path(self) -> str:
        return str(self.dir / "postings")

    @property
    def segments_path(self) -> str:
        return str(self.dir / "segments")

    @property
    def term_stats_path(self) -> str:
        return str(self.dir / "stats" / "terms")

    @property
    def corpus_stats_path(self) -> Path:
        return self.dir / "stats" / "corpus.json"

    @property
    def manifest_dir(self) -> Path:
        return self.dir / "manifest"

    @property
    def gram_index_path(self) -> str:
        """Conventional in-store location of the persisted q-gram
        dictionary index (query/fuzzy_index.py). The serve path routes
        through it automatically when its stamp matches the store's current
        ``store_version``."""
        return str(self.dir / "gram_index")

    # -- stage completion markers ---------------------------------------
    def stage_done(self, rel: str) -> bool:
        return (self.dir / rel / "_SUCCESS").exists()

    def chunk_done(self, chunk: int) -> bool:
        return (
            self.dir / "segments" / f"chunk={chunk}" / "_SUCCESS"
        ).exists() and (self.manifest_dir / f"chunk_{chunk}.json").exists()

    # -- readers ---------------------------------------------------------
    # All readers go through the fingerprint-invalidated memo (see
    # _read_cached): repeated queries skip the per-call file listing +
    # schema inference; any artifact mutation is picked up via dir mtimes.
    def docs(self, spark: SparkSession) -> DataFrame:
        return _read_cached(spark, self.docs_path, DOCS_DDL)

    def postings(self, spark: SparkSession) -> DataFrame:
        return _read_cached(spark, self.postings_path, POSTINGS_DDL)

    def segments(self, spark: SparkSession) -> DataFrame:
        # chunk=N/tbucket=M dirs are discovered as partition columns ->
        # directory-level pruning on term lookups
        return _read_cached(spark, self.segments_path, SEGMENTS_DDL)

    def term_stats(self, spark: SparkSession) -> DataFrame:
        return _read_cached(spark, self.term_stats_path, TERM_STATS_DDL)

    def corpus_stats(self) -> dict:
        stats = json.loads(self.corpus_stats_path.read_text())
        found = stats.get("format_version")
        if found != FORMAT_VERSION:
            raise StoreFormatError(
                f"index store {self.dir} has format_version {found!r}; this "
                f"code reads format_version {FORMAT_VERSION}: rebuild the "
                "index with build_index"
            )
        return stats

    def readable(self) -> bool:
        """Whether the store holds stats this code reads. Reuse gates over
        memoized stores rebuild when it is False (no store yet, or one the
        format check rejects)."""
        try:
            self.corpus_stats()
        except (FileNotFoundError, StoreFormatError):
            return False
        return True

    def write_corpus_stats(self, stats: dict) -> None:
        """Commit ``stats`` as the store's corpus.json under a fresh
        ``store_version`` (also set in ``stats``). A token, not a counter:
        a rebuild writes a new dict into the same dir, and a restarted
        counter would collide with cache entries of the previous build."""
        stats["store_version"] = uuid.uuid4().hex
        _write_json(self.corpus_stats_path, stats)

    def write_manifest(self, chunk: int, payload: dict) -> None:
        _write_json(self.manifest_dir / f"chunk_{chunk}.json", payload)

    def manifests(self) -> list[dict]:
        out = []
        if self.manifest_dir.exists():
            for p in sorted(self.manifest_dir.glob("chunk_*.json")):
                out.append(json.loads(p.read_text()))
        return out

    # -- streaming-append ledger (idempotent foreachBatch) -----------------
    # foreachBatch gives at-least-once delivery: a crash between the batch's
    # writes and the streaming checkpoint commit re-runs the whole batch.
    # The ledger records committed batch_ids (skip on replay) and inflight
    # batch state (docID base + chunk number pinned at first attempt), so a
    # retried partial batch republishes the SAME artifacts instead of
    # appending duplicates. On Iceberg this is the snapshot-commit property;
    # on the parquet fallback it's tmp-write + rename (both atomic moves).

    @property
    def ledger_path(self) -> Path:
        return self.dir / "stats" / "stream_ledger.json"

    def read_ledger(self) -> dict:
        if self.ledger_path.exists():
            return json.loads(self.ledger_path.read_text())
        return {"committed": {}, "inflight": {}}

    def write_ledger(self, ledger: dict) -> None:
        _write_json(self.ledger_path, ledger)

    # -- staged appends ----------------------------------------------------
    # All physical mutations of live artifact dirs go through these two
    # helpers so the Iceberg swap-in (append()/overwritePartitions()) is a
    # one-file change: operator code never touches the filesystem directly.

    def staging_dir(self, name: str) -> str:
        return str(self.dir / "_staging" / name)

    def unpublish(self, target: str, prefix: str) -> None:
        """Remove previously-published data files carrying ``prefix`` (a
        failed earlier attempt of the same batch) from ``target``."""
        root = Path(target)
        if not root.exists():
            return
        for p in root.rglob(f"{prefix}*"):
            if p.is_file():
                p.unlink()

    def publish(self, staging: str, target: str, prefix: str) -> None:
        """Move the data files of a staged write into the live artifact dir
        under collision-proof ``prefix``-ed names, preserving any partition
        subdirectory layout (e.g. ``tbucket=N/``). Idempotent per prefix when
        preceded by ``unpublish``."""
        src = Path(staging)
        dst = Path(target)
        for p in sorted(src.rglob("*")):
            if not p.is_file() or p.name.startswith(("_", ".")):
                continue  # skip _SUCCESS / hidden markers
            rel = p.relative_to(src)
            out = dst / rel.parent / f"{prefix}{p.name}"
            out.parent.mkdir(parents=True, exist_ok=True)
            shutil.move(str(p), str(out))
        shutil.rmtree(staging, ignore_errors=True)

    def replace_dir(self, tmp: str, target: str) -> None:
        """Swap a rewritten artifact dir into place (compaction / popularity
        writeback). Iceberg equivalent: overwritePartitions / RewriteFiles."""
        if Path(target).exists():
            shutil.rmtree(target)
        shutil.move(tmp, target)

    def remove_dir(self, target: str) -> None:
        shutil.rmtree(target, ignore_errors=True)
