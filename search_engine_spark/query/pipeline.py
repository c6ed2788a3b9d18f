"""End-to-end search: query string -> ranked, enriched top-k.

Mirrors the reference lifecycle (SURVEY.md §3.1): parse/classify
(``QueryProcessor.java:49-79``) -> retrieval -> ranking -> metadata
enrichment (``QueryProcessor.java:280-296``) -> snippets. Retrieval engine
is selectable: ``"df"`` (pure-DataFrame BM25) or ``"wand"`` (block-max WAND
over compressed segments) — both rank-identical.
"""

from __future__ import annotations

import re

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..analysis.analyzer import tokenize
from ..index.storage import DOCS_DDL, IndexStore, any_equal, read_arrow
from .bm25 import bm25_topk
from .logical import combine
from .parser import _WILDCARD_RE, ParsedQuery, parse_query
from .phrase import phrase_topk
from .snippets import make_snippet
from .wand import bm25_topk_wand

_NEAR_OP_RE = re.compile(r"\bNEAR/\d+\b")
_RESULT_DDL = (
    "rank int, doc_id long, score double, conv_id string, turn_idx int, "
    "role string, ts timestamp, snippet string"
)
_RESULT_COLS = [f.split()[0] for f in _RESULT_DDL.split(", ")]
_PROBE_COLS = ["doc_id", "conv_id", "turn_idx", "role", "ts", "text"]


def _score_side(
    spark: SparkSession, store: IndexStore, pq: ParsedQuery, engine: str,
    k: int | None,
    prefix_limit: int = 8,
    terms_override: list[str] | None = None,
) -> DataFrame:
    if pq.kind == "phrase":
        return phrase_topk(spark, store, pq.terms or [], k=k)
    terms = (
        _expand_terms(spark, store, pq, prefix_limit)
        if terms_override is None
        else terms_override
    )
    if engine == "wand" and k is not None:
        return bm25_topk_wand(spark, store, terms, k=k)
    return bm25_topk(spark, store, terms, k=k)


def _expand_terms(
    spark: SparkSession, store: IndexStore, pq: ParsedQuery, prefix_limit: int
) -> list[str]:
    """Literal query terms plus dictionary expansions. Wildcard tokens
    expand df-ranked and bounded; a term appearing both literally and via
    expansion accumulates qtf, like a repeated user-typed term. Fuzzy
    tokens expand to dictionary terms within edit distance 2, ranked
    (dist, df desc, term), bounded — all scored as ordinary query terms."""
    terms = list(pq.terms or [])
    if pq.prefixes:
        from .suggest import expand_prefix

        for p in pq.prefixes:
            terms.extend(expand_prefix(spark, store, p, limit=prefix_limit))
    if pq.wildcards:
        from .suggest import expand_wildcard

        for p in pq.wildcards:
            terms.extend(expand_wildcard(spark, store, p, limit=prefix_limit))
    if pq.fuzzies:
        from .suggest import expand_fuzzy

        for w in pq.fuzzies:
            terms.extend(expand_fuzzy(spark, store, w, limit=prefix_limit))
    return terms


def docs_probe(
    spark: SparkSession, store: IndexStore, ids: list[int]
) -> pa.Table:
    """The enrichment read: the six columns a result row needs, for the
    top-k doc ids only, read on the driver (no Spark job). ``ts`` comes
    back as a UTC instant. The docs files are written in doc_id order, so
    the ``any_equal`` filter opens only the row groups that hold the ids
    (k equalities stay cheap)."""
    return read_arrow(
        store.docs_path, DOCS_DDL, _PROBE_COLS,
        any_equal("doc_id", [int(i) for i in ids]),
    )


def _logical_leaves(pq) -> list:
    """In-order operand leaves of a logical tree (depth 1 for the
    reference's flat binary form; arbitrary for parenthesized queries)."""
    if pq.kind == "logical":
        return _logical_leaves(pq.left) + _logical_leaves(pq.right)
    return [pq]


def search(
    spark: SparkSession,
    store: IndexStore,
    query: str,
    k: int = 10,
    engine: str = "df",
    with_metadata: bool = True,
    blend_popularity: bool = False,
    prefix_limit: int = 8,
) -> DataFrame:
    """Returns top-k rows: (rank, doc_id, score [, conv_id, turn_idx, role,
    ts, snippet]) — the shape of the reference's RankedDocument
    (``Ranker/RankedDocument.java:3-54``).

    ``blend_popularity`` applies the reference's A10 blend
    (``ParallelRanker.java:14-15``): score = 0.7*relevance + 0.3*popularity,
    reading the ``popularity`` column written by
    ``graph.pagerank.write_popularity`` (default 0.5 when absent). The blend
    re-ranks an over-fetched candidate pool (4k) — popularity is a bounded
    prior, so a doc outside the relevance top-4k cannot enter the top-k
    unless relevance scores are pathologically flat."""
    # the query MUST be analyzed with the same analyzer the index was built
    # with (a stemmed query against a no-stem index misses every inflected
    # term) — the store records its mode in corpus stats
    stem = store.corpus_stats()["stem"]
    pq = parse_query(query, stem=stem)
    fetch_k = k if not blend_popularity else max(4 * k, 50)
    expanded: list[str] | None = None  # dictionary expansions, if any
    if pq.kind == "logical":
        # binary (the reference's Q4 shape) OR a nested boolean tree
        # (parser._parse_bool_tree). Either way: ALL phrase leaves share
        # ONE pruned segment scan and ONE per-drange kernel pass (each
        # positional block decoded at most once); only the tiny match set
        # is checkpointed. localCheckpoint (not persist): query-scoped,
        # GC-reclaimed, no CacheManager entry leaked.
        # Inner tree nodes combine with k=None (no ordering exchange);
        # only the root takes the top-k cut.
        leaves = _logical_leaves(pq)
        phrase_leaves = [
            leaf for leaf in leaves
            if leaf.kind == "phrase" and len(leaf.terms or []) > 1
        ]
        scored_leaves: dict[int, DataFrame] = {}
        if phrase_leaves:
            from .phrase import phrase_matches_multi, score_phrase_matches

            matches = phrase_matches_multi(
                spark, store, [leaf.terms for leaf in phrase_leaves]
            ).localCheckpoint(eager=True)
            for i, leaf in enumerate(phrase_leaves):
                scored_leaves[id(leaf)] = score_phrase_matches(
                    spark, store,
                    matches.filter(F.col("side") == i).drop("side"),
                    k=None,
                )

        def _fold(node) -> DataFrame:
            if node.kind == "logical":
                return combine(
                    _fold(node.left), _fold(node.right), node.op, k=None
                )
            if id(node) in scored_leaves:
                return scored_leaves[id(node)]
            return _score_side(spark, store, node, engine, k=None)

        topk = (
            _fold(pq)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(fetch_k)
        )
    elif pq.kind == "near":
        # proximity: segment-served NEAR/w pair counting scored as a
        # synthetic term (same BM25 shape as phrase matches)
        from .proximity import near_topk

        topk = near_topk(
            spark, store, pq.terms[0], pq.terms[1], pq.window or 1,
            k=fetch_k,
        )
    elif pq.kind == "near_chain":
        # ordered n-term span chain (a NEAR/w b NEAR/w c): greedy-walk
        # kernel over the same pruned positional scan
        from .proximity import near_chain_topk

        topk = near_chain_topk(
            spark, store, pq.terms or [], pq.window or 1, k=fetch_k,
        )
    else:
        # expand once: scoring and snippet highlighting share the terms
        expanded = (
            _expand_terms(spark, store, pq, prefix_limit)
            if (pq.prefixes or pq.wildcards or pq.fuzzies)
            else None
        )
        topk = _score_side(
            spark, store, pq, engine, k=fetch_k, prefix_limit=prefix_limit,
            terms_override=expanded,
        )

    if blend_popularity:
        docs_all = store.docs(spark)
        pop = (
            docs_all.select("doc_id", F.col("popularity"))
            if "popularity" in docs_all.columns
            else docs_all.select("doc_id", F.lit(0.5).alias("popularity"))
        )
        topk = (
            pop.join(F.broadcast(topk), "doc_id", "inner")
            .select(
                "doc_id",
                (0.7 * F.col("score") + 0.3 * F.col("popularity")).alias("score"),
            )
        )
    topk = topk.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    if not with_metadata:
        return topk

    # enrich the k rows only (J7/S6), on the driver. The k scored rows are
    # collected (tiny by construction) — the query's last Spark job; ONE
    # docs probe reads their metadata and text straight from the docs
    # parquet as Arrow, pruned to the row groups holding the ids; snippets
    # are built over <= k texts; the result is an Arrow-built local
    # relation, so collecting it launches no further Spark job.
    # Inner-join semantics: a doc missing from the registry is dropped,
    # ranks stay dense. Arrow in, Arrow out keeps `ts` a UTC instant — a
    # detour through collected Rows would re-read it in the process time
    # zone.
    top_rows = topk.collect()
    if not top_rows:
        return spark.createDataFrame(
            pa.table({c: [] for c in _RESULT_COLS}), _RESULT_DDL
        )
    probe = docs_probe(spark, store, [int(r["doc_id"]) for r in top_rows])
    at = {d: i for i, d in enumerate(probe.column("doc_id").to_pylist())}
    hits = [r for r in top_rows if int(r["doc_id"]) in at]
    docs = probe.take([at[int(r["doc_id"])] for r in hits])
    # snippet anchor tokens come from the OPERANDS, not the raw query:
    # operator words (AND/OR/NOT, the 'near' of NEAR/w) must not highlight
    # incidental occurrences of themselves in document text
    if pq.kind == "logical":
        raw_src = " ".join(
            leaf.raw for leaf in _logical_leaves(pq)
        )
    elif pq.kind in ("near", "near_chain"):
        raw_src = _NEAR_OP_RE.sub(" ", pq.raw)
    else:
        raw_src = pq.raw
        if pq.prefixes or pq.wildcards:
            # star patterns must not shed letter-run fragments into the
            # highlight set (`m*del` would otherwise highlight bare 'del');
            # their matches highlight via the expansion terms / prefixes
            raw_src = _WILDCARD_RE.sub(" ", raw_src)
    raw_tokens = tokenize(raw_src.replace('"', " "))
    # dictionary expansions highlight too: fuzzy/wildcard expansion terms
    # as whole words, wildcard prefixes additionally as word-prefix matches
    # (an expansion term that is a stem may not appear verbatim in text)
    extra = [t for t in (expanded or []) if t not in raw_tokens]
    toks = [t for t in raw_tokens + extra if t]
    pres = [p for p in pq.prefixes or [] if p]
    return spark.createDataFrame(
        pa.table({
            "rank": list(range(1, len(hits) + 1)),
            "doc_id": docs["doc_id"],
            "score": [float(r["score"]) for r in hits],
            "conv_id": docs["conv_id"],
            "turn_idx": docs["turn_idx"],
            "role": docs["role"],
            "ts": docs["ts"],
            "snippet": [
                make_snippet(t or "", toks, pres)
                for t in docs["text"].to_pylist()
            ],
        }),
        _RESULT_DDL,
    )


def search_json(
    spark: SparkSession,
    store: IndexStore,
    query: str,
    k: int = 10,
    engine: str = "df",
) -> list[str]:
    """S11 JSON result sink (controller/SearchController.java:21-34): the
    enriched top-k serialized as JSON strings (one per ranked document)."""
    return [r["json"] for r in
            search(spark, store, query, k=k, engine=engine)
            .selectExpr("to_json(struct(*)) AS json").collect()]
