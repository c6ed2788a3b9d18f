"""Dictionary-driven query assistance: wildcard (prefix) expansion and
spell suggestion over the index's term dictionary.

The reference engine looks up exact terms only
(``QueryProcessor/QueryProcessor.java:533``); these widen the query surface
the way production fulltext engines do: ``mach*`` expands to the highest-df
dictionary terms with that prefix and scores them as an OR of BM25
contributions, and a misspelled term gets edit-distance suggestions ranked
by (distance, df). Both operate on ``term_stats`` — the dictionary table,
|vocab| rows (millions at 10^12 turns, still ~10^-6 of the postings).

Scale notes:
* prefix lookup pushes a ``StartsWith`` predicate into the parquet scan —
  term_stats rows are written term-sorted within tbucket partitions, so
  row-group min/max statistics skip everything outside the prefix range;
  the result is TakeOrderedAndProject over (df desc, term), and only the
  <= ``limit`` chosen expansion terms ever reach the driver (they become
  ordinary query terms, exactly like user-typed ones).
* spell suggestion pushes a LENGTH BAND first — ``|len(t) - len(q)| <=
  max_dist`` is a provable levenshtein lower bound — so the quadratic
  edit-distance evaluator runs on the surviving sliver, JVM-side
  (``F.levenshtein``, no Python).
* in a stemmed index the dictionary holds stemmed forms; wildcard/fuzzy
  matching against stemmed terms is the standard engine behavior (the
  prefix bypasses query-time stemming).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..index.storage import IndexStore, store_memo

PREFIX_EXPAND_LIMIT = 8

# driver-side expansion memo: {(kind, word, params): [terms]}, one per
# committed store version (an entry of the store memo,
# ``storage.store_memo``, like the wand idf cache) — a repeated
# wildcard/fuzzy query must not re-run its dictionary scan (the fuzzy one is
# a JVM levenshtein over a full length band: ~10^7 rows at a 10^8-term
# vocabulary). Every stats commit (append recomputes df, compaction
# recounts) starts a fresh entry; logical deletes intentionally do NOT
# invalidate (expansions rank by df, which stays stale until compaction by
# design).
_EXPAND_MAX_ENTRIES = 10_000


def _expansion_cache(store: IndexStore) -> dict[tuple, list[str]]:
    cache = store_memo(store, "expand", dict)
    if len(cache) > _EXPAND_MAX_ENTRIES:
        cache.clear()
    return cache


def expand_prefix(
    spark: SparkSession, store: IndexStore, prefix: str,
    limit: int = PREFIX_EXPAND_LIMIT,
) -> list[str]:
    """Top-``limit`` dictionary terms starting with ``prefix``, by
    (df desc, term asc) — deterministic under df ties. Returns a plain
    term list: expansion terms join the query's analyzed terms with
    qtf = 1 each (duplicates with literal query terms accumulate qtf,
    like repeated user-typed terms). Memoized per store version — a repeat
    query issues no dictionary job."""
    p = (prefix or "").lower()
    if not p:
        return []
    cache = _expansion_cache(store)
    ckey = ("prefix", p, int(limit))
    hit = cache.get(ckey)
    if hit is not None:
        return list(hit)
    rows = (
        store.term_stats(spark)
        .filter(F.col("term").startswith(p))
        .select("term", "df")
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(int(limit))
        .collect()
    )
    out = [r["term"] for r in rows]
    cache[ckey] = out
    return list(out)


def spell_suggest(
    spark: SparkSession, store: IndexStore, word: str,
    max_dist: int = 2, k: int = 5,
) -> DataFrame:
    """Did-you-mean candidates for ``word``: dictionary terms within
    ``max_dist`` edits, ranked by (dist asc, df desc, term asc), top ``k``.
    Returns (term, df, dist). Routes through the store's persisted q-gram
    index (fuzzy_index.py) when a current one exists — gram
    partition pruning + count filter instead of a full length-band
    dictionary scan; row-identical by construction (the index is an
    access path, not a semantics change; tests assert equality)."""
    from .fuzzy_index import gram_index_for, spell_suggest_indexed

    w = (word or "").lower()
    ix = gram_index_for(store, max_dist=max_dist)
    if ix is not None:
        return spell_suggest_indexed(spark, ix, w, max_dist=max_dist, k=k)
    L = len(w)
    cand = store.term_stats(spark).filter(
        (F.length("term") >= L - max_dist) & (F.length("term") <= L + max_dist)
    )
    return (
        cand.select(
            "term",
            F.col("df").cast("long").alias("df"),
            F.levenshtein(F.col("term"), F.lit(w)).cast("long").alias("dist"),
        )
        .filter(F.col("dist") <= max_dist)
        .orderBy(F.asc("dist"), F.desc("df"), F.asc("term"))
        .limit(int(k))
    )


def expand_wildcard(
    spark: SparkSession, store: IndexStore, pattern: str,
    limit: int = PREFIX_EXPAND_LIMIT,
) -> list[str]:
    """Top-``limit`` dictionary terms matching a general wildcard
    ``pattern`` (``*`` = any run of letters: ``mod*``, ``m*del``, ``*ing``,
    ``s*a*``), by (df desc, term asc) — Lucene WildcardQuery semantics.

    Plan: the literal run before the first star is pushed as a StartsWith
    over the term-sorted dictionary (row-group min/max skipping), the full
    pattern as a LIKE on the survivors; a leading-star pattern degrades to
    a full dictionary scan — the standard engine behavior (Lucene warns on
    leading wildcards for the same reason). Memoized per store version."""
    p = (pattern or "").lower()
    if not p.strip("*"):
        return []
    if "*" not in p:
        p = p + "*"
    cache = _expansion_cache(store)
    ckey = ("wild", p, int(limit))
    hit = cache.get(ckey)
    if hit is not None:
        return list(hit)
    prefix = p.split("*", 1)[0]
    cand = store.term_stats(spark)
    if prefix:
        cand = cand.filter(F.col("term").startswith(prefix))
    rows = (
        cand.filter(F.col("term").like(p.replace("*", "%")))
        .select("term", "df")
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(int(limit))
        .collect()
    )
    out = [r["term"] for r in rows]
    cache[ckey] = out
    return list(out)


FUZZY_EXPAND_LIMIT = 8


def expand_fuzzy(
    spark: SparkSession, store: IndexStore, word: str,
    max_dist: int = 2, limit: int = FUZZY_EXPAND_LIMIT,
) -> list[str]:
    """Top-``limit`` dictionary terms within ``max_dist`` edits of ``word``
    (Lucene FuzzyQuery semantics), ranked (dist asc, df desc, term asc) —
    ``spell_suggest``'s scan (pushed length-band filter + JVM levenshtein)
    collected into a plain term list: expansion terms join the query with
    qtf = 1 each, exactly like wildcard expansions. ≤ ``limit`` terms ever
    reach the driver; they become ordinary query terms from there.
    Memoized per store version — a repeat fuzzy query issues no dictionary
    levenshtein job."""
    w = (word or "").lower()
    cache = _expansion_cache(store)
    ckey = ("fuzzy", w, int(max_dist), int(limit))
    hit = cache.get(ckey)
    if hit is not None:
        return list(hit)
    rows = spell_suggest(spark, store, w, max_dist=max_dist, k=limit)
    out = [r["term"] for r in rows.collect()]
    cache[ckey] = out
    return list(out)
