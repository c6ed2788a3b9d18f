"""Extra measurement harness for the optimization round (bench.py is FROZEN
for driver measurement; this file exists for guide-§1 instrumentation only:
per-stage build timing, per-query isolation, and latency rows for the serve
surfaces the frozen bench does not time).

Modes:
  python bench_extra.py build   [--cores 8] [--corpus /tmp/bench_transcripts_sf0.1] [--repeats 1]
      per-stage build timing (verbose build_index ticks + total)
  python bench_extra.py queries [--cores 8] [--ix /dev/shm/bx_q] [--corpus /tmp/bench_transcripts_q_sf0.1] [--repeats 3] [--extended]
      the 12 frozen bench classes (same methodology: warmup pass then
      median-of-N collect()), plus --extended adds the round-5 serve
      surfaces (lm, batch_100q, mlt, facets, filtered, fuzzy).

All numbers print as one JSON line; nothing here is read by the driver.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

QUERY_SET = [
    ("term_head_df", "spark index query", "df"),
    ("term_head_wand", "spark index query", "wand"),
    ("term_mixed_df", "baco dafen model the data", "df"),
    ("term_mixed_wand", "baco dafen model the data", "wand"),
    ("phrase", '"spark index"', "df"),
    ("prefix_wand", "spar*", "wand"),
    ("near", "index NEAR/4 model", "df"),
    ("near_chain", "index NEAR/4 model NEAR/4 data", "df"),
    ("logical_and", '"spark index" AND "query model"', "df"),
    ("logical_or", '"spark index" OR "query model"', "df"),
    ("logical_not", '"spark index" NOT "query model"', "df"),
    ("boolean_nested", '("spark index" AND "query model") OR "token search"', "df"),
]


def _get_spark(cores: int):
    from search_engine_spark.session import get_spark

    return get_spark("bench-extra", cores=cores, shuffle_partitions=max(cores, 8))


def mode_build(args) -> None:
    import shutil

    from search_engine_spark.index.builder import build_index

    spark = _get_spark(args.cores)
    df = spark.read.parquet(args.corpus)
    results = []
    for _ in range(args.repeats):
        shutil.rmtree(args.ix, ignore_errors=True)
        t0 = time.time()
        build_index(spark, df, args.ix, n_chunks=1, verbose=True)
        results.append(round(time.time() - t0, 3))
    print(json.dumps({"mode": "build", "cores": args.cores,
                      "corpus": args.corpus, "runs": results,
                      "best": min(results)}))


def _extended_set(spark, store):
    """(name, fn) pairs for the round-5 serve surfaces the frozen bench does
    not time. Each fn runs the query to completion (collect), mirroring the
    bench's methodology."""
    from search_engine_spark.analysis.analyzer import analyze_query
    from search_engine_spark.query.batch import batch_bm25_topk
    from search_engine_spark.query.facets import filtered_topk, search_facets
    from search_engine_spark.query.lm import lm_dirichlet_topk
    from search_engine_spark.query.mlt import more_like_this
    from search_engine_spark.query.pipeline import search

    terms = analyze_query("spark index query", stem=store.corpus_stats()["stem"])
    docs = store.docs(spark)

    # 100-query workload: head terms + mixed tails, deterministic
    vocab = ["spark", "index", "query", "model", "data", "token", "search",
             "baco", "dafen", "stream"]
    wl_rows = []
    for i in range(100):
        q = " ".join(vocab[(i + j) % len(vocab)] for j in range(1 + i % 3))
        wl_rows.append((i, q))

    def run_lm():
        lm_dirichlet_topk(spark, store, terms, k=10).collect()

    def run_batch():
        wl = spark.createDataFrame(wl_rows, "query_id long, query string")
        batch_bm25_topk(spark, store, wl, k=10).collect()

    def run_mlt():
        more_like_this(spark, store, 7, k=10).collect()

    def run_facets():
        search_facets(spark, store, terms, docs, ["role"]).collect()

    def run_filtered():
        allowed = docs.filter("role = 'user'").select("doc_id")
        filtered_topk(spark, store, terms, allowed, k=10).collect()

    def run_fuzzy():
        search(spark, store, "serch~", k=10, engine="df",
               with_metadata=False).collect()

    return [("lm", run_lm), ("batch_100q", run_batch), ("mlt", run_mlt),
            ("facets", run_facets), ("filtered", run_filtered),
            ("fuzzy", run_fuzzy)]


def mode_queries(args) -> None:
    import shutil

    from search_engine_spark.index.builder import build_index
    from search_engine_spark.index.storage import IndexStore
    from search_engine_spark.query.pipeline import search

    spark = _get_spark(args.cores)
    store = IndexStore(args.ix)
    if not store.readable() or not store.chunk_done(0):
        shutil.rmtree(args.ix, ignore_errors=True)
        build_index(spark, spark.read.parquet(args.corpus), args.ix, n_chunks=1)
        store = IndexStore(args.ix)

    for _, q, engine in QUERY_SET:  # warmup pass (JIT + file listing)
        search(spark, store, q, k=10, engine=engine, with_metadata=False).collect()
    out: dict[str, float] = {}
    for name, q, engine in QUERY_SET:
        lats = []
        for _ in range(args.repeats):
            t0 = time.time()
            search(spark, store, q, k=10, engine=engine,
                   with_metadata=False).collect()
            lats.append(time.time() - t0)
        out[name] = round(statistics.median(lats), 3)
    if args.extended:
        ext = _extended_set(spark, store)
        for _, fn in ext:  # warmup
            fn()
        for name, fn in ext:
            lats = []
            for _ in range(args.repeats):
                t0 = time.time()
                fn()
                lats.append(time.time() - t0)
            out[name] = round(statistics.median(lats), 3)
    print(json.dumps({"mode": "queries", "cores": args.cores, "ix": args.ix,
                      "queries": out}))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["build", "queries"])
    ap.add_argument("--cores", type=int, default=8)
    # per-mode default mirrors the frozen bench: build times the scaling
    # corpus, queries time the dedicated ~650k-turn query corpus
    ap.add_argument("--corpus", default=None)
    ap.add_argument("--ix", default="/dev/shm/bx_extra")
    ap.add_argument("--repeats", type=int, default=1)
    ap.add_argument("--extended", action="store_true")
    args = ap.parse_args()
    if args.corpus is None:
        args.corpus = (
            "/tmp/bench_transcripts_sf0.1"
            if args.mode == "build"
            else "/tmp/bench_transcripts_q_sf0.1"
        )
    if args.mode == "build":
        mode_build(args)
    else:
        mode_queries(args)


if __name__ == "__main__":
    main()
