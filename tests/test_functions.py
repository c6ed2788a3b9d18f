"""Unit tests for the training-data pipeline operators (dedup, similarity,
textstats, multimodal) and PageRank — semantics checks the DuckDB contract
harness can't express (convergence, hamming properties, stub gating)."""

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (2, "the quick brown fox leaps over the lazy dog"),  # near dup
        (3, "completely different content about spark engines"),
        (4, "spark engines about content different completely"),  # shuffled 3
        (5, "zz"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, docs):
    from search_engine_spark.functions.dedup import exact_dup_groups

    groups = exact_dup_groups(docs).collect()
    assert len(groups) == 1
    assert groups[0]["n_dups"] == 2 and groups[0]["min_doc_id"] == 0


def test_minhash_lsh_finds_near_dups(spark, docs):
    from search_engine_spark.functions.dedup import minhash_lsh_pairs

    pairs = {
        (r["doc_a"], r["doc_b"]) for r in minhash_lsh_pairs(docs).collect()
    }
    assert (0, 1) in pairs  # identical docs always collide
    assert (3, 5) not in pairs and (0, 3) not in pairs


def test_jaccard_pairs_exact_values(spark, docs):
    from search_engine_spark.functions.dedup import jaccard_pairs

    rows = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in
            jaccard_pairs(docs, n=3, threshold=0.2).collect()}
    assert rows[(0, 1)] == 1.0
    # docs 0 and 2 differ by one word -> 3 of 7 3-shingles differ
    assert (0, 2) in rows and 0.3 < rows[(0, 2)] < 0.7


def test_jaccard_df_cap_bounds_hot_shingle(spark):
    """A shingle shared by all docs makes the uncapped self-join quadratic;
    the df cap drops it while true near-dups (sharing rare shingles) keep
    their pair."""
    from search_engine_spark.functions.dedup import jaccard_pairs

    def uw(i):  # unique all-alpha word
        letters = "abcdefghijklmnopqrstuvwxyz"
        s = ""
        i += 1
        while i:
            s += letters[i % 26]
            i //= 26
        return "zz" + s

    rows = [(i, f"common word {uw(2 * i)} {uw(2 * i + 1)}") for i in range(60)]
    rows[1] = (1, rows[0][1])  # docs 0/1: exact dup pair
    docs60 = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = jaccard_pairs(docs60, n=2, threshold=0.01).count()
    assert uncapped == 60 * 59 // 2  # hot bigram -> every pair materializes
    capped = jaccard_pairs(docs60, n=2, threshold=0.5, max_df=10).collect()
    assert [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in capped] == [(0, 1, 1.0)]


def test_simhash_properties(spark, docs):
    from search_engine_spark.functions.dedup import simhash64, simhash_dup_pairs

    sh = {r["doc_id"]: r["simhash"] for r in simhash64(docs).collect()}
    assert sh[0] == sh[1]  # identical text -> identical simhash
    ham_02 = bin((sh[0] ^ sh[2]) & ((1 << 64) - 1)).count("1")
    ham_03 = bin((sh[0] ^ sh[3]) & ((1 << 64) - 1)).count("1")
    assert ham_02 < ham_03  # near-dup closer than unrelated
    pairs = {(r["doc_a"], r["doc_b"]) for r in
             simhash_dup_pairs(docs, max_hamming=ham_02).collect()}
    assert (0, 1) in pairs and (0, 2) in pairs


def test_fingerprint_order_insensitive(spark, docs):
    from search_engine_spark.functions.textstats import fingerprints

    fp = {r["doc_id"]: r["fingerprint"] for r in fingerprints(docs).collect()}
    assert fp[3] == fp[4]  # shuffled word order -> same fingerprint
    assert fp[0] != fp[3]


def test_cosine_topk_exact(spark):
    from search_engine_spark.functions.similarity import cosine_topk

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = cosine_topk(emb, [1.0, 0.0, 0.0], k=3).collect()
    assert [r["vec_id"] for r in got] == [0, 1, 2]
    assert got[0]["cosine"] == 1.0
    np_cos = 0.9 / np.sqrt(0.81 + 0.01)
    assert abs(got[1]["cosine"] - round(np_cos, 6)) < 1e-9


def test_ivf_recall_vs_brute_force(spark):
    from search_engine_spark.functions.similarity import cosine_topk, ivf_topk

    rng = np.random.default_rng(0)
    M = rng.standard_normal((300, 16))
    emb = spark.createDataFrame(
        [(i, M[i].tolist()) for i in range(300)],
        "vec_id long, embedding array<double>",
    )
    q = M[7].tolist()
    exact = [r["vec_id"] for r in cosine_topk(emb, q, k=5).collect()]
    approx = [r["vec_id"] for r in
              ivf_topk(emb, q, k=5, n_centroids=8, n_probe=4).collect()]
    assert exact[0] == approx[0] == 7  # the query vector itself
    assert len(set(exact) & set(approx)) >= 3  # decent recall at 50% probe


def test_multimodal_stub_gating(spark, docs):
    from search_engine_spark.functions.multimodal import (
        as_media_table,
        decode_media,
        extract_features,
        frame_sample,
    )

    with pytest.raises(NotImplementedError):
        decode_media(b"bytes", "image", fake=False)

    media = as_media_table(docs)
    feats = extract_features(media, fake=True).collect()
    assert len(feats) == docs.count()
    assert all(len(r["features"]) == 8 for r in feats)
    # deterministic: same payload -> same features
    by_id = {r["doc_id"]: r["features"] for r in feats}
    assert by_id[0] == by_id[1]

    frames = frame_sample(media, every_n_bytes=16).collect()
    assert len(frames) > docs.count()  # fan-out happened
    n0 = [r for r in frames if r["doc_id"] == 0]
    assert [r["frame_idx"] for r in sorted(n0, key=lambda r: r["offset"])] == list(
        range(len(n0))
    )


def test_pagerank_converges_and_sums_to_one(spark):
    from search_engine_spark.graph.pagerank import pagerank

    # star graph: everyone links to node 0; node 0 links to 1 (plus a
    # dangling node 9 with no out-edges reached from 0)
    edges = [(i, 0) for i in range(1, 6)] + [(0, 1), (0, 9)]
    edf = spark.createDataFrame(edges, "src long, dst long")
    ranks = {r["node"]: r["rank"] for r in pagerank(edf, epsilon=1e-8).collect()}
    assert abs(sum(ranks.values()) - 1.0) < 1e-9
    assert ranks[0] == max(ranks.values())
    assert ranks[1] > ranks[2]  # 1 gets 0's endorsement


def test_pagerank_size_estimate_stays_small(spark):
    """Every iteration checkpoints a plan, and the checkpoint keeps
    Catalyst's size estimate of the plan it replaces. Joining the rank
    vector twice per iteration squared that estimate each round (over
    22,000 digits after 10 iterations), until planning alone ran for
    minutes in BigInteger arithmetic."""
    import re

    from search_engine_spark.graph.pagerank import pagerank

    edges = [(i, 0) for i in range(1, 6)] + [(0, 1), (0, 9)]
    edf = spark.createDataFrame(edges, "src long, dst long")
    ranks = pagerank(edf, epsilon=0.0, max_iter=10)
    stats = ranks._jdf.queryExecution().optimizedPlan().stats().simpleString()
    m = re.search(r"sizeInBytes=[\d.]+E\+(\d+)", stats)
    assert m is None or int(m.group(1)) < 1000, stats


def test_conversation_graph_and_popularity_blend(spark, transcripts_df, tmp_path):
    from search_engine_spark.corpus import HEAD_TERMS
    from search_engine_spark.graph.pagerank import (
        conversation_graph,
        pagerank,
        write_popularity,
    )
    from search_engine_spark.index.builder import build_index
    from search_engine_spark.index.storage import IndexStore
    from search_engine_spark.query.pipeline import search

    d = str(tmp_path / "ix")
    store = build_index(spark, transcripts_df, d, drange_span=64, n_chunks=1)

    edges = conversation_graph(store.docs(spark))
    assert edges.filter("src <= dst").count() == edges.filter("src < dst").count()
    ranks = pagerank(edges, epsilon=1e-6, max_iter=20)
    write_popularity(spark, store, ranks)

    docs = store.docs(spark)
    assert "popularity" in docs.columns
    prow = docs.agg({"popularity": "min"}).collect()[0][0]
    assert 0.0 <= prow <= 1.0
    # earlier turns accumulate endorsements -> turn 0 outranks the last turn
    pops = {
        (r["conv_id"], r["turn_idx"]): r["popularity"]
        for r in docs.select("conv_id", "turn_idx", "popularity").collect()
    }
    convs = {c for c, _ in pops}
    some = sorted(convs)[0]
    last = max(t for c, t in pops if c == some)
    assert pops[(some, 0)] > pops[(some, last)]

    blended = search(
        spark, store, HEAD_TERMS[0], k=5, with_metadata=False,
        blend_popularity=True,
    ).collect()
    plain = search(spark, store, HEAD_TERMS[0], k=5, with_metadata=False).collect()
    assert len(blended) == len(plain) == 5
    # blend = 0.7*rel + 0.3*pop: verify one row's arithmetic
    rel = {r["doc_id"]: r["score"] for r in search(
        spark, store, HEAD_TERMS[0], k=50, with_metadata=False).collect()}
    d0 = blended[0]["doc_id"]
    pop0 = docs.filter(f"doc_id = {d0}").collect()[0]["popularity"]
    import pytest as _pt
    assert blended[0]["score"] == _pt.approx(0.7 * rel[d0] + 0.3 * pop0, rel=1e-9)


def test_ivf_kmeans_recall(spark):
    from search_engine_spark.functions.similarity import (
        cosine_topk,
        ivf_kmeans_topk,
        kmeans_centroids,
    )

    rng = np.random.default_rng(3)
    # clustered data: 4 gaussian blobs -> kmeans should carve them out
    centers = rng.standard_normal((4, 12)) * 4
    M = np.vstack([centers[i % 4] + rng.standard_normal(12) * 0.3 for i in range(400)])
    emb = spark.createDataFrame(
        [(i, M[i].tolist()) for i in range(400)],
        "vec_id long, embedding array<double>",
    )
    cents = kmeans_centroids(emb, n_centroids=4, n_iter=3)
    assert len(cents) == 4
    q = M[11].tolist()
    exact = [r["vec_id"] for r in cosine_topk(emb, q, k=10).collect()]
    approx = [r["vec_id"] for r in
              ivf_kmeans_topk(emb, q, k=10, n_centroids=4, n_probe=1).collect()]
    # probing ONE of four kmeans cells on well-separated blobs: high recall
    assert len(set(exact) & set(approx)) >= 8
    assert approx[0] == exact[0] == 11


def test_en_bigram_score_separates_english_from_noise(spark):
    from search_engine_spark.functions.textstats import (
        en_bigram_score,
        en_bigram_table,
    )

    table, unseen = en_bigram_table()
    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog and then some"),
            (1, "xqzj vkwx qqzx jjxq zzvq xkqj"),      # unseen-bigram noise
            (2, ""),                                    # no tokens at all
            (3, "a b c d e"),                           # only 1-char tokens
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in en_bigram_score(docs).collect()}
    assert set(rows) == {0, 1, 2, 3}
    # English-like text scores well above the noise string
    assert rows[0]["en_logp"] > rows[1]["en_logp"] + 1.0
    # degenerate docs fall back to the unseen floor with zero bigrams
    for d in (2, 3):
        assert rows[d]["n_bigrams"] == 0
        assert rows[d]["en_logp"] == pytest.approx(round(unseen, 6))
    # bigram count: sum over tokens of len-1
    assert rows[1]["n_bigrams"] == sum(len(t) - 1 for t in
                                       "xqzj vkwx qqzx jjxq zzvq xkqj".split())
    # spot-check one doc's mean against the python table
    toks = "the quick brown fox jumps over the lazy dog and then some".split()
    lps = [
        table.get(t[i:i + 2], unseen)
        for t in toks for i in range(len(t) - 1)
    ]
    assert rows[0]["en_logp"] == pytest.approx(round(sum(lps) / len(lps), 6), abs=2e-6)


def test_dup_components_chain_and_isolated_cluster(spark):
    """Min-label propagation must traverse chains (component = min id of
    the WHOLE connected component, not just direct neighbors) and keep
    exactly one representative per cluster."""
    from search_engine_spark.functions.dedup import dup_components

    pairs = spark.createDataFrame(
        # chain 1-2-3-4 (diameter 3) + isolated pair 10-11
        [(1, 2), (2, 3), (3, 4), (10, 11)],
        "doc_a long, doc_b long",
    )
    docs = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    rows = {
        int(r["doc_id"]): (int(r["component"]), bool(r["keep"]))
        for r in dup_components(docs, pairs=pairs).collect()
    }
    assert rows == {
        1: (1, True), 2: (1, False), 3: (1, False), 4: (1, False),
        10: (10, True), 11: (10, False),
    }


def test_stratified_sample_deterministic_and_per_stratum(spark):
    from search_engine_spark.functions.sampling import (
        hash_sample_keep,
        stratified_sample,
    )

    df = spark.range(0, 4000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 4 == 0, "en").otherwise("unk").alias("lang"),
    )
    out = stratified_sample(
        df, F.col("lang"), {"en": 0.5, "unk": 0.1}, key_col="doc_id"
    )
    rows = out.groupBy("lang").count().collect()
    counts = {r["lang"]: r["count"] for r in rows}
    # 1000 'en' docs at 50%, 3000 'unk' at 10% — md5 is uniform, allow 3-sigma
    assert 420 <= counts["en"] <= 580, counts
    assert 240 <= counts["unk"] <= 370, counts
    # deterministic: the same call returns the identical row set
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(r["doc_id"] for r in out.collect())
    assert a == b
    # fraction edges: 1.0 keeps everything, 0.0 keeps nothing
    n_all = df.filter(hash_sample_keep(F.col("doc_id"), 1.0)).count()
    n_none = df.filter(hash_sample_keep(F.col("doc_id"), 0.0)).count()
    assert n_all == 4000 and n_none == 0


def test_sessionize_gap_semantics(spark):
    from search_engine_spark.functions.sessions import sessionize

    rows = [
        # user 1: two events 10 min apart (one session), then a 31-min gap
        (1, 1, "2025-01-01 10:00:00", 1.0),
        (2, 1, "2025-01-01 10:10:00", 2.0),
        (3, 1, "2025-01-01 10:41:00", 4.0),
        # user 2: single event
        (4, 2, "2025-01-01 09:00:00", 8.0),
        # exact 30-min gap is NOT a new session (strict >)
        (5, 3, "2025-01-01 09:00:00", 1.0),
        (6, 3, "2025-01-01 09:30:00", 1.0),
    ]
    ev = spark.createDataFrame(
        [(e, u, ts, v) for e, u, ts, v in rows],
        "event_id long, user_id long, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    out = {
        (int(r["user_id"]), int(r["session_idx"])): (
            int(r["n_events"]), float(r["sum_value"])
        )
        for r in sessionize(ev, gap_minutes=30).collect()
    }
    assert out == {
        (1, 1): (2, 3.0), (1, 2): (1, 4.0),
        (2, 1): (1, 8.0),
        (3, 1): (2, 2.0),
    }


def test_repetition_scores_known_values(spark):
    from search_engine_spark.functions.textstats import repetition_scores

    docs = spark.createDataFrame(
        [
            (0, "a b c a b c a b c"),   # 7 trigrams, 3 distinct
            (1, "x y"),                 # < 3 words -> 0
            (2, "one two three four"),  # 2 trigrams, all distinct
            (3, ""),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in repetition_scores(docs).collect()}
    assert got[0]["n_ngrams"] == 7
    assert got[0]["rep_frac"] == pytest.approx(1 - 3 / 7, abs=1e-6)
    assert got[1]["n_ngrams"] == 0 and got[1]["rep_frac"] == 0.0
    assert got[2]["rep_frac"] == 0.0
    assert got[3]["n_ngrams"] == 0


def test_redact_pii_masks_and_counts(spark):
    from search_engine_spark.functions.redact import redact_pii

    docs = spark.createDataFrame(
        [
            (0, "mail a.b@x.io and c@y.org now"),
            (1, "ssn 123-45-6789 phone 415 555-1234"),
            (2, "nothing sensitive here"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in redact_pii(docs).collect()}
    assert got[0]["clean"] == "mail <EMAIL> and <EMAIL> now"
    assert got[0]["n_email"] == 2 and got[0]["n_ssn"] == 0
    # SSN masked FIRST, so the phone pattern cannot re-match its digits
    assert got[1]["clean"] == "ssn <SSN> phone <PHONE>"
    assert got[1]["n_ssn"] == 1 and got[1]["n_phone"] == 1
    assert got[2]["clean"] == "nothing sensitive here"
    assert (got[2]["n_email"], got[2]["n_ssn"], got[2]["n_phone"]) == (0, 0, 0)
