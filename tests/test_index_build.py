"""Index-build correctness vs the pandas oracle (FIXTURES.md §5)."""

import numpy as np
from pyspark.sql import functions as F

from search_engine_spark.index.codec import decode_postings


def test_doc_ids_dense_and_ordered(spark, index_store, oracle_index):
    docs = (
        index_store.docs(spark)
        .select("doc_id", "conv_id", "turn_idx")
        .orderBy("doc_id")
        .toPandas()
    )
    n = len(oracle_index.docs)
    assert (docs["doc_id"].to_numpy() == np.arange(n)).all()
    exp = oracle_index.docs[["conv_id", "turn_idx"]].reset_index(drop=True)
    assert (docs["conv_id"].to_numpy() == exp["conv_id"].to_numpy()).all()
    assert (docs["turn_idx"].to_numpy() == exp["turn_idx"].to_numpy()).all()


def test_doc_len_matches_oracle(spark, index_store, oracle_index):
    got = (
        index_store.docs(spark).select("doc_id", "doc_len").orderBy("doc_id").toPandas()
    )
    exp = oracle_index.docs.sort_values("doc_id")["doc_len"].to_numpy()
    assert (got["doc_len"].to_numpy() == exp).all()


def test_df_and_corpus_stats_match_oracle(spark, index_store, oracle_index):
    stats = index_store.term_stats(spark).select("term", "df").toPandas()
    got = dict(zip(stats["term"], stats["df"]))
    assert got == oracle_index.df
    c = index_store.corpus_stats()
    assert c["n_docs"] == oracle_index.n_docs
    assert abs(c["avgdl"] - oracle_index.avgdl) < 1e-9


def test_term_stats_cf_is_collection_frequency(spark, index_store, oracle_index):
    """cf rides the df aggregate at build time: per term, the sum of tf
    over every posting (the LM serve path reads it instead of window-
    summing the pruned scan at query time)."""
    stats = index_store.term_stats(spark).select("term", "cf").toPandas()
    got = dict(zip(stats["term"], stats["cf"]))
    exp = {t: sum(pl.values()) for t, pl in oracle_index.postings.items()}
    assert got == exp


def test_postings_tf_matches_oracle(spark, index_store, oracle_index):
    p = (
        index_store.postings(spark)
        .select("term", "doc_id", "tf")
        .toPandas()
    )
    got = {(t, int(d)): int(tf) for t, d, tf in zip(p["term"], p["doc_id"], p["tf"])}
    exp = {
        (t, d): tf
        for t, dmap in oracle_index.postings.items()
        for d, tf in dmap.items()
    }
    assert got == exp


def test_segments_roundtrip_to_flat_postings(spark, index_store, oracle_index):
    segs = index_store.segments(spark).toPandas()
    got = {}
    for _, row in segs.iterrows():
        ids, tfs, dls = decode_postings(bytes(row["postings"]))
        assert (np.diff(ids) > 0).all() or ids.size <= 1  # sorted, unique
        assert row["df_local"] == ids.size
        for d, tf in zip(ids, tfs):
            got[(row["term"], int(d))] = int(tf)
    exp = {
        (t, d): tf
        for t, dmap in oracle_index.postings.items()
        for d, tf in dmap.items()
    }
    assert got == exp


def test_positions_match_oracle(spark, index_store, oracle_index):
    from search_engine_spark.index.codec import varbyte_decode

    p = (
        index_store.postings(spark)
        .select("term", "doc_id", "tf", "positions")
        .toPandas()
    )
    assert len(p) == sum(len(d) for d in oracle_index.positions.values())
    for t, d, tf, buf in zip(p["term"], p["doc_id"], p["tf"], p["positions"]):
        assert list(varbyte_decode(bytes(buf), int(tf))) == oracle_index.positions[t][int(d)]


def test_manifests_written(index_store, oracle_index):
    ms = index_store.manifests()
    assert len(ms) == index_store.corpus_stats()["n_chunks"]
    total_postings = sum(m["n_postings"] for m in ms)
    exp = sum(len(d) for d in oracle_index.postings.values())
    assert total_postings == exp
    for m in ms:
        assert m["bytes"] > 0 and m["n_dranges"] >= 1


def test_content_hash_is_sha256(spark, index_store, transcripts_pdf):
    import hashlib

    row = index_store.docs(spark).select("text", "content_hash").first()
    assert row["content_hash"] == hashlib.sha256(row["text"].encode()).hexdigest()


def test_null_role_defaults_to_weight_one(spark):
    """A null role must map to weight 1.0 (importance == tf), exactly like
    the pandas-era ROLE_WEIGHTS.get(r, 1.0) — the Arrow kernel fills null
    dictionary indices instead of crashing on float indices."""
    from search_engine_spark.index.build import build_postings

    df = spark.createDataFrame(
        [("c0", 0, None, "sparkly sparkly engine"),
         ("c0", 1, "user", "sparkly engine")],
        "conv_id string, turn_idx int, role string, text string",
    ).withColumn("doc_id", (F.col("turn_idx")).cast("long"))
    rows = {(r["doc_id"], r["term"]): r for r in build_postings(df).collect()}
    assert rows[(0, "sparkli")]["importance"] == 2.0  # null role -> w=1.0, tf=2
    assert rows[(1, "sparkli")]["importance"] == 3.0  # user -> w=3.0, tf=1
