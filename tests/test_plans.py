"""Physical-plan shape regressions: the scale properties we claim must be
visible in `.explain` output — partition pruning on term buckets, parquet
filter pushdown, broadcast joins for small sides, TakeOrderedAndProject for
top-k (SURVEY.md §4)."""

from pathlib import Path

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_postings_scan_prunes_partitions_and_pushes_term_filter(spark, index_store):
    from search_engine_spark.index.build import term_bucket_py

    term = "spark"
    df = (
        index_store.postings(spark)
        .filter(F.col("tbucket") == term_bucket_py(term))
        .filter(F.col("term") == term)
        .select("doc_id", "tf")
    )
    plan = _plan(df)
    assert "PartitionFilters" in plan
    # tbucket appears as a partition filter, term as a pushed data filter
    assert "tbucket" in plan.split("PartitionFilters", 1)[1].split("\n", 2)[0] or \
           "tbucket" in plan
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters", 1)[1].split("\n", 1)[0]
    assert "term" in pushed
    # column pruning: the fat importance column is not read
    assert "importance" not in plan.split("ReadSchema", 1)[1].split("\n", 1)[0]


def test_bm25_topk_uses_take_ordered_and_broadcasts_stats(spark, index_store):
    from search_engine_spark.analysis import analyze_query
    from search_engine_spark.query.bm25 import bm25_topk

    df = bm25_topk(spark, index_store, analyze_query("spark index"), k=10)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_enriched_result_is_local_relation(spark, index_store):
    """The enriched top-k is built on the driver: its plan reads no
    parquet, so collecting it launches no job."""
    from search_engine_spark.query.pipeline import search

    plan = _plan(search(spark, index_store, "spark", k=5))
    assert "LocalTableScan" in plan, plan
    assert "Scan parquet" not in plan, plan


def test_positions_scan_prunes_partitions(spark, index_store):
    """Phrase queries must get the same directory pruning postings have:
    segments/ is partitioned by tbucket and the phrase scan filters on it."""
    from search_engine_spark.analysis import analyze_query
    from search_engine_spark.query.phrase import phrase_matches

    df = phrase_matches(spark, index_store, analyze_query("spark index"))
    plan = _plan(df)
    assert "PartitionFilters" in plan
    assert "tbucket" in plan.split("PartitionFilters", 1)[1].split("\n", 1)[0]


def test_enrichment_probe_reads_only_the_ids_row_groups(
    spark, index_store, monkeypatch
):
    """Metadata enrichment must not scan the whole doc registry for k rows:
    the driver-side docs probe returns exactly the requested ids and the
    six columns a result row needs (``ts`` a UTC instant), and its pushed
    filter skips every docs file that holds none of the ids (the files are
    written in doc_id order, so row-group statistics prune)."""
    import pyarrow as pa
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    from search_engine_spark.query import pipeline

    files = sorted(Path(index_store.docs_path).glob("*.parquet"))
    assert len(files) >= 2, files
    ids = pq.read_table(files[-1], columns=["doc_id"]).column("doc_id")
    ids = ids.to_pylist()[:3]
    pushed = []
    read = pipeline.read_arrow
    monkeypatch.setattr(
        pipeline, "read_arrow",
        lambda path, ddl, cols, flt: pushed.append(flt) or read(
            path, ddl, cols, flt
        ),
    )
    probe = pipeline.docs_probe(spark, index_store, ids + [10**9])
    assert sorted(probe.column("doc_id").to_pylist()) == sorted(ids)
    assert probe.column_names == [
        "doc_id", "conv_id", "turn_idx", "role", "ts", "text"
    ]
    assert probe.schema.field("ts").type == pa.timestamp("us", tz="UTC")
    (flt,) = pushed
    touched = [
        f.path
        for f in ds.dataset(index_store.docs_path).get_fragments()
        if f.subset(filter=flt).num_row_groups
    ]
    assert touched == [str(files[-1])], touched


def test_suspect_check_reads_only_the_ids_row_groups(
    spark, tmp_path, monkeypatch
):
    """The exact check of bloom suspects against the tombstones skips every
    tombstone file that holds none of the ids: after three delete appends
    (one file each, spanning an id range), a check of one append's id opens
    only that append's file."""
    import pyarrow.dataset as ds

    from search_engine_spark.index import deletes
    from search_engine_spark.index.storage import IndexStore

    store = IndexStore(str(tmp_path / "ix"))
    path = Path(deletes.tombstones_path(store))
    files = []
    for ids in ([1, 3], [10, 12], [20, 22]):
        deletes.mark_deleted(
            spark, store,
            spark.createDataFrame([(i,) for i in ids], "doc_id long").coalesce(1),
        )
        (new,) = set(map(str, path.glob("*.parquet"))) - set(files)
        files.append(new)
    pushed = []
    read = deletes.read_arrow
    monkeypatch.setattr(
        deletes, "read_arrow",
        lambda p, ddl, cols, flt: pushed.append(flt) or read(p, ddl, cols, flt),
    )
    assert deletes.verify_suspects(spark, store, [12, 99]) == {12}
    (flt,) = pushed
    touched = [
        f.path for f in ds.dataset(str(path)).get_fragments()
        if f.subset(filter=flt).num_row_groups
    ]
    assert touched == [files[1]], touched


def test_wand_segment_scan_prunes_by_term(spark, index_store):
    from search_engine_spark.index.build import term_bucket_py

    term = "spark"
    segs = (
        index_store.segments(spark)
        .filter(F.col("tbucket") == term_bucket_py(term))
        .filter(F.col("term") == term)
    )
    plan = _plan(segs)
    # tbucket is a partition dir inside each chunk -> whole-bucket pruning
    assert "PartitionFilters" in plan
    assert "tbucket" in plan.split("PartitionFilters", 1)[1].split("\n", 1)[0]
    assert "PushedFilters" in plan
    assert "term" in plan.split("PushedFilters", 1)[1].split("\n", 1)[0]


def test_near_chain_scan_prunes_by_term(spark, index_store, oracle_index):
    """The ordered-chain kernel's input scan must carry the same tbucket
    partition pruning + pushed term filter as every other segment serve."""
    from search_engine_spark.query.proximity import near_chain_matches

    terms = sorted(oracle_index.positions)[:3]
    df = near_chain_matches(spark, index_store, terms, 5)
    plan = _plan(df)
    assert "PartitionFilters" in plan
    assert "tbucket" in plan.split("PartitionFilters", 1)[1].split("\n", 1)[0]
    assert "PushedFilters" in plan
    assert "term" in plan.split("PushedFilters", 1)[1].split("\n", 1)[0]


def test_lm_topk_has_no_window_exchange(spark, index_store):
    """cf(t) comes from the build-time term_stats column (broadcast with
    the stats join) — the LM plan must not contain the per-term Window
    (a maximally skewed shuffle: every posting of a head term in ONE
    partition) the pre-cf serve path used."""
    from search_engine_spark.analysis import analyze_query
    from search_engine_spark.query.lm import lm_dirichlet_topk

    df = lm_dirichlet_topk(spark, index_store, analyze_query("spark index"), k=10)
    plan = _plan(df)
    assert "Window" not in plan
    assert "TakeOrderedAndProject" in plan


def test_serve_kernels_cross_one_arrow_boundary(spark, index_store, oracle_index):
    """WAND, phrase, NEAR, NEAR chain and the logical-query phrase kernel
    all run through ``phrase.shard_map``: the executed plan of each holds
    the Arrow grouped-map node and no pandas one."""
    from search_engine_spark.analysis import analyze_query
    from search_engine_spark.query.phrase import phrase_matches_multi, phrase_topk
    from search_engine_spark.query.proximity import near_chain_topk, near_topk
    from search_engine_spark.query.wand import bm25_topk_wand

    a, b = analyze_query("spark index")
    served = {
        "wand": bm25_topk_wand(spark, index_store, [a, b], k=5),
        "phrase": phrase_topk(spark, index_store, [a, b], k=5),
        "near": near_topk(spark, index_store, a, b, 3, k=5),
        "near_chain": near_chain_topk(
            spark, index_store, sorted(oracle_index.positions)[:3], 5, k=5
        ),
        "logical": phrase_matches_multi(
            spark, index_store, [[a, b], analyze_query("query model")]
        ),
    }
    for name, df in served.items():
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "FlatMapGroupsInArrow" in plan, (name, plan)
        assert "FlatMapGroupsInPandas" not in plan, (name, plan)
