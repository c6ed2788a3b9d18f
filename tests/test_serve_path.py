"""The served query end to end, one query per class of the benchmark's
query stream: Spark job counts, and the enriched rows' fidelity.

Job counts are pinned so that a new action on the hot path (an extra
collect, a driver-built frame that parallelizes a Python RDD, a second
enrichment pass) fails here. They are exact for the fixture index (40
conversations, two chunks), taken on a warm call, after the reader memo and
the idf and expansion caches are filled."""

import itertools
import time

import pandas as pd
import pytest

from search_engine_spark.index.deletes import mark_deleted, verify_suspects
from search_engine_spark.index import storage
from search_engine_spark.index.storage import IndexStore
from search_engine_spark.query import pipeline, wand
from search_engine_spark.query.pipeline import search

# class -> (query, engine, jobs of a warm search(...).collect())
CLASSES = {
    "wand": ("baba coba spark", "wand", 2),
    "df": ("baba coba spark", "df", 4),
    "prefix": ("bab*", "wand", 2),
    "phrase": ('"baba coba"', "df", 4),
    "near": ("baba NEAR/3 daba", "df", 4),
    "binary": ('"baba coba" AND "daba baba"', "df", 8),
    "nested": ('("baba coba" OR "fenba baba") NOT "gorba baba"', "df", 12),
}

_group = itertools.count()


def _drop_idf_entries():
    """Forget every store's cached idf; the memo's readers stay warm."""
    for key in [k for k in storage._MEMO if k[0] == "idf"]:
        del storage._MEMO[key]


def _jobs(spark, action):
    """(result, number of Spark jobs ``action`` launched)."""
    sc = spark.sparkContext
    group = f"job-count-{next(_group)}"
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("cls", list(CLASSES))
def test_search_job_count(spark, index_store, cls):
    query, engine, expected = CLASSES[cls]
    search(spark, index_store, query, k=10, engine=engine).collect()  # warm
    # enrichment is eager: search() runs every job, the returned frame none
    df, n_search = _jobs(spark, lambda: search(
        spark, index_store, query, k=10, engine=engine
    ))
    rows, n_collect = _jobs(spark, df.collect)
    assert rows, f"{cls}: {query!r} matched nothing on the fixture"
    assert n_collect == 0, f"{cls}: collecting the result ran {n_collect} jobs"
    assert n_search == expected, f"{cls}: {n_search} jobs, pinned {expected}"


def test_cold_idf_cache_adds_no_job(spark, index_store):
    """Query terms missing from the idf cache are looked up on the driver:
    a WAND query over never-queried terms launches as many jobs cold as
    warm."""
    query, engine, expected = CLASSES["wand"]
    search(spark, index_store, query, k=10, engine=engine)  # warm readers
    fresh = "venba drosel"
    _drop_idf_entries()
    df, n_cold = _jobs(spark, lambda: search(
        spark, index_store, fresh, k=10, engine=engine
    ))
    assert df.collect(), f"{fresh!r} matched nothing on the fixture"
    _, n_warm = _jobs(spark, lambda: search(
        spark, index_store, fresh, k=10, engine=engine
    ))
    assert n_cold == n_warm == expected, (n_cold, n_warm)


def test_point_lookups_launch_no_job(spark, index_store, tmp_path):
    """The idf lookup of uncached terms, the enrichment probe and the
    tombstone check of bloom suspects are driver reads of the parquet."""
    _drop_idf_entries()
    n_buckets = index_store.corpus_stats()["n_buckets"]
    idf, n = _jobs(spark, lambda: wand._cached_term_idf(
        spark, index_store, ["baba", "nosuchterm"], n_buckets
    ))
    assert n == 0 and idf["baba"] > 0 and idf["nosuchterm"] is None
    probe, n = _jobs(spark, lambda: pipeline.docs_probe(
        spark, index_store, [3, 1, 4]
    ))
    assert n == 0 and sorted(probe.column("doc_id").to_pylist()) == [1, 3, 4]
    store = IndexStore(str(tmp_path / "ix"))
    mark_deleted(spark, store, [5, 7])
    deleted, n = _jobs(spark, lambda: verify_suspects(
        spark, store, [4, 5, 6, 7]
    ))
    assert n == 0 and deleted == {5, 7}


@pytest.fixture
def new_york_tz(monkeypatch):
    """The Python process runs in a non-UTC zone (the session's SQL time
    zone stays UTC)."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


@pytest.mark.parametrize("cls", list(CLASSES))
def test_enriched_ts_survives_non_utc_process_tz(
    spark, index_store, transcripts_pdf, new_york_tz, cls
):
    """Each enriched ``ts`` is the instant of its source turn, whatever the
    process time zone: the result must not pass a timestamp through a
    zone-naive value read in local time."""
    assert time.localtime().tm_gmtoff != 0
    # the fixture's naive pandas timestamps are ingested in the session's
    # UTC zone
    source = {
        (c, int(t)): pd.Timestamp(ts).tz_localize("UTC").timestamp()
        for c, t, ts in zip(
            transcripts_pdf["conv_id"], transcripts_pdf["turn_idx"],
            transcripts_pdf["ts"],
        )
    }
    query, engine, _ = CLASSES[cls]
    rows = search(spark, index_store, query, k=10, engine=engine).collect()
    assert rows
    for r in rows:
        # a collected timestamp is a naive datetime in process local time
        assert r["ts"].timestamp() == source[(r["conv_id"], r["turn_idx"])], r


def test_doc_missing_from_registry_is_dropped(spark, index_store, monkeypatch):
    """Enrichment keeps inner-join semantics: a top-k doc the registry does
    not return is dropped, and the remaining ranks stay dense."""
    query, engine, _ = CLASSES["wand"]
    full = search(spark, index_store, query, k=5, engine=engine).collect()
    assert len(full) == 5
    gone = full[1]["doc_id"]
    probe = pipeline.docs_probe
    monkeypatch.setattr(
        pipeline, "docs_probe",
        lambda s, st, ids: probe(s, st, [i for i in ids if i != gone]),
    )
    rows = search(spark, index_store, query, k=5, engine=engine).collect()
    assert [r["rank"] for r in rows] == [1, 2, 3, 4]
    kept = [r for r in full if r["doc_id"] != gone]
    assert [r.asDict() | {"rank": 0} for r in rows] == [
        r.asDict() | {"rank": 0} for r in kept
    ]
