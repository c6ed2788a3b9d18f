"""Per-layer measurements for the traced run (``--trace 1``).

Every number here comes from timing or counting calls into the public
functions of one layer (the layer names are the module names), made from
this file. Nothing in ``search_engine_spark`` is modified; two read-only
methods and one function are wrapped in place for the run's lifetime and
restored by ``close``. Times are medians over the run's samples; the
``_calls`` and per-class job and stage counts are means per query (on churn
a class is asked both with deletes pending and after a compaction, which
differ in job count).

Which end-to-end metric each layer metric should move, and on which
workload (``query_cpu_ms``, ``build_cpu_s`` and churn's
``append_turns_per_s`` are on the report line, without a bound):

======================================================  ==========================  ============
layer metric                                            moves                       workload
======================================================  ==========================  ============
query.parser.parse_ms, query.suggest.expand_ms,         query_p50_ms                serve
query.suggest.expanded_terms
query.wand.retrieve_ms, query.bm25.retrieve_ms          query_p50_ms, query_cpu_ms  serve, churn
(the retrieval call plus collect)
query.phrase.retrieve_ms, query.proximity.retrieve_ms,  query_p50_ms                serve
query.logical.combine_ms
query.pipeline.enrich_ms (with metadata minus without)  query_p50_ms                serve, churn
spark.jobs_per_query.<class>,                           query_p50_ms, query_cpu_ms  serve, churn
spark.stages_per_query.<class> (exact counts)
index.storage.corpus_stats_calls,                       query_p50_ms                serve, churn
index.storage.manifests_calls (per query)
query.first_after_write_ms vs query.warm_ms,            query_p50_ms                churn
index.deletes.bloom_ms
streaming.incremental.append_s, index.deletes.mark_ms,  append_turns_per_s          churn
index.deletes.compact_s
index.build.* stage times, index.build.jobs,            build_turns_per_s,          serve, churn
index.build.task_busy_ratio                             build_cpu_s, setup_s
index.codec.segment_bytes, index.storage.docs_bytes,    index_bytes_per_text_byte   serve, churn
index.storage.postings_bytes
trace.query_p50_ms, trace.overhead_ms, trace.setup_s    none: the cost of tracing
======================================================  ==========================  ============

A traced run measures every layer on either workload: after its own
checks, serve appends, deletes, probes and compacts once, and either sends
one query of each class its timed window did not reach.
"""

from __future__ import annotations

import io
import json
import re
import statistics
import time
from collections import defaultdict
from pathlib import Path

from search_engine_spark.index import deletes
from search_engine_spark.index.storage import IndexStore
from search_engine_spark.query.bm25 import bm25_topk
from search_engine_spark.query.logical import combine
from search_engine_spark.query.parser import parse_query
from search_engine_spark.query.phrase import phrase_topk
from search_engine_spark.query.pipeline import search
from search_engine_spark.query.proximity import near_topk
from search_engine_spark.query.suggest import expand_prefix
from search_engine_spark.query.wand import bm25_topk_wand

from stream import CLASSES

_TICK_RE = re.compile(r"\[build_index\] (.+?): [0-9.]+s")
_BUILD_GROUP = "bench-build"
# build_index(verbose=True) tick label -> layer metric
_BUILD_STAGES = (
    ("stage1 docs", "index.build.stage1_docs_s"),
    ("count", "index.build.count_s"),
    ("stage2 postings", "index.build.stage2_postings_s"),
    ("stage3 term_stats", "index.build.stage3_term_stats_s"),
    ("encode+write", "index.build.encode_s"),
    ("manifest", "index.build.manifest_s"),
)


def unit(name: str) -> str:
    for suffix, u in (("_ms", "ms"), ("_s", "s"), ("_bytes", "bytes"), ("_ratio", "ratio")):
        if name.endswith(suffix):
            return u
    return "count"


def _ms(t0: float) -> float:
    return (time.perf_counter() - t0) * 1e3


class _TickClock(io.TextIOBase):
    """stdout stand-in that stamps each ``build_index`` tick line as it is
    printed, so stage times keep full clock precision."""

    def __init__(self):
        self.start = time.perf_counter()
        self.ticks: list[tuple[str, float]] = []

    def write(self, s: str) -> int:
        now = time.perf_counter()
        for m in _TICK_RE.finditer(s):
            self.ticks.append((m.group(1), now))
        return len(s)


class Tracer:
    def __init__(self, spark, cores: int, event_dir: Path):
        self.spark = spark
        self.cores = cores
        self.event_dir = event_dir
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.values: dict[str, float] = {}
        self._groups: list[tuple[str, str]] = []  # (job group, class)
        self._build_window = (0.0, 0.0)
        self._counting = False
        self._calls = defaultdict(int)
        self._epoch = 0
        self._bloom_seen: set[int] = set()
        self._restore = []
        self._wrap(IndexStore, "corpus_stats", self._counter("corpus_stats"))
        self._wrap(IndexStore, "manifests", self._counter("manifests"))
        self._wrap(deletes, "tombstone_bloom", self._bloom_timer)

    # -- wrapping ----------------------------------------------------------
    def _wrap(self, owner, name, make):
        orig = getattr(owner, name)
        self._restore.append((owner, name, orig))
        setattr(owner, name, make(orig))

    def _counter(self, key):
        def make(orig):
            def counted(store, *a, **kw):
                if self._counting:
                    self._calls[key] += 1
                return orig(store, *a, **kw)
            return counted
        return make

    def _bloom_timer(self, orig):
        def timed(*a, **kw):
            t0 = time.perf_counter()
            out = orig(*a, **kw)
            if self._epoch and self._epoch not in self._bloom_seen:
                # the first probe after a delete builds the bloom; later
                # calls in the same epoch are cache hits
                self._bloom_seen.add(self._epoch)
                self.samples["index.deletes.bloom_ms"].append(_ms(t0))
            return out
        return timed

    def close(self) -> None:
        for owner, name, orig in reversed(self._restore):
            setattr(owner, name, orig)
        self._restore.clear()

    # -- spark job groups --------------------------------------------------
    def _in_group(self, group: str, fn):
        sc = self.spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            return fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def _jobs_stages(self, group: str) -> tuple[int, int]:
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = 0
        for j in jobs:
            info = st.getJobInfo(j)
            stages += len(info.stageIds) if info else 0
        return len(jobs), stages

    # -- build -------------------------------------------------------------
    def build(self, fn):
        """Runs ``fn`` (a verbose ``build_index`` call) in its own job group,
        splitting its wall time at the tick lines it prints."""
        from contextlib import redirect_stdout

        clock = _TickClock()
        w0 = time.time()
        with redirect_stdout(clock):
            out = self._in_group(_BUILD_GROUP, fn)
        self._build_window = (w0, time.time())
        prev = clock.start
        stage_s = defaultdict(float)
        for label, t in clock.ticks:
            for key, metric in _BUILD_STAGES:
                if label.endswith(key):
                    stage_s[metric] += t - prev
            prev = t
        for _, metric in _BUILD_STAGES:
            self.values[metric] = stage_s[metric]
        return out

    def store_bytes(self, store) -> None:
        def du(p):
            return float(sum(f.stat().st_size for f in Path(p).rglob("*") if f.is_file()))

        self.values["index.codec.segment_bytes"] = du(store.segments_path)
        self.values["index.storage.docs_bytes"] = du(store.docs_path)
        self.values["index.storage.postings_bytes"] = du(store.postings_path)

    # -- queries -----------------------------------------------------------
    def query(self, spark, store, q, k: int) -> list:
        """The end-to-end query twice, untraced and traced (in its own job
        group, with store reads counted), in alternating order; then direct
        calls into the layers its class uses. Returns the traced rows."""
        s = self.samples

        def plain():
            t0 = time.perf_counter()
            search(spark, store, q.text, k=k, engine=q.engine).collect()
            s["plain_ms"].append(_ms(t0))

        def traced():
            group = f"bench-q{len(self._groups)}"
            self._groups.append((group, q.cls))
            before = dict(self._calls)
            self._counting = True
            t0 = time.perf_counter()
            try:
                rows = self._in_group(
                    group, lambda: search(spark, store, q.text, k=k, engine=q.engine).collect()
                )
            finally:
                self._counting = False
            s["traced_ms"].append(_ms(t0))
            for key in ("corpus_stats", "manifests"):
                s[f"index.storage.{key}_calls"].append(self._calls[key] - before.get(key, 0))
            return rows

        if len(self._groups) % 2:
            rows = traced()
            plain()
        else:
            plain()
            rows = traced()

        t0 = time.perf_counter()
        pq = parse_query(q.text, stem=True)
        s["query.parser.parse_ms"].append(_ms(t0))
        t0 = time.perf_counter()
        search(spark, store, q.text, k=k, engine=q.engine, with_metadata=False).collect()
        s["query.pipeline.enrich_ms"].append(s["plain_ms"][-1] - _ms(t0))
        self._layer(spark, store, q, pq, k)
        return rows

    def _layer(self, spark, store, q, pq, k: int) -> None:
        """The retrieval (or expansion, or combine) call of the query's
        class, made directly and collected."""
        s = self.samples
        if q.cls == "wand" and pq.kind == "term":
            t0 = time.perf_counter()
            bm25_topk_wand(spark, store, pq.terms, k=k).collect()
            s["query.wand.retrieve_ms"].append(_ms(t0))
        elif q.cls == "df" and pq.kind == "term":
            t0 = time.perf_counter()
            bm25_topk(spark, store, pq.terms, k=k).collect()
            s["query.bm25.retrieve_ms"].append(_ms(t0))
        elif q.cls == "prefix":
            for p in pq.prefixes or []:
                t0 = time.perf_counter()
                terms = expand_prefix(spark, store, p)
                s["query.suggest.expand_ms"].append(_ms(t0))
                s["query.suggest.expanded_terms"].append(len(terms))
        elif q.cls == "phrase" and pq.kind == "phrase":
            t0 = time.perf_counter()
            phrase_topk(spark, store, pq.terms, k=k).collect()
            s["query.phrase.retrieve_ms"].append(_ms(t0))
        elif q.cls == "near" and pq.kind == "near":
            t0 = time.perf_counter()
            near_topk(spark, store, pq.terms[0], pq.terms[1], pq.window, k=k).collect()
            s["query.proximity.retrieve_ms"].append(_ms(t0))
        elif q.cls == "binary" and pq.kind == "logical":
            def side(leaf):
                if leaf.kind == "phrase":
                    df = phrase_topk(spark, store, leaf.terms, k=None)
                else:
                    df = bm25_topk(spark, store, leaf.terms or [], k=None)
                return df.localCheckpoint(eager=True)

            left, right = side(pq.left), side(pq.right)
            t0 = time.perf_counter()
            combine(left, right, pq.op, k=k).collect()
            s["query.logical.combine_ms"].append(_ms(t0))

    def classes_traced(self) -> set[str]:
        return {cls for _, cls in self._groups}

    # -- writes ------------------------------------------------------------
    def deleted(self) -> None:
        """A delete happened: the next bloom build is a cold one."""
        self._epoch += 1

    def after_write(self, spark, store, probe, k: int) -> None:
        """The same query right after a write, then again warm."""
        for metric in ("query.first_after_write_ms", "query.warm_ms"):
            t0 = time.perf_counter()
            search(spark, store, probe.text, k=k, engine=probe.engine).collect()
            self.samples[metric].append(_ms(t0))

    # -- results -----------------------------------------------------------
    def finish(self) -> dict:
        """Per-layer values; call after all work and before the session
        stops (job counts are read from the status tracker)."""
        time.sleep(1.0)  # let the listener bus record the last jobs
        out = dict(self.values)
        for name, xs in self.samples.items():
            if name.endswith("_calls"):
                out[name] = statistics.mean(xs)
            elif name not in ("plain_ms", "traced_ms"):
                out[name] = statistics.median(xs)
        traced = statistics.median(self.samples["traced_ms"])
        out["trace.query_p50_ms"] = traced
        out["trace.overhead_ms"] = traced - statistics.median(self.samples["plain_ms"])
        per_class = defaultdict(list)
        for group, cls in self._groups:
            per_class[cls].append(self._jobs_stages(group))
        self.job_counts = {c: sorted(set(v)) for c, v in per_class.items()}
        for cls in CLASSES:
            counts = per_class[cls]
            out[f"spark.jobs_per_query.{cls}"] = statistics.mean(j for j, _ in counts)
            out[f"spark.stages_per_query.{cls}"] = statistics.mean(s for _, s in counts)
        out["index.build.jobs"] = self._jobs_stages(_BUILD_GROUP)[0]
        return out

    def task_busy_ratio(self) -> float:
        """Task run time inside the build window over wall time x cores,
        from the Spark event log (complete once the session has stopped)."""
        w0, w1 = (x * 1e3 for x in self._build_window)
        busy = 0.0
        for f in self.event_dir.rglob("*"):
            if not f.is_file():
                continue
            with open(f) as fh:
                for line in fh:
                    if '"SparkListenerTaskEnd"' not in line:
                        continue
                    ev = json.loads(line)
                    if w0 <= ev["Task Info"]["Launch Time"] <= w1:
                        busy += ev.get("Task Metrics", {}).get("Executor Run Time", 0)
        return busy / ((w1 - w0) * self.cores)
