"""Benchmark of search_engine_spark: index build, appends, deletes and
BM25 top-k queries through the package's public API, in a fresh local
SparkSession sized to the host (``local[N]`` on half the cores, driver heap
a quarter of RAM up to 2 GiB).

    python3 perfbench/run.py --workload serve --seed 1 --seconds 16 --trace 0

Run it from the repository root. One client, closed loop: the next operation
starts when the previous one returns. Workloads:

* ``serve``: rounds of seven mixed queries, one per class (free text via
  WAND and via the DataFrame path, ``prefix*``, ``"phrase"``,
  ``a NEAR/w b``, binary AND and nested boolean), each with metadata and
  snippets, against the static index built in set-up.
* ``churn``: cycles that append a batch, delete a few doc ids, send one
  WAND query (which reads the deletes through the tombstone bloom),
  compact, and send one binary AND (of two phrases) query and
  ``CHURN_WARM_READS`` WAND queries: every cycle's reads follow writes
  that invalidated the driver-side caches, and each run ends with a
  compaction.

``serve`` sends queries, class after class, until ``--seconds`` have
passed; ``churn`` runs whole cycles until then, so at least one. Set-up
covers session start, the base build and a warm-up pass of one query per
class. Generating the corpus and the queries from ``--seed`` comes first
and is not timed. After the timed window every served top-k list of an oracle-scored class (warm-up
included, lists served between a delete and its compaction excluded) is
checked against the brute-force oracle over the transcripts live when it
was served.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` the per-layer
metrics (see ``layers.py``). The last line of stdout is one JSON object with
the keys ``correct``, ``attempted``, ``failed`` and ``metrics``; the line
before it holds the host facts, sample counts, phase times, error rate and
any failures.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shutil
import signal
import statistics
import sys
import time
from pathlib import Path

# ~3.9k turns in the base build. A query's latency is almost all fixed
# cost at this size (measured on a 4-core host: 1.1 s at 3.3k turns, 1.2 s
# at 9.8k), and a smaller build leaves more of a run for the timed window.
BASE_CONVS = 600
BATCH_CONVS = 40           # conversations per appended batch (~260 turns)
DELETES_PER_CYCLE = 4      # doc ids deleted per churn cycle
# Term buckets of the build. The library default (64) is sized for corpora
# a thousand times larger; on a few thousand turns it only multiplies files.
N_BUCKETS = 8
K = 10
HEAP_CAP_MB = 2048
# WAND reads after the binary read that follows each churn compaction. The
# reads right after a delete or a compaction refill the driver-side caches
# and a binary query costs more than a WAND one, so the median lands inside
# the group of warm WAND reads only when that group holds most reads. With
# WAND and binary reads in equal numbers it fell between the two classes
# and moved 22% between seeds.
CHURN_WARM_READS = 7


def host_facts() -> dict:
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        ram_mb = next(int(l.split()[1]) // 1024 for l in f if l.startswith("MemTotal:"))
    # Half the cores run Spark tasks. Each task feeds a Python worker, and
    # the JVM compiles and collects on threads of its own, so local[nproc]
    # keeps more threads runnable than there are cores (measured on a 4-core
    # host: 1.8 cores busy per query at local[2], 2.4 at local[4], and
    # local[2] 15% faster). The heap is a quarter of physical RAM, capped: the corpus is
    # small and the machine may be shared.
    spark_cores = max(1, cores // 2)
    return {"nproc": cores, "ram_mb": ram_mb, "spark_cores": spark_cores,
            "master": f"local[{spark_cores}]",
            "driver_heap_mb": max(512, min(HEAP_CAP_MB, ram_mb // 4)),
            "python": platform.python_version()}


class Run:
    def __init__(self, args, work: Path, host: dict):
        from proc import PeakRss

        self.args = args
        self.work = work
        self.host = host
        self.rng = random.Random(args.seed)
        self.attempted = 0
        self.failures: list[str] = []
        self.latency_ms: list[float] = []
        self.query_cpu_s = 0.0
        self.empty = 0
        # (query, [(doc_id, score)], index state: (batches written, deleted
        # ids, whether some are not compacted away yet))
        self.served: list[tuple] = []
        self.latency_by_class: dict[str, list[float]] = {}
        self.appended_turns = 0
        # measured end to end but too noisy between runs on a shared host
        # (spread up to 0.2) for a bound: printed on the report line
        self.unbounded: dict[str, tuple[float, str]] = {}
        self.written = []               # every transcript batch, in doc-id order
        self.deleted: set[int] = set()
        self.tombstoned = False
        self.write_layers: dict[str, list[float]] = {}
        self.tracer = None
        self.spark = self.store = None
        self.peak_rss = PeakRss()
        self.phases: dict[str, float] = {}  # wall seconds per phase
        self._phase_t = time.perf_counter()

    def _phase(self, name: str) -> None:
        now = time.perf_counter()
        self.phases[name] = round(now - self._phase_t, 3)
        self._phase_t = now

    # -- operations --------------------------------------------------------
    def _op(self, what: str, fn):
        """One operation against the engine; an exception is a failure."""
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # counted as failed; the run goes on
            self.failures.append(f"{what}: {type(e).__name__}: {str(e)[:300]}")
            return None

    def _search(self, q) -> list[tuple[int, float]] | None:
        from search_engine_spark.query.pipeline import search

        rows = self._op(q.text, lambda: search(
            self.spark, self.store, q.text, k=K, engine=q.engine).collect())
        return self._serve(q, rows)

    def _serve(self, q, rows) -> list[tuple[int, float]] | None:
        if rows is None:
            return None
        got = [(int(r["doc_id"]), float(r["score"])) for r in rows]
        self.empty += not got
        self.served.append(
            (q, got, (len(self.written), frozenset(self.deleted), self.tombstoned)))
        return got

    def query(self, q) -> None:
        """One query of the closed loop: timed, or traced with ``--trace 1``."""
        from proc import tree_cpu_s

        if self.tracer is not None:
            self._serve(q, self._op(
                q.text, lambda: self.tracer.query(self.spark, self.store, q, K)))
            return
        c0, t0 = tree_cpu_s(), time.perf_counter()
        if self._search(q) is not None:
            ms = (time.perf_counter() - t0) * 1e3
            self.latency_ms.append(ms)
            self.latency_by_class.setdefault(q.cls, []).append(round(ms, 1))
            self.query_cpu_s += tree_cpu_s() - c0

    def _input(self, pdf) -> str:
        """The engine's input for a transcript batch: a parquet file, as
        transcripts arrive in production. Writing it is not timed."""
        from stream import write_parquet

        path = self.work / "input" / f"{len(self.written)}.parquet"
        path.parent.mkdir(exist_ok=True)
        write_parquet(pdf, str(path))
        self.written.append(pdf)
        return str(path)

    def _read(self, path: str):
        from search_engine_spark.corpus import TRANSCRIPTS_SCHEMA_DDL

        return self.spark.read.schema(TRANSCRIPTS_SCHEMA_DDL).parquet(path)

    def _timed_write(self, metric: str, scale: float, what: str, fn):
        t0 = time.perf_counter()
        out = self._op(what, fn)
        if out is not None:
            self.write_layers.setdefault(metric, []).append(
                (time.perf_counter() - t0) * scale)
        return out

    def append(self, first_conv: int) -> None:
        from stream import conversations
        from search_engine_spark.streaming.incremental import append_batch

        pdf = conversations(first_conv, BATCH_CONVS, self.args.seed)
        path = self._input(pdf)
        n = self._timed_write("streaming.incremental.append_s", 1.0, "append_batch",
                              lambda: append_batch(self.spark, self.store, self._read(path)))
        if n is not None:
            self.appended_turns += n
            if n != len(pdf):
                self.failures.append(f"append_batch: {n} of {len(pdf)} turns appended")

    def delete(self) -> None:
        from search_engine_spark.index.deletes import mark_deleted

        n_docs = sum(len(p) for p in self.written)
        ids = self.rng.sample(sorted(set(range(n_docs)) - self.deleted), DELETES_PER_CYCLE)
        if self._timed_write("index.deletes.mark_ms", 1e3, "mark_deleted",
                             lambda: mark_deleted(self.spark, self.store, ids)) is not None:
            self.deleted.update(ids)
            self.tombstoned = True
        if self.tracer is not None:
            self.tracer.deleted()

    def compact(self) -> None:
        from search_engine_spark.index.deletes import compact

        if self._timed_write("index.deletes.compact_s", 1.0, "compact",
                             lambda: compact(self.spark, self.store)) is not None:
            self.tombstoned = False

    # -- phases ------------------------------------------------------------
    def execute(self) -> tuple[dict, dict]:
        from proc import tree_cpu_s
        from stream import CHURN_CLASSES, CLASSES, QueryStream, conversations

        a = self.args
        classes = CLASSES if a.workload == "serve" else CHURN_CLASSES
        base = conversations(0, BASE_CONVS, a.seed)
        base_path = self._input(base)
        stream = QueryStream(base, a.seed)
        # the warm-up's binary query takes OR or NOT by seed, the timed
        # rounds' AND: all three forms reach the oracle check across seeds
        warmup = stream.round(classes, op=("OR", "NOT")[a.seed % 2])
        text_bytes = sum(len(t.encode()) for t in base["text"])
        self._phase("generate")

        with self.peak_rss:
            t_setup = time.perf_counter()
            self._start_session()
            self._phase("session")
            try:
                from search_engine_spark.index.builder import build_index

                ix = str(self.work / "index")
                c0, t0 = tree_cpu_s(), time.perf_counter()
                build = lambda: build_index(self.spark, self._read(base_path), ix,
                                            n_chunks=1, n_buckets=N_BUCKETS,
                                            verbose=bool(a.trace))
                self.store = self._op("build_index",
                                      (lambda: self.tracer.build(build)) if a.trace else build)
                build_s, build_cpu_s = time.perf_counter() - t0, tree_cpu_s() - c0
                if self.store is None:
                    raise RuntimeError(self.failures[-1])
                index_bytes = sum(f.stat().st_size for f in Path(ix).rglob("*") if f.is_file())
                if a.trace:
                    self.tracer.store_bytes(self.store)
                self._phase("build")
                for q in warmup:
                    self._search(q)
                setup_s = time.perf_counter() - t_setup
                self._phase("warmup")

                next_conv = BASE_CONVS
                deadline = time.perf_counter() + a.seconds
                while time.perf_counter() < deadline:
                    if a.workload == "serve":
                        for q in stream.round(classes):
                            if time.perf_counter() >= deadline:
                                break
                            self.query(q)
                        continue
                    self.append(next_conv)
                    next_conv += BATCH_CONVS
                    self.delete()
                    if a.trace:
                        self.tracer.after_write(self.spark, self.store, warmup[0], K)
                    self.query(stream.make("wand"))
                    self.compact()
                    self.query(stream.make("binary"))
                    for _ in range(CHURN_WARM_READS):
                        self.query(stream.make("wand"))
                self._phase("timed")
                self._check()
                self._phase("check")

                layers = {}
                if a.trace:
                    # fill in the layers this workload does not exercise,
                    # one probe each, after its checks
                    if a.workload == "serve":
                        self.append(next_conv)
                        self.delete()
                        self.tracer.after_write(self.spark, self.store, warmup[0], K)
                        self.compact()
                    traced = self.tracer.classes_traced()
                    for cls in CLASSES:
                        if cls not in traced:
                            q = stream.make(cls)
                            self._op(q.text, lambda: self.tracer.query(self.spark, self.store, q, K))
                    layers = self.tracer.finish()
                    self._phase("trace_probes")
            finally:
                if self.tracer is not None:
                    self.tracer.close()
                self._stop_session()
                self._phase("stop")
        if a.trace:
            layers["index.build.task_busy_ratio"] = self.tracer.task_busy_ratio()
            for name, xs in self.write_layers.items():
                layers[name] = statistics.median(xs)
            layers["trace.setup_s"] = setup_s
            return {}, layers
        self.unbounded = {
            "query_cpu_ms": (self.query_cpu_s * 1e3 / len(self.latency_ms), "ms"),
            "build_cpu_s": (build_cpu_s, "s"),
        }
        e2e = {
            "setup_s": (setup_s, "s"),
            "query_p50_ms": (statistics.median(self.latency_ms), "ms"),
            "build_turns_per_s": (len(base) / build_s, "1/s"),
            "index_bytes_per_text_byte": (index_bytes / text_bytes, "ratio"),
        }
        return e2e, {}

    def _check(self) -> None:
        """Every served list of an oracle-scored class, against the oracle
        over the transcripts live when it was served. Lists served while
        deleted docs await compaction are skipped: their term statistics
        still count the deleted docs while phrase statistics do not, and the
        oracle defines neither mix. Compaction restores exact statistics."""
        import pandas as pd
        from check import Oracle
        from stream import ORACLE_CLASSES

        oracles = {}
        for q, got, (n_batches, deleted, tombstoned) in self.served:
            if q.cls not in ORACLE_CLASSES or tombstoned:
                continue
            if (n_batches, deleted) not in oracles:
                corpus = pd.concat(self.written[:n_batches], ignore_index=True)
                live = set(range(len(corpus))) - deleted if deleted else None
                oracles[n_batches, deleted] = Oracle(corpus, live)
            self._compare(q, got, oracles[n_batches, deleted])

    def _compare(self, q, got, oracle) -> None:
        from check import mismatch

        self.attempted += 1
        bad = mismatch(got, oracle.expected(q.text, K))
        if bad:
            self.failures.append(f"wrong result for {q.text}: {bad}")

    # -- session -----------------------------------------------------------
    def _start_session(self) -> None:
        from search_engine_spark.session import get_spark

        conf = {
            "spark.driver.memory": f"{self.host['driver_heap_mb']}m",
            "spark.local.dir": str(self.work / "local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work / 'tmp'}",
        }
        if self.args.trace:
            (self.work / "events").mkdir()
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (self.work / "events").as_uri(),
                "spark.eventLog.compress": "false",
                "spark.ui.retainedJobs": "100000",
            })
        self.spark = get_spark("perfbench", cores=self.host["spark_cores"], extra_conf=conf)
        if self.args.trace:
            from layers import Tracer

            self.tracer = Tracer(self.spark, self.host["spark_cores"], self.work / "events")

    def _stop_session(self) -> None:
        """Stops Spark, then the gateway JVM (it exits when its stdin
        closes), and waits for both."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)


def _cpu_steal(since: tuple[int, int] | None = None):
    """(steal, total) jiffies of all CPUs from /proc/stat, or with ``since``
    the share of CPU time the hypervisor gave to other guests since then."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    now = (ticks[7], sum(ticks))
    if since is None:
        return now
    return (now[0] - since[0]) / max(1, now[1] - since[1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=("serve", "churn"), required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=16.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # run the cleanup below (stop Spark, remove the work directory) on kill
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = Path.cwd()
    if not (root / "search_engine_spark" / "__init__.py").is_file():
        print("run from the repository root: search_engine_spark/ not found",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(root))
    host = host_facts()
    work = root / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    # the JVM and its Python workers inherit these
    os.environ.update({
        "TMPDIR": str(work / "tmp"),
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(root), os.environ.get("PYTHONPATH")) if p),
    })
    run = Run(args, work, host)
    steal0 = _cpu_steal()
    try:
        e2e, layers = run.execute()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:  # another run still holds its directory
            pass

    import pyspark

    host["cpu_steal_share"] = _cpu_steal(steal0)
    n = len(run.served)
    append_s = run.write_layers.get("streaming.incremental.append_s", [])
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "host": {**host, "spark": pyspark.__version__},
        "queries_timed": len(run.latency_ms),
        "empty_result_share": run.empty / max(n, 1),
        "appends": len(append_s), "deleted_docs": len(run.deleted),
        # peak RSS of the process tree moved 20% between runs of the same
        # code (JVM heap growth, Python worker count), too much for a bound
        "peak_rss_mb": run.peak_rss.peak_mb,
        "unbounded": {k: {"value": v, "unit": u} for k, (v, u) in run.unbounded.items()},
        "append_turns_per_s": run.appended_turns / sum(append_s) if append_s else None,
        "error_rate": len(run.failures) / run.attempted,
        "latency_ms_by_class": run.latency_by_class,
        "phases_s": run.phases, "failures": run.failures[:20],
    }
    if run.tracer is not None:
        report["jobs_per_query_seen"] = run.tracer.job_counts
    print(json.dumps(report, sort_keys=True))
    if args.trace:
        from layers import unit

        metrics = {k: {"value": v, "unit": unit(k)} for k, v in sorted(layers.items())}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
