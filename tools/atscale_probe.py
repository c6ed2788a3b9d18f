"""Builder-side at-scale query probe: build (or reuse) a 3.9M-turn index on
tmpfs and time the bench QUERY_SET on it, with host probes bracketing the
pass. Not part of the driver contract — bench.py is; this exists so serve-
path changes can be measured at the scaling-corpus size without paying the
full bench harness. Usage: python tools/atscale_probe.py [ix_dir] [repeats]
"""

from __future__ import annotations

import json
import shutil
import statistics
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from bench import QUERY_SET, host_probe  # noqa: E402


def main() -> None:
    ix_dir = sys.argv[1] if len(sys.argv) > 1 else "/dev/shm/atscale_ix"
    repeats = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    corpus = "/tmp/bench_transcripts_sf0.1"

    from search_engine_spark.index.builder import build_index
    from search_engine_spark.index.storage import IndexStore
    from search_engine_spark.query.pipeline import search
    from search_engine_spark.session import get_spark

    spark = get_spark("atscale-probe", cores=8, shuffle_partitions=8)
    store = IndexStore(ix_dir)
    if not store.readable():  # none yet, or an older format: rebuild
        shutil.rmtree(ix_dir, ignore_errors=True)
        t0 = time.time()
        build_index(spark, spark.read.parquet(corpus), ix_dir, n_chunks=1)
        print(f"[probe] built in {time.time() - t0:.1f}s", file=sys.stderr)
        store = IndexStore(ix_dir)

    p0 = host_probe()
    for _, q, engine in QUERY_SET:  # warmup
        search(spark, store, q, k=10, engine=engine,
               with_metadata=False).collect()
    out = {}
    for name, q, engine in QUERY_SET:
        lats = []
        for _ in range(repeats):
            t0 = time.time()
            search(spark, store, q, k=10, engine=engine,
                   with_metadata=False).collect()
            lats.append(time.time() - t0)
        out[name] = [round(x, 3) for x in lats]
    p1 = host_probe()
    print(json.dumps({
        "queries_median": {
            k: round(statistics.median(v), 3) for k, v in out.items()
        },
        "queries_all": out,
        "probes_mhs": [p0, p1],
        "n_docs": store.corpus_stats()["n_docs"],
        "format_version": store.corpus_stats()["format_version"],
    }))


if __name__ == "__main__":
    main()
