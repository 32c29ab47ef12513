"""Concurrent-query throughput (QPS) evidence.

The reference serves many concurrent searches per node; a Spark-backed
engine's per-query latency has a job-scheduling floor (~0.9 s scoring job +
~0.5 s fetch job at sf0.1), but the scheduler interleaves TASKS from
concurrent jobs, so the floor amortizes: N closed-loop clients get far more
than 1/latency aggregate QPS. This harness measures that — the
serving-throughput half of the "sub-second" story (the latency half is the
warmed per-query table in bench.py / BASELINE.md).

Method: one index (bench.py's exact sf0.1 shape: 60k docs, 30 splits,
tmpfs), the engine's session (``session.get_spark``) in FAIR scheduling
mode (each client thread in its own fair pool, as a multi-tenant search
head would run), N closed-loop threads each running bench.py's 10-query
set round-robin from staggered offsets for a fixed number of passes. Reported per level: aggregate QPS,
mean and p95 latency. The concurrent queries share only read-mostly
reader state (fieldnorm cache, stats map).

Usage: PYTHONPATH=. python tools/bench_qps.py [--threads 1,4,8] [--passes 2]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_SCRATCH = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--threads", default="1,4,8")
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--docs", type=int, default=60_000)
    ap.add_argument("--splits", type=int, default=30)
    args = ap.parse_args()
    levels = [int(x) for x in args.threads.split(",")]

    from quickwit_spark.operators.build import IndexConfig, build_index
    from quickwit_spark.operators.search import IndexReader, SearchRequest, search
    from quickwit_spark.session import get_spark
    from quickwit_spark.sources.pages import synth_pages

    # the engine's own session plus FAIR pools for the client threads, so
    # the numbers measure what a caller of get_spark gets
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.scheduler.mode=FAIR pyspark-shell"
    )
    spark = get_spark(app_name="qs_qps")
    spark.sparkContext.setLogLevel("ERROR")

    from bench import QUERY_SET  # the exact latency-bench query set

    index_dir = os.path.join(_SCRATCH, "qs_qps_idx")
    shutil.rmtree(index_dir, ignore_errors=True)
    pages = synth_pages(spark, args.docs, partitions=64)
    build_index(
        spark, pages, index_dir, IndexConfig(num_splits=args.splits), resume=False
    )
    reader = IndexReader(spark, index_dir)
    reader.warm()
    # warm each plan shape once (JVM codegen compile is first-run-only)
    for _, kw in QUERY_SET:
        search(reader, SearchRequest(**kw), fetch_fields=("url",)).collect()

    results = {}
    for n in levels:
        lats: list[float] = []
        lock = threading.Lock()

        def client(tid: int) -> None:
            spark.sparkContext.setLocalProperty(
                "spark.scheduler.pool", f"client_{tid}"
            )
            mine = []
            for p in range(args.passes):
                for j in range(len(QUERY_SET)):
                    _, kw = QUERY_SET[(tid + p + j) % len(QUERY_SET)]
                    t0 = time.time()
                    search(
                        reader, SearchRequest(**kw), fetch_fields=("url",)
                    ).collect()
                    mine.append(time.time() - t0)
            with lock:
                lats.extend(mine)

        t0 = time.time()
        threads = [threading.Thread(target=client, args=(i,)) for i in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        wall = time.time() - t0
        nq = n * args.passes * len(QUERY_SET)
        lats.sort()
        results[f"clients_{n}"] = {
            "queries": nq,
            "wall_sec": round(wall, 2),
            "qps": round(nq / wall, 2),
            "lat_mean_sec": round(statistics.mean(lats), 3),
            "lat_p95_sec": round(lats[max(0, int(0.95 * len(lats)) - 1)], 3),
        }
        print(json.dumps({f"clients_{n}": results[f"clients_{n}"]}))

    # batched mode: the whole query set as ONE search_many call (one scoring
    # job + one fetch job for all N requests) — the throughput ceiling when
    # the caller can batch instead of running closed-loop clients
    from quickwit_spark.operators.search import search_many

    reqs = {name: SearchRequest(**kw) for name, kw in QUERY_SET}
    search_many(reader, reqs, fetch_fields=("url",)).collect()  # warm shape
    best = float("inf")
    for _ in range(3):
        t0 = time.time()
        search_many(reader, reqs, fetch_fields=("url",)).collect()
        best = min(best, time.time() - t0)
    results["batched"] = {
        "queries": len(reqs),
        "wall_sec": round(best, 2),
        "qps": round(len(reqs) / best, 2),
    }
    print(json.dumps({"batched": results["batched"]}))

    print(
        json.dumps(
            {
                "metric": "concurrent_query_throughput",
                "docs": args.docs,
                "splits": args.splits,
                "scratch": _SCRATCH,
                "levels": results,
            }
        )
    )
    shutil.rmtree(index_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
