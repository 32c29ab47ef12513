"""Steadiness report: run one workload several times and summarize.

    python3 perfbench/steady.py --workload ingest --seeds 1-10
    python3 perfbench/steady.py --workload ingest --seeds 3,3 --trace 1

Run from the repository root. For every metric of the chosen section it
prints the median, the quartiles and (Q3-Q1)/median over the runs (the
spread the acceptance gate computes, with ``statistics.quantiles(n=4)``),
next to the metric's bound from BENCHMARK.json. It then prints the warm-up
curve: the median latency per block of queries (search) or per batch
(ingest) across the runs, warm-up included, so the discarded warm-up length
can be read from data. With ``--trace 1`` it lists which count metrics
repeated exactly across the runs (run one seed twice to check that), and
the tracing overhead against the untraced runs of the same seeds, when
their outputs exist.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from harness import spread  # noqa: E402

OUT = os.path.join(".perfbench", "out")


def parse_seeds(s: str) -> list[int]:
    if "-" in s and "," not in s:
        a, b = s.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in s.split(",")]


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    t = time.perf_counter()
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    total = time.perf_counter() - t
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"run failed: {' '.join(cmd)} (exit {p.returncode})")
    res = json.loads(lines[-1])
    tag = f"{workload}-{seed}-{'trace' if trace else 'e2e'}"
    with open(os.path.join(OUT, f"{tag}.json")) as f:
        res["detail"] = json.load(f)
    res["total_s"] = total
    return res


def warmup_curve(details: list[dict], block: int) -> list[tuple[int, float, int]]:
    """Median latency per block of ``block`` consecutive queries (or one
    batch), by start order within each run, pooled across runs."""
    buckets: dict[int, list[float]] = {}
    for d in details:
        for i, (_, lat, _) in enumerate(sorted(d["curve"])):
            buckets.setdefault(i // block, []).append(lat)
    return [(k, statistics.median(v), len(v)) for k, v in sorted(buckets.items())]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        config = json.load(f)
    seconds = args.seconds or config["run_seconds"]
    section = "per_layer" if args.trace else "end_to_end"
    bounds = {m["name"]: m.get("bound") for m in config[section]}

    runs = []
    for seed in parse_seeds(args.seeds):
        r = run_once(args.workload, seed, seconds, args.trace)
        print(f"seed {seed}: correct={r['correct']} "
              f"{r['failed']}/{r['attempted']} failed, {r['total_s']:.1f} s "
              f"({r['detail']['wall_s']:.1f} s after Spark start), host steal "
              f"{r['detail'].get('steal_s') or 0:.1f} CPU-s", flush=True)
        runs.append(r)

    print(f"\n{'metric':40s} {'median':>12s} {'Q1':>12s} {'Q3':>12s} "
          f"{'spread':>8s} {'bound':>6s}")
    for name in bounds:
        xs = [r["metrics"][name]["value"] for r in runs]
        if len(xs) < 2:
            continue
        med, q1, q3, sp = spread(xs)
        b = bounds[name]
        flag = ""
        if b is not None:
            flag = "ok" if sp < b / 3 else ("WIDE" if sp < b else "FAIL")
        print(f"{name:40s} {med:12.6g} {q1:12.6g} {q3:12.6g} {sp:8.3f} "
              f"{b if b is not None else '':>6} {flag}")

    details = [r["detail"] for r in runs]
    block = 10 if args.workload.startswith("search") else 1
    print(f"\nwarm-up curve (median latency per block of {block}, "
          f"runs pooled; warm-up blocks first)")
    for k, med, n in warmup_curve(details, block):
        print(f"  block {k:3d}: {med:8.3f} s  (n={n})")

    if args.trace:
        counts = [m["name"] for m in config["per_layer"] if m["unit"] == "count"
                  or m["name"].endswith("per_user_byte")]
        same = [n for n in counts
                if len({r["metrics"][n]["value"] for r in runs}) == 1]
        print("\ncount metrics identical across runs:", ", ".join(same))
        print("count metrics that differ:",
              ", ".join(n for n in counts if n not in same) or "none")
        untraced = []
        for seed in parse_seeds(args.seeds):
            p = os.path.join(OUT, f"{args.workload}-{seed}-e2e.json")
            if os.path.exists(p):
                with open(p) as f:
                    untraced.append(json.load(f)["metrics"]["query_p50_s"])
        if untraced:
            traced = statistics.median(
                r["metrics"]["trace.query_p50_s"]["value"] for r in runs)
            base = statistics.median(untraced)
            print(f"tracing overhead on query_p50_s: {traced - base:+.4f} s "
                  f"({(traced - base) / base:+.1%}; traced {traced:.4f}, "
                  f"untraced {base:.4f})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
