"""Benchmark entry point.

    python3 perfbench/run.py --workload {search_concurrent,ingest} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. Prints a metric table, then as its last line
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json; with
``--trace 1`` the per-layer metrics, the spans go to
``.perfbench/out/trace-<workload>-<seed>.jsonl`` and the per-layer
self-time table is printed. Everything the run writes stays under
``.perfbench/`` in the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
SCRATCH = os.path.join(ROOT, ".perfbench")
CONFIG = os.path.join(ROOT, "BENCHMARK.json")


def _env(workload: str) -> None:
    """Process environment for Spark: local[nproc], every temp file under
    the scratch directory, FAIR pools for the concurrent clients."""
    tmp = os.path.join(SCRATCH, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = cores
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    conf = {
        # no hsperfdata under /tmp: the run writes only inside the checkout
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(SCRATCH, "warehouse"),
    }
    if workload == "search_concurrent":
        conf["spark.scheduler.mode"] = "FAIR"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
    ) + " pyspark-shell"


def _descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid`` (Linux /proc; empty elsewhere)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc") if os.path.isdir("/proc") else []:
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                # the field after the parenthesised command is the state,
                # then the parent pid
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # exited meanwhile
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _stop(spark) -> None:
    """Stop the session and wait for the JVM it launched, and the Python
    workers the JVM started, to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _print_table(run, metrics: dict, units: dict) -> None:
    print(f"{'metric':44s} {'value':>14s}  unit")
    for name, v in metrics.items():
        print(f"{name:44s} {v:14.6g}  {units[name]}")
    print(f"failed_op_ratio{'':29s} {run.ops.total_failed / run.ops.total_attempted:14.6g}"
          f"  ratio  ({run.ops.total_failed}/{run.ops.total_attempted} ops)")
    for e in run.ops.errors:
        print("  FAILED", e)


def _print_layers(tracer) -> None:
    rows = sorted(tracer.self_times().items(), key=lambda kv: -kv[1]["self_s"])
    print(f"{'span':36s} {'count':>6s} {'total_s':>10s} {'self_s':>10s}")
    for name, r in rows:
        print(f"{name:36s} {r['count']:6d} {r['total_s']:10.3f} {r['self_s']:10.3f}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "quickwit_spark")):
        print("perfbench: run from the repository root (quickwit_spark/ "
              "not found)", file=sys.stderr)
        return 2
    with open(CONFIG) as f:
        config = json.load(f)
    section = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in config[section]}

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS, Run  # noqa: E402

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    _env(args.workload)
    from harness import SparkCounter, Tracer, host_steal_s  # noqa: E402
    from quickwit_spark.session import get_spark  # noqa: E402

    work = os.path.join(SCRATCH, f"run-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = get_spark(app_name="perfbench",
                      master=f"local[{os.environ['SPARK_GRAFT_CPUS']}]")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        tracer = Tracer(bool(args.trace))
        run = Run(spark, work, args.seed, args.seconds, tracer,
                  SparkCounter(spark) if args.trace else None)
        t_span = time.perf_counter()
        steal0 = host_steal_s()
        WORKLOADS[args.workload](run)
        steal1 = host_steal_s()
        run.layer["failed_op_ratio"] = run.ops.total_failed / run.ops.total_attempted
        for layer in ("search", "stream", "merge", "check"):
            run.layer[f"{layer}.failed"] = run.ops.failed.get(layer, 0)
        run.layer["trace.spans"] = len(tracer.spans)
        run.layer["trace.query_p50_s"] = run.e2e["query_p50_s"]
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    produced = run.layer if args.trace else run.e2e
    metrics = {name: produced[name] for name in units}
    out_dir = os.path.join(SCRATCH, "out")
    os.makedirs(out_dir, exist_ok=True)
    tag = f"{args.workload}-{args.seed}-{'trace' if args.trace else 'e2e'}"
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
        json.dump({"metrics": metrics, "curve": run.curve,
                   "wall_s": time.perf_counter() - t_span,
                   "steal_s": None if steal0 is None else steal1 - steal0,
                   "ops": run.ops.attempted, "failed": run.ops.failed}, f)
    if args.trace:
        tracer.write(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.jsonl"))
        _print_layers(tracer)
    _print_table(run, metrics, units)
    print(json.dumps({
        "correct": run.ops.total_failed == 0,
        "attempted": run.ops.total_attempted,
        "failed": run.ops.total_failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
