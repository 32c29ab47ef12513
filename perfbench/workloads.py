"""The workloads. Each is one process, one SparkSession, closed loops only.

Both workloads run the same operations in different proportions, so every
end-to-end metric exists on both:

- ``search_concurrent`` (read-heavy): 4 query clients against a static
  index whose postings and docstore stay on storage, then a short write
  tail of small ingest batches.
- ``ingest`` (write-heavy): ingest batches through the queue into an
  object-store index, each followed by a freshness check, the merge
  pipeline, GC and a few reads.

See README.md for sizes, policies and how each metric is computed.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
from dataclasses import dataclass, field

import check
from corpus import (
    SCHEMA_DDL,
    SHAPES,
    client_order,
    make_docs,
    needle_count,
    planted_count,
    to_frame,
    user_bytes,
)
from harness import (
    Delta,
    Ops,
    SparkCounter,
    Tracer,
    diff,
    dir_bytes,
    median,
    percentile,
    snapshot,
)

SETUPS = 3  # setup_s is the median of this many full set-ups
# Split-id generation of the base build. Streaming micro-batch i builds as
# generation i, and a micro-batch whose generation equals the base build's
# replaces all the base splits (the base documents vanish from search), so
# the base must use a generation the stream never reaches in a run.
BASE_GENERATION = 99
K = 10  # max_hits of every scored shape


@dataclass
class Run:
    spark: object
    root: str  # scratch directory, inside the checkout
    seed: int
    seconds: float
    tracer: Tracer
    counter: SparkCounter | None  # None unless tracing
    ops: Ops = field(default_factory=Ops)
    e2e: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    # (seconds since the first op, latency, label) for every query / batch,
    # warm-up included: the steadiness report's warm-up curve
    curve: list = field(default_factory=list)
    t0: float = field(default_factory=time.perf_counter)


# ---------------------------------------------------------------------------
# calls into the engine
# ---------------------------------------------------------------------------


def answer(reader, shape, urls: bool = False):
    """Run one shape through the public API; return a normalized answer."""
    from quickwit_spark.operators.search import (
        SearchRequest,
        count_hits,
        export_fast_field,
        search,
        search_aggs,
    )

    if shape.kind == "count":
        return int(count_hits(reader, SearchRequest(query=shape.query))
                   .collect()[0][0])
    if shape.kind == "export":
        return export_fast_field(
            reader, SearchRequest(query=shape.query), "url").count()
    if shape.kind == "aggs":
        aggs = {"t": {"date_histogram": {"field": "warc_ts",
                                         "fixed_interval": "1d"}}}
        rows = search_aggs(
            reader, SearchRequest(query=shape.query, max_hits=0), aggs
        )["t"].collect()
        return tuple((r["key"], r["doc_count"]) for r in rows)
    req = SearchRequest(query=shape.query, max_hits=K, **shape.kwargs)
    rows = search(reader, req, fetch_fields=("url",)).collect()
    if urls:
        return tuple((r["split_id"], r["docid"], r["score"], r["url"])
                     for r in rows)
    return tuple((r["split_id"], r["docid"], round(r["score"], 12))
                 for r in rows)


def traced_call(run: Run, name: str, fn, request: str | None = None,
                by_group: bool = False, parent=None):
    """``fn()`` inside a span; when tracing, the Spark jobs it ran become
    child spans (``by_group`` for calls made concurrently with others).
    Returns (result, wall_s, SparkWork | None)."""
    with run.tracer.span(name, request=request, parent=parent) as sp:
        t = time.perf_counter()
        if run.counter is None:
            out = fn()
        else:
            scope = run.counter.group() if by_group else run.counter.window()
            with scope as ids:
                out = fn()
        wall = time.perf_counter() - t
    work = None
    if run.counter is not None:
        work = run.counter.work(ids, run.tracer, sp)
    return out, wall, work


def probe_driver_layers(run: Run, reader, shape, q: dict) -> None:
    """Traced runs only: time the parser and the manifest listing on the
    query's own input, as separate calls next to the query."""
    from quickwit_spark.plans.query import parse_query

    with run.tracer.span("plans.parse"):
        t = time.perf_counter()
        parse_query(shape.query)
        q["parse_s"] = time.perf_counter() - t
    with run.tracer.span("manifest.list_published"):
        t = time.perf_counter()
        splits = reader.manifest.list_published(
            shape.kwargs.get("start_timestamp"),
            shape.kwargs.get("end_timestamp"),
        )
        q["list_s"] = time.perf_counter() - t
    q["splits"] = len(splits)


def setup(run: Run, docs: list[dict], name: str, cfg, backend: str,
          warm_mode: str):
    """Build the base corpus and warm a reader, ``SETUPS`` times into fresh
    directories; keep the last. Input conversion is outside the clock."""
    from quickwit_spark.index.storage import init_storage
    from quickwit_spark.operators.build import build_index
    from quickwit_spark.operators.search import IndexReader

    df = to_frame(run.spark, docs)
    # untimed warm-up build of a slice: process-wide JIT and worker start-up
    # would otherwise land in the first timed set-up
    warm_idx = os.path.join(run.root, f"{name}-warmup")
    init_storage(warm_idx, backend)
    build_index(run.spark, to_frame(run.spark, docs[: len(docs) // 8]),
                warm_idx, cfg, resume=False)
    shutil.rmtree(warm_idx, ignore_errors=True)
    totals, builds, warms = [], [], []
    idx = reader = None
    for i in range(SETUPS):
        if idx:
            shutil.rmtree(idx, ignore_errors=True)
        idx = os.path.join(run.root, f"{name}{i}")
        init_storage(idx, backend)
        with run.tracer.span("setup", request=f"setup-{i}"):
            t = time.perf_counter()
            _, b, _ = traced_call(run, "build.base", lambda: build_index(
                run.spark, df, idx, cfg, resume=False))
            reader = IndexReader(run.spark, idx)
            _, w, _ = traced_call(run, "reader.warm",
                                  lambda: reader.warm(mode=warm_mode))
            totals.append(time.perf_counter() - t)
        builds.append(b)
        warms.append(w)
    run.e2e["setup_s"] = median(totals)
    run.layer["build.base_s"] = median(builds)
    run.layer["build.docs_per_s"] = len(docs) / median(builds)
    run.layer["reader.warm_s"] = median(warms)
    if run.counter is not None:
        run.layer["reader.cached_bytes"] = run.counter.cached_bytes()
    return idx, reader


# ---------------------------------------------------------------------------
# the write path: one ingest batch, freshness-checked
# ---------------------------------------------------------------------------


@dataclass
class Writer:
    """Per-run ingest state: queue, checkpoint, index, merge policy, and the
    per-batch measurements."""

    idx: str
    qdir: str
    ckpt: str
    cfg: object
    policy: object
    warm_mode: str
    freshness: list = field(default_factory=list)
    write_s: float = 0.0
    docs: int = 0
    user_bytes: int = 0
    enqueue_s: list = field(default_factory=list)
    refresh_s: list = field(default_factory=list)
    build_s: list = field(default_factory=list)
    overhead_s: list = field(default_factory=list)
    build_tasks: list = field(default_factory=list)
    store: Delta = field(default_factory=Delta)
    merge_bytes: int = 0
    merge_s: float = 0.0
    gc_s: float = 0.0
    gc_deleted: int = 0
    splits_merged: int = 0
    batches: int = 0


def ingest_batch(run: Run, w: Writer, reader, docs: list[dict], plant: str,
                 timed: bool) -> None:
    """enqueue -> drain -> refresh+warm -> exact count of the planted token
    (freshness), then merge pipeline and GC. Every step is synchronous."""
    from quickwit_spark.operators.merge import garbage_collect, run_merge_pipeline
    from quickwit_spark.operators.search import SearchRequest, count_hits
    from quickwit_spark.sources.ingest_queue import drain_queue, enqueue

    tracing = run.counter is not None
    rid = plant
    with run.tracer.span("ingest.batch", request=rid):
        t0 = time.perf_counter()
        _, t_enq, _ = traced_call(run, "queue.enqueue",
                                  lambda: enqueue(w.qdir, docs))
        before = snapshot(w.idx) if tracing else None
        sink, t_drain, work = traced_call(run, "stream.drain", lambda: drain_queue(
            run.spark, w.qdir, w.idx, w.ckpt, SCHEMA_DDL, w.cfg))
        d_drain = diff(before, snapshot(w.idx)) if tracing else None
        _, t_ref, _ = traced_call(run, "reader.refresh", reader.refresh)
        _, t_warm, _ = traced_call(run, "reader.warm",
                                   lambda: reader.warm(mode=w.warm_mode))
        n, _, _ = traced_call(run, "search.fresh_count", lambda: int(
            count_hits(reader, SearchRequest(query=plant)).collect()[0][0]))
        fresh = time.perf_counter() - t0
        run.ops.record("stream", n == planted_count(len(docs)),
                       f"{plant}: {n} != {planted_count(len(docs))}")

        before = snapshot(w.idx) if tracing else None
        mm, t_merge, _ = traced_call(run, "merge.run", lambda: run_merge_pipeline(
            run.spark, w.idx, w.policy))
        d_merge = diff(before, snapshot(w.idx)) if tracing else None
        before = snapshot(w.idx) if tracing else None
        _, t_gc, _ = traced_call(run, "gc.run", lambda: garbage_collect(
            w.idx, deletion_grace_secs=0))
        d_gc = diff(before, snapshot(w.idx)) if tracing else None
        run.ops.record("merge", True)
        if mm.num_ops:
            # replaced splits' files are gone: re-open before the next read
            _, t, _ = traced_call(run, "reader.refresh", reader.refresh)
            _, t2, _ = traced_call(run, "reader.warm",
                                   lambda: reader.warm(mode=w.warm_mode))
            t_ref += t + t2
    run.curve.append((t0 - run.t0, fresh, "batch" if timed else "warmup"))
    if not timed:
        return
    w.batches += 1
    w.docs += len(docs)
    w.user_bytes += user_bytes(docs)
    w.freshness.append(fresh)
    w.write_s += t_enq + t_drain + t_merge + t_gc
    w.enqueue_s.append(t_enq)
    w.refresh_s.append(t_ref + t_warm)
    build = sum(m.elapsed_sec for _, m in sink.batch_metrics)
    w.build_s.append(build)
    w.overhead_s.append(t_drain - build)
    w.merge_s += t_merge
    w.gc_s += t_gc
    w.splits_merged += mm.splits_merged
    if tracing:
        w.build_tasks.append(work.tasks)
        w.store += d_drain
        w.store += d_merge
        w.store += d_gc
        w.merge_bytes += d_merge.bytes_written
        w.gc_deleted += d_gc.objects_deleted


def finish_writes(run: Run, w: Writer, base_user_bytes: int) -> None:
    run.e2e["ingest_docs_per_s"] = w.docs / w.write_s
    run.e2e["freshness_p50_s"] = median(w.freshness)
    run.e2e["stored_bytes_per_user_byte"] = (
        dir_bytes(w.idx) / (base_user_bytes + w.user_bytes))
    L = run.layer
    L["queue.enqueue_s"] = median(w.enqueue_s)
    L["stream.overhead_s"] = median(w.overhead_s)
    L["build.batch_s"] = median(w.build_s)
    L["reader.refresh_s"] = median(w.refresh_s)
    L["merge.s"] = w.merge_s
    L["merge.splits_merged"] = w.splits_merged
    L["gc.s"] = w.gc_s
    if run.counter is not None:
        L["build.spark_tasks_per_batch"] = median(w.build_tasks)
        L["storage.bytes_written_per_user_byte"] = (
            w.store.bytes_written / w.user_bytes)
        L["storage.objects_written_per_batch"] = (
            w.store.objects_written / w.batches)
        L["txnlog.commits_per_batch"] = w.store.txn_commits / w.batches
        L["merge.bytes_rewritten_per_user_byte"] = w.merge_bytes / w.user_bytes
        L["gc.objects_deleted"] = w.gc_deleted


def check_doc_total(run: Run, reader, n_total: int) -> None:
    from quickwit_spark.operators.search import SearchRequest, count_hits

    for tok in ("needleone", "needletwo", "needlethree"):
        n = int(count_hits(reader, SearchRequest(query=tok)).collect()[0][0])
        want = needle_count(tok, n_total)
        run.ops.record("check", n == want, f"{tok}: {n} != {want}")
    n = int(count_hits(reader, SearchRequest(query="*")).collect()[0][0])
    run.ops.record("check", n == n_total, f"total docs {n} != {n_total}")


def query_metrics(run: Run, lat: list[float], wall: float,
                  per_query: list[dict]) -> None:
    run.e2e["query_p50_s"] = median(lat)
    run.e2e["qps"] = len(lat) / wall
    run.layer["query_p90_s"] = percentile(lat, 90)
    run.layer["query.samples"] = len(lat)
    if run.counter is None:
        return
    by_shape: dict[str, list[dict]] = {}
    for q in per_query:
        by_shape.setdefault(q["shape"], []).append(q)
    L = run.layer
    # per-shape medians, averaged with equal weight per shape, so the
    # counts repeat exactly whatever number of queries the window held
    for key, src in (("jobs", "jobs"), ("stages", "stages"),
                     ("tasks", "tasks")):
        L[f"search.spark_{key}_per_query"] = sum(
            median(q[src] for q in qs) for qs in by_shape.values()
        ) / len(by_shape)
    L["search.spark_job_s"] = median(q["job_s"] for q in per_query)
    L["search.driver_s"] = median(q["wall"] - q["job_s"] for q in per_query)
    L["plans.parse_s"] = median(q["parse_s"] for q in per_query)
    L["manifest.list_published_s"] = median(q["list_s"] for q in per_query)
    L["manifest.splits_per_query"] = median(q["splits"] for q in per_query)
    for name, qs in by_shape.items():
        L[f"search.{name}.p50_s"] = median(q["wall"] for q in qs)


def timed_query(run: Run, reader, shape, rid: str, urls: bool = False,
                parent=None):
    """One timed request: -> (answer, latency, per-query trace record)."""
    got, wall, work = traced_call(
        run, f"search.{shape.name}", lambda: answer(reader, shape, urls), rid,
        by_group=True, parent=parent)
    q = {"shape": shape.name, "wall": wall}
    if work is not None:
        q.update(jobs=work.jobs, stages=work.stages, tasks=work.tasks,
                 job_s=work.job_s)
        probe_driver_layers(run, reader, shape, q)
    return got, wall, q


# ---------------------------------------------------------------------------
# search_concurrent
# ---------------------------------------------------------------------------

S_DOCS = 6_000
S_SPLIT_DOCS = 600  # -> 10 splits
S_CLIENTS = 4
S_TAIL_WARMUP = 2
S_TAIL_BATCHES = 3
S_TAIL_DOCS = S_SPLIT_DOCS // 2


def search_concurrent(run: Run) -> None:
    from quickwit_spark.index.merge_policy import StableLogMergePolicy
    from quickwit_spark.operators.build import IndexConfig

    cfg = IndexConfig(index_id="bench", split_num_docs_target=S_SPLIT_DOCS,
                      generation=BASE_GENERATION)
    docs = make_docs(run.seed, 0, S_DOCS)
    idx, reader = setup(run, docs, "search", cfg, "local", "metadata")

    # warm-up pass, discarded: every shape once, spread over the clients;
    # its answers are the reference every timed answer must repeat
    first: dict[str, object] = {}
    lock = threading.Lock()

    def client(c: int, shapes, deadline: float | None, out: list,
               phase) -> None:
        run.spark.sparkContext.setLocalProperty(
            "spark.scheduler.pool", f"client{c}")
        for j, shape in enumerate(shapes):
            if deadline is not None and time.perf_counter() >= deadline:
                break
            t = time.perf_counter()
            try:
                got, wall, q = timed_query(run, reader, shape, f"c{c}-{j}",
                                           parent=phase)
            except Exception as e:  # noqa: BLE001 — a failed op is counted
                run.ops.record("search", False, f"{shape.name}: {e!r}")
                continue
            with lock:
                ref = first.setdefault(shape.name, got)
            run.ops.record("search", got == ref, f"{shape.name} changed")
            out.append((t - run.t0, wall, q))

    def run_clients(per_client, deadline, phase):
        outs = [[] for _ in per_client]
        threads = [threading.Thread(target=client,
                                    args=(c, s, deadline, o, phase))
                   for c, (s, o) in enumerate(zip(per_client, outs))]
        t = time.perf_counter()
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        return outs, time.perf_counter() - t

    # phase spans parent the clients' query spans, so their self time is
    # the time no client had a request in flight
    with run.tracer.span("phase.read_warmup") as ph:
        warm, _ = run_clients(
            [SHAPES[c::S_CLIENTS] for c in range(S_CLIENTS)], None, ph)
    for o in warm:
        run.curve.extend((t, wall, "warmup") for t, wall, _ in o)

    with run.tracer.span("phase.read_window") as ph:
        deadline = time.perf_counter() + run.seconds
        outs, wall = run_clients(
            [client_order(run.seed, c, 10_000) for c in range(S_CLIENTS)],
            deadline, ph)
    recs = [r for o in outs for r in o]
    run.curve.extend(sorted((t, w, q["shape"]) for t, w, q in recs))
    query_metrics(run, [w for _, w, _ in recs], wall, [q for _, _, q in recs])

    # correctness against the oracle, outside the timed window
    with run.tracer.span("phase.oracle_check"):
        oi = check.build_oracle(reader)
        for shape in SHAPES:
            got = first.get(shape.name)
            ok = got is not None and check.matches(
                shape, got, check.expected(oi, shape))
            run.ops.record("check", ok, f"{shape.name} != oracle")

    # write tail, one split per batch; every split is at or past the merge
    # policy's maturity target, so nothing merges
    w = Writer(idx, os.path.join(run.root, "queue"),
               os.path.join(run.root, "ckpt"), cfg,
               StableLogMergePolicy(split_num_docs_target=S_TAIL_DOCS),
               "metadata")
    start = S_DOCS
    for b in range(S_TAIL_WARMUP + S_TAIL_BATCHES):
        plant = f"plant{run.seed}x{b}"
        ingest_batch(run, w, reader,
                     make_docs(run.seed, start, S_TAIL_DOCS, plant),
                     plant, timed=b >= S_TAIL_WARMUP)
        start += S_TAIL_DOCS
    finish_writes(run, w, user_bytes(docs))
    check_doc_total(run, reader, start)


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------

I_DOCS = 4_000  # one base split; every batch is one more split
BATCH = 2_000
I_WARMUP_BATCHES = 2
I_SECONDS_PER_BATCH = 3  # --seconds buys this many timed batches


def ingest(run: Run) -> None:
    from quickwit_spark.index.merge_policy import StableLogConfig, StableLogMergePolicy
    from quickwit_spark.operators.build import IndexConfig

    cfg = IndexConfig(index_id="bench", split_num_docs_target=I_DOCS,
                      generation=BASE_GENERATION)
    docs = make_docs(run.seed, 0, I_DOCS)
    idx, reader = setup(run, docs, "ingest", cfg, "dir_object_store", "full")
    # StableLog, merge_factor 3, level 0 sized by the batch: split sizes are
    # exact, so every seed merges at the same batches
    policy = StableLogMergePolicy(StableLogConfig(
        merge_factor=3, max_merge_factor=4, min_level_num_docs=BATCH))
    w = Writer(idx, os.path.join(run.root, "queue"),
               os.path.join(run.root, "ckpt"), cfg, policy, "full")
    all_docs = list(docs)
    toks = [set(d["text"].split()) for d in docs]
    # a fixed number of batches, so every run ends at the same index state;
    # the timed batches read one seeded pass over the mix between them
    n_timed = max(3, round(run.seconds / I_SECONDS_PER_BATCH))
    per_batch = -(-len(SHAPES) // n_timed)
    reads = (client_order(run.seed, 1, I_WARMUP_BATCHES * per_batch)
             + client_order(run.seed, 0, len(SHAPES)))
    lat, per_query = [], []
    for b in range(I_WARMUP_BATCHES + n_timed):
        timed = b >= I_WARMUP_BATCHES
        plant = f"plant{run.seed}x{b}"
        batch = make_docs(run.seed, len(all_docs), BATCH, plant)
        ingest_batch(run, w, reader, batch, plant, timed)
        all_docs.extend(batch)
        toks.extend(set(d["text"].split()) for d in batch)
        for shape in reads[b * per_batch:(b + 1) * per_batch]:
            t = time.perf_counter()
            try:
                got, wall, q = timed_query(
                    run, reader, shape, f"{plant}-{shape.name}", urls=True)
            except Exception as e:  # noqa: BLE001 — a failed op is counted
                run.ops.record("search", False, f"{shape.name}: {e!r}")
                continue
            run.ops.record("search", check.valid(shape, got, all_docs, toks, K),
                           f"{shape.name} after {plant}")
            run.curve.append((t - run.t0, wall, shape.name if timed else "warmup"))
            if timed:
                lat.append(wall)
                per_query.append(q)
    query_metrics(run, lat, sum(lat), per_query)
    finish_writes(run, w, user_bytes(docs))
    check_doc_total(run, reader, len(all_docs))


WORKLOADS = {"search_concurrent": search_concurrent, "ingest": ingest}
