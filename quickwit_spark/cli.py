"""Command-line surface: the analog of the reference's `quickwit` CLI
(quickwit-cli/src/lib.rs — index create / ingest / search, split list,
merge, gc, delete, retention), deployable via spark-submit.

Design: every subcommand is a thin wrapper over the library API, so the
same code path runs under `python -m quickwit_spark.cli` locally and under
`spark-submit --py-files quickwit_spark.zip` on a cluster (the session
factory honors the submitted master; `--master` only overrides it for
local runs). Output is JSON lines on stdout, logs on stderr — pipeable.

Examples:
    python -m quickwit_spark.cli create  --index-dir /idx --config cfg.json
    python -m quickwit_spark.cli ingest  --index-dir /idx --input pages.parquet
    python -m quickwit_spark.cli ingest  --index-dir /idx --input dir/ \\
        --stream --checkpoint-dir /ckpt
    python -m quickwit_spark.cli search  --index-dir /idx --query "web +crawl"
    python -m quickwit_spark.cli count   --index-dir /idx --query "lang:en"
    python -m quickwit_spark.cli list-splits --index-dir /idx
    python -m quickwit_spark.cli merge   --index-dir /idx
    python -m quickwit_spark.cli gc      --index-dir /idx
    python -m quickwit_spark.cli delete  --index-dir /idx --query "spam"
    python -m quickwit_spark.cli retention --index-dir /idx \\
        --cutoff 2020-06-01T00:00:00
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import sys

from quickwit_spark.operators.build import IndexConfig

CLI_CONFIG = "cli_index_config.json"


def _load_cfg(index_dir: str, config_path: str | None) -> IndexConfig:
    """IndexConfig from --config JSON, else from the index's stored CLI
    config (written by `create`), else defaults. JSON lists become the
    tuples the dataclass expects."""
    path = config_path or os.path.join(index_dir, CLI_CONFIG)
    if not os.path.exists(path):
        return IndexConfig()
    with open(path) as f:
        raw = json.load(f)
    fields = {f.name for f in dataclasses.fields(IndexConfig)}
    unknown = sorted(set(raw) - fields)
    if unknown:
        raise SystemExit(f"unknown index-config keys: {unknown}")
    kwargs = {
        k: tuple(v) if isinstance(v, list) else v for k, v in raw.items()
    }
    return IndexConfig(**kwargs)


def _spark(args):
    from quickwit_spark.session import get_spark

    s = get_spark(app_name="quickwit_spark_cli", master=args.master)
    s.sparkContext.setLogLevel("ERROR")
    return s


def _emit(obj) -> None:
    print(json.dumps(obj, default=str))


def cmd_create(args) -> int:
    os.makedirs(args.index_dir, exist_ok=True)
    cfg = _load_cfg(args.index_dir, args.config)
    with open(os.path.join(args.index_dir, CLI_CONFIG), "w") as f:
        json.dump(dataclasses.asdict(cfg), f, indent=2)
    _emit({"created": args.index_dir, "index_id": cfg.index_id})
    return 0


def _read_input(spark, path: str):
    """Batch-ingest input by extension: parquet (default), NDJSON
    (.json/.ndjson/.jsonl — one doc per line, schema inferred, the
    reference CLI's `--input-format json`), or CSV with header
    (.csv/.tsv). Everything downstream is format-agnostic: build_index
    sees a DataFrame either way."""
    low = path.rstrip("/").lower()
    if low.endswith((".json", ".ndjson", ".jsonl")):
        return spark.read.json(path)
    if low.endswith((".csv", ".tsv")):
        sep = "\t" if low.endswith(".tsv") else ","
        return spark.read.options(
            header=True, inferSchema=True, sep=sep
        ).csv(path)
    return spark.read.parquet(path)


def cmd_ingest(args) -> int:
    if getattr(args, "source", None):
        return _ingest_from_source(args)
    spark = _spark(args)
    cfg = _load_cfg(args.index_dir, args.config)
    if args.stream:
        if not args.checkpoint_dir:
            raise SystemExit("--stream requires --checkpoint-dir")
        if getattr(args, "table", None):
            raise SystemExit("--stream requires --input (a file path)")
        from quickwit_spark.streaming.indexer import index_stream_available_now

        sink = index_stream_available_now(
            spark, args.input, args.index_dir, args.checkpoint_dir, cfg
        )
        for bid, m in sink.batch_metrics:
            _emit({"batch": bid, "num_docs": m.num_docs,
                   "num_splits": m.num_splits})
        return 0
    from quickwit_spark.operators.build import build_index

    # --table reads through the session catalog: with an Iceberg (or Delta/
    # Hive) catalog configured on the cluster this is the Iceberg-source
    # path of the north rule; predicate pushdown / column pruning / partition
    # pruning flow through the DataSourceV2 scan exactly as for parquet.
    pages = (
        spark.read.table(args.table)
        if getattr(args, "table", None)
        else _read_input(spark, args.input)
    )
    if cfg.timestamp_field and dict(pages.dtypes).get(
        cfg.timestamp_field
    ) == "string":
        # text formats (NDJSON/CSV) land ISO timestamps as strings; the
        # index needs a real timestamp column for time-range metadata
        # (full multi-format parsing lives in the DocMapping datetime
        # fields — this is the CLI lane's ISO fast path). Values it cannot
        # parse are indexed as null, and the operator is told how many.
        from pyspark.sql import functions as F

        raw = F.col(cfg.timestamp_field)
        ts = F.try_to_timestamp(raw)
        n_bad = pages.filter(raw.isNotNull() & ts.isNull()).count()
        if n_bad:
            print(
                f"warning: {n_bad} non-null {cfg.timestamp_field!r} value(s)"
                " are not ISO timestamps and were indexed as null",
                file=sys.stderr,
            )
        pages = pages.withColumn(cfg.timestamp_field, ts)
    m = build_index(spark, pages, args.index_dir, cfg, resume=True)
    _emit(
        {
            "num_docs": m.num_docs,
            "num_splits": m.num_splits,
            "skipped_partitions": m.skipped_partitions,
            "elapsed_sec": round(m.elapsed_sec, 3),
            "docs_per_sec": round(m.num_docs / m.elapsed_sec, 1)
            if m.elapsed_sec
            else None,
            "compressed_bytes": m.compressed_bytes,
        }
    )
    return 0


def _ingest_from_source(args) -> int:
    """`ingest --source <id>`: consume a REGISTERED source config (the
    reference's per-source indexing pipeline). file -> batch/stream build;
    ingest-api -> drain the durable queue; broker types are registered but
    need a broker to consume."""
    from quickwit_spark.index.manifest import Manifest

    manifest = Manifest(args.index_dir)
    src = manifest.get_source(args.source)
    if not src.get("enabled", True):
        raise SystemExit(f"source {args.source!r} is disabled")
    params = src.get("params") or {}
    stype = src["source_type"]
    spark = _spark(args)
    cfg = _load_cfg(args.index_dir, args.config)
    if stype == "file":
        if params.get("streaming"):
            from quickwit_spark.streaming.indexer import (
                index_stream_available_now,
            )

            sink = index_stream_available_now(
                spark,
                params["input"],
                args.index_dir,
                params["checkpoint_dir"],
                cfg,
            )
            for bid, m in sink.batch_metrics:
                _emit({"batch": bid, "num_docs": m.num_docs,
                       "num_splits": m.num_splits})
            return 0
        from quickwit_spark.operators.build import build_index

        m = build_index(
            spark, spark.read.parquet(params["input"]), args.index_dir, cfg,
            resume=True,
        )
        _emit({"num_docs": m.num_docs, "num_splits": m.num_splits,
               "skipped_partitions": m.skipped_partitions})
        return 0
    if stype == "ingest-api":
        from quickwit_spark.sources.ingest_queue import drain_queue

        sink = drain_queue(
            spark,
            params["queue_dir"],
            args.index_dir,
            params["checkpoint_dir"],
            params["schema_ddl"],
            cfg,
        )
        for bid, m in sink.batch_metrics:
            _emit({"batch": bid, "num_docs": m.num_docs,
                   "num_splits": m.num_splits})
        return 0
    raise SystemExit(
        f"source type {stype!r} needs a running broker — use the library "
        "constructors in quickwit_spark.streaming.kafka"
    )


def cmd_source(args) -> int:
    from quickwit_spark.index.manifest import Manifest

    m = Manifest(args.index_dir)
    act = args.source_action
    if act == "create":
        src = m.add_source(json.loads(args.payload))
        _emit(src)
    elif act == "list":
        for s in sorted(m.list_sources().values(), key=lambda s: s["source_id"]):
            _emit(s)
    elif act == "describe":
        _emit(m.get_source(args.source))
    elif act == "delete":
        m.remove_source(args.source)
        _emit({"deleted_source": args.source})
    elif act in ("enable", "disable"):
        _emit(m.set_source_enabled(args.source, act == "enable"))
    elif act == "reset-checkpoint":
        # the reference wipes the source's checkpoint so consumption restarts
        # from the beginning (cli.md "source reset-checkpoint"); for our
        # file/queue sources that position IS the streaming checkpoint dir
        import shutil

        src = m.get_source(args.source)
        ckpt = (src.get("params") or {}).get("checkpoint_dir")
        if not ckpt:
            raise SystemExit(
                f"source {args.source!r} has no checkpoint_dir param"
            )
        shutil.rmtree(ckpt, ignore_errors=True)
        # our positions live in TWO places: the Spark streaming checkpoint
        # (file-source offsets) and the manifest's lineage fingerprints —
        # both must reset for re-consumption; the (generation, partition)
        # retirement rule then REPLACES the old splits, no duplicates
        m.reset_checkpoints()
        _emit({"reset_checkpoint": args.source, "checkpoint_dir": ckpt})
    return 0


def cmd_search(args) -> int:
    from quickwit_spark.operators.search import (
        IndexReader,
        SearchRequest,
        search,
        search_with_failures,
    )

    spark = _spark(args)
    reader = IndexReader(spark, args.index_dir)
    if getattr(args, "envelope", False):
        # the reference CLI emits the full search JSON envelope — its docs
        # pipe `quickwit index search ... | jq '.hits[].title'` (cli.md:385)
        from quickwit_spark.rest import search_endpoint

        params = {
            "query": args.query,
            "max_hits": args.max_hits,
            "start_offset": args.start_offset,
            "start_timestamp": args.start_timestamp,
            "end_timestamp": args.end_timestamp,
            "search_field": args.search_field,
            "snippet_fields": args.snippet_fields,
            "sort_by_field": args.sort_by,
            "sort_order": args.sort_order,
        }
        if args.aggs:
            params["aggs"] = json.loads(args.aggs)
        _emit(
            search_endpoint(
                reader, params, tolerate_failures=args.tolerate_failures
            )
        )
        return 0
    req = SearchRequest(
        query=args.query,
        max_hits=args.max_hits,
        start_offset=args.start_offset,
        sort_by_field=args.sort_by,
        sort_order=args.sort_order,
        start_timestamp=args.start_timestamp,
        end_timestamp=args.end_timestamp,
        search_fields=tuple(
            f for f in (args.search_field or "").split(",") if f
        ),
    )
    if args.aggs:
        # REST `aggs` parameter: ES-JSON aggregations over the matching docs
        # (rest-api.md search parameters; aggregation.md format)
        from quickwit_spark.operators.search import search_aggs

        for name, df in search_aggs(reader, req, json.loads(args.aggs)).items():
            _emit({name: [r.asDict(recursive=True) for r in df.collect()]})
        return 0
    fetch = tuple(args.fetch_field or ("url",))
    if args.tolerate_failures:
        res, failed = search_with_failures(reader, req, fetch_fields=fetch)
        if failed:
            _emit({"failed_splits": failed})
    else:
        res = search(reader, req, fetch_fields=fetch)
    for row in res.collect():
        _emit(row.asDict())
    return 0


def cmd_export(args) -> int:
    """Search-stream endpoint analog (rest-api.md "Search stream in an
    index"): all matching values of one fast field, streamed as csv or
    ClickHouse RowBinary chunks to stdout."""
    from quickwit_spark.operators.search import (
        IndexReader,
        SearchRequest,
        export_fast_field,
        format_export_chunks,
    )

    spark = _spark(args)
    req = SearchRequest(
        query=args.query,
        start_timestamp=args.start_timestamp,
        end_timestamp=args.end_timestamp,
        search_fields=tuple(
            f for f in (args.search_field or "").split(",") if f
        ),
    )
    out = export_fast_field(
        IndexReader(spark, args.index_dir),
        req,
        args.fast_field,
        partition_by=(args.partition_by_field,) if args.partition_by_field else (),
    )
    chunks = format_export_chunks(out, args.fast_field, args.output_format)
    w = sys.stdout.buffer
    for row in chunks.toLocalIterator():
        w.write(row["chunk"])
    w.flush()
    return 0


def cmd_count(args) -> int:
    from quickwit_spark.operators.search import (
        IndexReader,
        SearchRequest,
        count_hits,
    )

    spark = _spark(args)
    req = SearchRequest(
        query=args.query,
        start_timestamp=args.start_timestamp,
        end_timestamp=args.end_timestamp,
    )
    n = count_hits(IndexReader(spark, args.index_dir), req).collect()[0][0]
    _emit({"num_hits": n})
    return 0


def cmd_list_splits(args) -> int:
    from quickwit_spark.index.manifest import Manifest

    for m in Manifest(args.index_dir).list_all():
        _emit(
            {
                "split_id": m.split_id,
                "state": m.state,
                "num_docs": m.num_docs,
                "generation": m.generation,
                "partition_id": m.partition_id,
                "time_range": [m.time_range_start, m.time_range_end],
                "tags": sorted(m.tags or []),
                "num_merge_ops": m.num_merge_ops,
            }
        )
    return 0


def cmd_merge(args) -> int:
    from quickwit_spark.operators.merge import run_merge_pipeline

    spark = _spark(args)
    m = run_merge_pipeline(spark, args.index_dir)
    _emit(
        {
            "merge_ops": m.num_ops,
            "splits_merged": m.splits_merged,
            "docs_merged": m.docs_merged,
            "new_splits": m.new_splits,
        }
    )
    return 0


def cmd_ingest_otlp(args) -> int:
    from quickwit_spark.sources.otlp import (
        ingest_otlp_logs,
        ingest_otlp_traces,
    )

    spark = _spark(args)
    if args.input.lower().endswith((".json", ".ndjson", ".jsonl")):
        # one OTLP export request body per line; the text column takes the
        # configured payload column name so --json-col works for both lanes
        payloads = spark.read.text(args.input).withColumnRenamed(
            "value", args.json_col
        )
    else:
        payloads = spark.read.parquet(args.input)
    fn = ingest_otlp_traces if args.kind == "traces" else ingest_otlp_logs
    m = fn(
        spark,
        payloads,
        args.index_dir,
        num_partitions=args.num_partitions,
        json_col=args.json_col,
    )
    _emit(
        {
            "kind": args.kind,
            "num_docs": m.num_docs,
            "num_splits": m.num_splits,
            "docs_per_sec": round(m.docs_per_sec, 1),
        }
    )
    return 0


def cmd_export_delta(args) -> int:
    from quickwit_spark.index.delta_export import export_delta_log

    spark = _spark(args)
    _emit(export_delta_log(spark, args.index_dir))
    return 0


def cmd_gc(args) -> int:
    from quickwit_spark.operators.merge import garbage_collect

    removed = garbage_collect(
        args.index_dir,
        deletion_grace_secs=args.deletion_grace_secs,
        staged_grace_secs=args.staged_grace_secs,
    )
    _emit({"removed_splits": removed})
    return 0


def cmd_delete(args) -> int:
    from quickwit_spark.operators.janitor import delete_by_query

    spark = _spark(args)
    m = delete_by_query(spark, args.index_dir, args.query)
    _emit(
        {
            "matched_docs": m.matched_docs,
            "rewritten_splits": m.rewritten_splits,
            "dropped_splits": m.dropped_splits,
        }
    )
    return 0


def cmd_describe(args) -> int:
    """Index-metadata endpoint analog (rest-api.md GET /indexes/<id>):
    persisted config + checkpoint lineage + split/doc totals. Metadata only
    — no Spark session."""
    from quickwit_spark.index.manifest import Manifest

    m = Manifest(args.index_dir)
    cfg = m.load_index_config()
    published = m.list_published()
    state = m.log.state()
    _emit(
        {
            "index_config": cfg,
            "checkpoint": state.get("lineage") or {},
            "create_timestamp": min(
                (s.create_timestamp for s in published), default=None
            ),
            "num_published_splits": len(published),
            "num_docs": sum(s.num_docs for s in published),
            "pending_delete_tasks": sum(
                1
                for t in (state.get("delete_tasks") or {}).values()
                if t.get("state") == "pending"
            ),
        }
    )
    return 0


def cmd_list_indexes(args) -> int:
    """All-indexes endpoint analog: every index directory under a root."""
    import glob as _glob

    from quickwit_spark.index.manifest import Manifest

    for txn in sorted(_glob.glob(os.path.join(args.root, "*", "manifest", "_txn"))):
        d = os.path.dirname(os.path.dirname(txn))
        try:
            m = Manifest(d)
            cfg = m.load_index_config()
            pub = m.list_published()
        except Exception as e:  # unreadable index dir: report, keep listing
            _emit({"index_dir": d, "error": str(e)})
            continue
        _emit(
            {
                "index_dir": d,
                "index_id": cfg.get("index_id"),
                "num_published_splits": len(pub),
                "num_docs": sum(s.num_docs for s in pub),
            }
        )
    return 0


def cmd_clear(args) -> int:
    """`index clear` analog: drop every Published split and reset checkpoint
    lineage (the next ingest of the same source re-processes it), then
    reclaim the files; the index config survives."""
    from quickwit_spark.index.manifest import Manifest
    from quickwit_spark.operators.merge import garbage_collect

    cleared = Manifest(args.index_dir).clear()
    # explicit clear = the operator wants the space back now; no in-flight
    # reader is expected to survive an index clear
    removed = garbage_collect(args.index_dir, deletion_grace_secs=0.0)
    _emit({"cleared_splits": cleared, "removed_splits": removed})
    return 0


def cmd_describe_split(args) -> int:
    from quickwit_spark.index.manifest import Manifest

    for m in Manifest(args.index_dir).list_all():
        if m.split_id == args.split:
            _emit(dataclasses.asdict(m))
            return 0
    _emit({"error": f"no split {args.split!r}"})
    return 1


def cmd_mark_split_for_deletion(args) -> int:
    from quickwit_spark.index.manifest import Manifest

    m = Manifest(args.index_dir)
    known = {s.split_id for s in m.list_all()}
    if args.split not in known:
        _emit({"error": f"no split {args.split!r}"})
        return 1
    m.publish([], replaced=[args.split])
    _emit({"marked_for_deletion": args.split})
    return 0


def cmd_delete_index(args) -> int:
    """Delete-index endpoint analog: returns the removed split files with
    their sizes (the reference's response shape), then removes the index
    directory."""
    import shutil

    from quickwit_spark.index.manifest import Manifest

    Manifest(args.index_dir).load_index_config()  # refuse non-index dirs
    removed = []
    for sub in ("postings", "docstore"):
        base = os.path.join(args.index_dir, sub)
        for dirpath, _dirs, files in os.walk(base):
            for fn in files:
                p = os.path.join(dirpath, fn)
                removed.append(
                    {
                        "file_name": os.path.relpath(p, args.index_dir),
                        "file_size_in_bytes": os.path.getsize(p),
                    }
                )
    shutil.rmtree(args.index_dir)
    for r in removed:
        _emit(r)
    return 0


def _task_dict(t) -> dict:
    return {
        "opstamp": t.opstamp,
        "create_timestamp": t.create_timestamp,
        "state": t.state,
        "delete_query": {
            "query": t.query,
            "start_timestamp": t.start_timestamp,
            "end_timestamp": t.end_timestamp,
            "search_fields": list(t.search_fields),
        },
        "matched_docs": t.matched_docs,
        "rewritten_splits": t.rewritten_splits,
        "dropped_splits": t.dropped_splits,
    }


def cmd_create_delete_task(args) -> int:
    # metadata-only commit, no Spark session (rest-api.md: the endpoint
    # "simply appends your delete task to the delete task queue")
    from quickwit_spark.operators.janitor import create_delete_task

    t = create_delete_task(
        args.index_dir,
        args.query,
        start_timestamp=args.start_timestamp,
        end_timestamp=args.end_timestamp,
        search_fields=tuple(
            f for f in (args.search_field or "").split(",") if f
        ),
    )
    _emit(_task_dict(t))
    return 0


def cmd_list_delete_tasks(args) -> int:
    from quickwit_spark.operators.janitor import list_delete_tasks

    for t in list_delete_tasks(args.index_dir):
        _emit(_task_dict(t))
    return 0


def cmd_run_delete_tasks(args) -> int:
    from quickwit_spark.operators.janitor import run_pending_delete_tasks

    spark = _spark(args)
    for t in run_pending_delete_tasks(spark, args.index_dir):
        _emit(_task_dict(t))
    return 0


def cmd_retention(args) -> int:
    from quickwit_spark.operators.janitor import apply_retention

    dropped = apply_retention(args.index_dir, args.cutoff)
    _emit({"retired_splits": dropped})
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="quickwit_spark", description=__doc__,
        formatter_class=argparse.RawDescriptionHelpFormatter,
    )
    sub = p.add_subparsers(dest="cmd", required=True)

    def common(sp):
        sp.add_argument("--index-dir", required=True)
        sp.add_argument("--master", default=None,
                        help="Spark master for local runs (spark-submit wins)")

    sp = sub.add_parser("create", help="record an index config")
    common(sp)
    sp.add_argument("--config", help="IndexConfig kwargs as JSON")
    sp.set_defaults(fn=cmd_create)

    sp = sub.add_parser(
        "ingest", help="index a parquet path or catalog table (batch/stream)"
    )
    common(sp)
    src = sp.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="parquet path")
    src.add_argument("--table",
                     help="catalog table name (Iceberg/Delta/Hive/managed)")
    src.add_argument("--source",
                     help="registered source id (see `source create`)")
    sp.add_argument("--config")
    sp.add_argument("--stream", action="store_true",
                    help="availableNow streaming ingest (incremental files)")
    sp.add_argument("--checkpoint-dir")
    sp.set_defaults(fn=cmd_ingest)

    sp = sub.add_parser(
        "source", help="manage registered source configs (metastore CRUD)"
    )
    common(sp)
    sp.add_argument(
        "source_action",
        choices=["create", "list", "describe", "delete", "enable",
                 "disable", "reset-checkpoint"],
    )
    sp.add_argument("--payload", help="source config JSON (create)")
    sp.add_argument("--source", help="source id (all actions but create/list)")
    sp.set_defaults(fn=cmd_source)

    sp = sub.add_parser("search", help="BM25 top-k search")
    common(sp)
    sp.add_argument("--query", required=True)
    sp.add_argument("--max-hits", type=int, default=10)
    sp.add_argument("--start-offset", type=int, default=0)
    sp.add_argument("--sort-by", default=None)
    sp.add_argument("--sort-order", default="desc", choices=["asc", "desc"])
    sp.add_argument("--start-timestamp")
    sp.add_argument("--end-timestamp")
    sp.add_argument("--fetch-field", action="append")
    sp.add_argument("--search-field", default=None,
                    help="comma-separated default search fields "
                         "(rest-api.md search_field)")
    sp.add_argument("--aggs", default=None,
                    help="ES-JSON aggregations object run over the matching "
                         "docs (aggregation.md format)")
    sp.add_argument("--envelope", action="store_true",
                    help="emit the full search JSON envelope (hits/num_hits/"
                         "elapsed_time_micros/aggs) like the reference CLI")
    sp.add_argument("--snippet-fields", default=None,
                    help="comma-separated fields to snippet (envelope mode)")
    sp.add_argument("--tolerate-failures", action="store_true",
                    help="skip unreadable splits, report them (root.rs:203)")
    sp.set_defaults(fn=cmd_search)

    sp = sub.add_parser(
        "export", help="stream one fast field for all matches (csv/RowBinary)"
    )
    common(sp)
    sp.add_argument("--query", required=True)
    sp.add_argument("--fast-field", required=True)
    sp.add_argument("--partition-by-field", default=None)
    sp.add_argument("--output-format", default="csv",
                    choices=["csv", "clickHouseRowBinary"])
    sp.add_argument("--search-field", default=None)
    sp.add_argument("--start-timestamp")
    sp.add_argument("--end-timestamp")
    sp.set_defaults(fn=cmd_export)

    sp = sub.add_parser("count", help="count all matches")
    common(sp)
    sp.add_argument("--query", required=True)
    sp.add_argument("--start-timestamp")
    sp.add_argument("--end-timestamp")
    sp.set_defaults(fn=cmd_count)

    sp = sub.add_parser("list-splits", help="manifest listing")
    common(sp)
    sp.set_defaults(fn=cmd_list_splits)

    sp = sub.add_parser("merge", help="run the merge policy once")
    common(sp)
    sp.set_defaults(fn=cmd_merge)

    sp = sub.add_parser(
        "ingest-otlp",
        help="ingest OTLP trace/log export JSON payloads (the otel-trace-v0 /"
        " otel-logs-v0 doc mappings); --input is a parquet of payload"
        " strings or an NDJSON file (one export body per line)",
    )
    common(sp)
    sp.add_argument("--input", required=True)
    sp.add_argument("--kind", choices=("traces", "logs"), default="traces")
    sp.add_argument("--json-col", default="payload")
    sp.add_argument("--num-partitions", type=int, default=8)
    sp.set_defaults(fn=cmd_ingest_otlp)

    sp = sub.add_parser(
        "export-delta",
        help="materialize the docstore as a Delta-protocol table "
        "(_delta_log over the published splits; re-run after merges/"
        "deletes to append the diff commit)",
    )
    common(sp)
    sp.set_defaults(fn=cmd_export_delta)

    sp = sub.add_parser("gc", help="remove dead split files")
    common(sp)
    sp.add_argument(
        "--deletion-grace-secs", type=float, default=120.0,
        help="keep MarkedForDeletion split files this long for in-flight "
        "readers (reference DELETION_GRACE_PERIOD; 0 = immediate)",
    )
    sp.add_argument(
        "--staged-grace-secs", type=float, default=86_400.0,
        help="mark dangling Staged splits for deletion after this long "
        "(reference STAGED_GRACE_PERIOD, 24 h)",
    )
    sp.set_defaults(fn=cmd_gc)

    sp = sub.add_parser("delete", help="delete-by-query (split rewrite)")
    common(sp)
    sp.add_argument("--query", required=True)
    sp.set_defaults(fn=cmd_delete)

    sp = sub.add_parser("describe", help="index metadata (config + totals)")
    common(sp)
    sp.set_defaults(fn=cmd_describe)

    sp = sub.add_parser(
        "clear", help="drop all splits + reset checkpoints, keep the config"
    )
    common(sp)
    sp.set_defaults(fn=cmd_clear)

    sp = sub.add_parser("describe-split", help="one split's full metadata")
    common(sp)
    sp.add_argument("--split", required=True)
    sp.set_defaults(fn=cmd_describe_split)

    sp = sub.add_parser(
        "mark-split-for-deletion", help="retire one split (gc reclaims it)"
    )
    common(sp)
    sp.add_argument("--split", required=True)
    sp.set_defaults(fn=cmd_mark_split_for_deletion)

    sp = sub.add_parser("list-indexes", help="all indexes under a root dir")
    sp.add_argument("--root", required=True)
    sp.set_defaults(fn=cmd_list_indexes)

    sp = sub.add_parser(
        "delete-index", help="remove an index dir, reporting its split files"
    )
    common(sp)
    sp.set_defaults(fn=cmd_delete_index)

    sp = sub.add_parser(
        "create-delete-task", help="enqueue a DeleteQuery (metadata only)"
    )
    common(sp)
    sp.add_argument("--query", required=True)
    sp.add_argument("--start-timestamp")
    sp.add_argument("--end-timestamp")
    sp.add_argument("--search-field", default=None)
    sp.set_defaults(fn=cmd_create_delete_task)

    sp = sub.add_parser("list-delete-tasks", help="list queued delete tasks")
    common(sp)
    sp.set_defaults(fn=cmd_list_delete_tasks)

    sp = sub.add_parser(
        "run-delete-tasks", help="janitor pass: execute pending delete tasks"
    )
    common(sp)
    sp.set_defaults(fn=cmd_run_delete_tasks)

    sp = sub.add_parser("retention", help="retire splits older than cutoff")
    common(sp)
    sp.add_argument("--cutoff", required=True,
                    help="ISO timestamp; splits entirely before it retire")
    sp.set_defaults(fn=cmd_retention)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
