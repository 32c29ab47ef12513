"""Janitor operators: retention expiry and delete-by-query split rewrites.

Reference semantics:
- retention: periodically drop Published splits whose time range ended before
  the cutoff (quickwit-janitor/src/retention_policy_execution.rs; policy
  config index_config/mod.rs:201-266);
- delete tasks: a delete query is applied per affected split by rewriting the
  split without the matching docs; an emptied split is dropped outright
  (quickwit-janitor/src/actors/delete_task_planner.rs; applied in
  quickwit-indexing/src/actors/merge_executor.rs:320-425).

A rewrite keeps the surviving docs' docids (sorted, possibly with gaps — the
codec needs ascending ids, and SplitMetadata.max_docid records the ceiling so
merges re-base correctly). The survivors go through the build's split writer
(``operators/build.py`` ``_write_splits``), which re-tokenizes them with the
TOKENIZER AND RECORD OPTION persisted in the index config — a
chinese_compatible or en_stem index must not be re-tokenized with the default
analyzer — and writes each rewritten split's docstore and postings through
the storage seam, one object each.

Scale shape: a delete is TWO cluster actions regardless of how many splits
matched — the per-split match count, then ONE rewrite action whose tasks
each write one whole split (the build's memory bound) — not a driver loop of
per-split jobs. Adaptive execution splits each action into a few jobs at its
shuffles (11 jobs for a delete that rewrites 3 splits).
"""

from __future__ import annotations

import hashlib
import json
import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from quickwit_spark.index.manifest import Manifest, SplitMetadata
from quickwit_spark.index.storage import get_storage
from quickwit_spark.operators.build import IndexConfig, _write_splits
from quickwit_spark.operators.search import IndexReader, Searcher
from quickwit_spark.session import local_rows_df
from quickwit_spark.plans.query import parse_query


def apply_retention(index_dir: str, cutoff_iso: str) -> list[str]:
    """Mark Published splits with ``time_range_end < cutoff`` for deletion.
    Returns the dropped split ids (call merge.garbage_collect to reclaim)."""
    manifest = Manifest(index_dir)
    dropped = [
        m.split_id
        for m in manifest.list_all()
        if m.state == "Published"
        and m.time_range_end is not None
        and m.time_range_end < cutoff_iso
    ]
    if dropped:
        # one atomic commit retires the whole expired set
        manifest.publish([], replaced=dropped)
    return dropped


@dataclass
class DeleteMetrics:
    matched_docs: int = 0
    rewritten_splits: list[str] = field(default_factory=list)
    dropped_splits: list[str] = field(default_factory=list)
    elapsed_sec: float = 0.0


def delete_by_query(
    spark: SparkSession,
    index_dir: str,
    query: str,
    text_field: str = "text",  # kept for API compat; docstore text is "text"
    start_timestamp: str | None = None,
    end_timestamp: str | None = None,
    search_fields: tuple[str, ...] = (),
) -> DeleteMetrics:
    """Apply a delete query: rewrite every split containing matches without
    those docs; drop splits left empty. Publish is atomic per split.
    ``start/end_timestamp`` and ``search_fields`` mirror the reference's
    DeleteQuery payload (rest-api.md): the time window restricts matches
    semi-open [start, end); unqualified terms expand over search_fields."""
    t0 = time.time()
    reader = IndexReader(spark, index_dir)
    manifest = reader.manifest
    # membership-only matching: take the scoring opt-out (no tf/norms)
    searcher = Searcher(reader, scoring=False)
    icfg = manifest.load_index_config()
    extra_text_fields = tuple(icfg.get("extra_text_fields", []) or [])
    ast = parse_query(query)
    if search_fields:
        from quickwit_spark.plans.query import expand_default_fields

        for f_ in search_fields:
            if searcher._ns_prefix(f_) is None:
                raise ValueError(
                    f"search_field {f_!r} is not an indexed text field"
                )
        ast = expand_default_fields(ast, tuple(search_fields))
    # manifest time-pruning limits the rewrite scan to splits overlapping
    # the window; matching() then applies the per-doc [start, end) check
    # (docs outside the window inside an overlapping split survive)
    published = {
        m.split_id: m
        for m in manifest.list_published(start_timestamp, end_timestamp)
    }
    matches = (
        searcher.matching(ast, list(published), start_timestamp, end_timestamp)
        .select("split_id", "docid")
        .cache()
    )
    per_split = {
        r["split_id"]: r["n"]
        for r in matches.groupBy("split_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    metrics = DeleteMetrics(matched_docs=sum(per_split.values()))
    qh = hashlib.sha256(query.encode()).hexdigest()[:12]

    rewrite: dict[str, str] = {}
    for split_id, n_del in per_split.items():
        meta = published[split_id]
        if n_del >= meta.num_docs:
            # split emptied: drop it (merge_executor.rs:371-379 analog)
            manifest.publish([], replaced=[split_id])
            metrics.dropped_splits.append(split_id)
        else:
            # new id must be a collision-free function of the FULL source id:
            # a suffix slice would collapse e.g. generations g and g+10 of
            # the same partition into one rewritten split
            sh = hashlib.sha256(split_id.encode()).hexdigest()[:12]
            rewrite[split_id] = f"{meta.index_id}-del-{qh}-{sh}"
    if not rewrite:
        matches.unpersist()
        metrics.elapsed_sec = time.time() - t0
        return metrics

    # ONE action: each rewritten split's survivors, sorted by docid, are one
    # task of the build's split writer; task key i -> source split id
    sources = dict(enumerate(sorted(rewrite)))
    store_base = f"{index_dir}/docstore"
    store = spark.read.option("basePath", store_base).parquet(
        *[f"{store_base}/split_id={sid}" for sid in sources.values()]
    )
    keys = local_rows_df(
        spark,
        [(sid, i) for i, sid in sources.items()],
        "split_id string, partition_id int",
    )
    cfg = IndexConfig(
        index_id=icfg.get("index_id", "pages"),
        extra_text_fields=extra_text_fields,
        tag_field="tag" if "tag" in store.columns else None,
        timestamp_field="ts" if "ts" in store.columns else None,
        tokenizer=icfg.get("tokenizer", "default"),
        record=icfg.get("record", "freq"),
    )
    written = {"split_id", "docid", "url", "text", "doc_len", "norm_len"}
    written |= {"tag", "ts", *extra_text_fields}
    for f_ in extra_text_fields:
        written |= {f"doc_len__{f_}", f"norm_len__{f_}"}
    passthrough = tuple(c for c in store.columns if c not in written)
    cols = ["partition_id", "docid", "url", "text"]
    cols += [c for c in ("tag", "ts") if c in store.columns]
    cols += [*extra_text_fields, *passthrough]
    stats = {
        r["partition_id"]: r
        for r in _write_splits(
            store.join(matches, ["split_id", "docid"], "left_anti")
            .join(F.broadcast(keys), "split_id")
            .select(*cols),
            cfg,
            passthrough,
            get_storage(index_dir),
            {i: rewrite[sid] for i, sid in sources.items()},
        )
    }
    for i, split_id in sources.items():
        row = stats[i]
        meta = published[split_id]
        new_meta = SplitMetadata(
            split_id=rewrite[split_id],
            index_id=meta.index_id,
            partition_id=meta.partition_id,
            num_docs=row["num_docs"],
            uncompressed_docs_size_in_bytes=row["bytes"],
            total_tokens=row["total_tokens"],
            time_range_start=row["ts_min"],
            time_range_end=row["ts_max"],
            tags=list(row["tags"] or []),
            num_merge_ops=meta.num_merge_ops,
            generation=meta.generation,
            source_fingerprint=meta.source_fingerprint,
            max_docid=row["max_docid"],
            field_total_tokens=(
                json.loads(row["field_total_tokens"])
                if row["field_total_tokens"]
                else None
            ),
            record=cfg.record,
            config_generation=meta.config_generation,
            # the writer's exact column stats over the survivors
            field_ranges=(
                json.loads(row["field_ranges"]) if row["field_ranges"] else None
            ),
        )
        manifest.stage(new_meta)
        manifest.publish([new_meta], replaced=[split_id])
        metrics.rewritten_splits.append(new_meta.split_id)

    matches.unpersist()
    metrics.elapsed_sec = time.time() - t0
    return metrics


# --- durable delete-task queue (rest-api.md "Delete API") ------------------
# The reference appends DeleteQuery tasks to the metastore queue and the
# janitor executes them eventually (delete_task_planner.rs); creation is a
# metadata-only commit with an opstamp, execution is decoupled.


@dataclass
class DeleteTask:
    """DeleteTask response shape (rest-api.md: opstamp, create_timestamp,
    delete_query fields)."""

    opstamp: int
    create_timestamp: float
    query: str
    start_timestamp: str | None = None
    end_timestamp: str | None = None
    search_fields: tuple[str, ...] = ()
    state: str = "pending"  # pending | done
    rewritten_splits: list[str] = field(default_factory=list)
    dropped_splits: list[str] = field(default_factory=list)
    matched_docs: int = 0


def _task_from_dict(d: dict) -> DeleteTask:
    return DeleteTask(
        opstamp=int(d["opstamp"]),
        create_timestamp=float(d["create_timestamp"]),
        query=d["query"],
        start_timestamp=d.get("start_timestamp"),
        end_timestamp=d.get("end_timestamp"),
        search_fields=tuple(d.get("search_fields") or ()),
        state=d.get("state", "pending"),
        rewritten_splits=list(d.get("rewritten_splits") or []),
        dropped_splits=list(d.get("dropped_splits") or []),
        matched_docs=int(d.get("matched_docs") or 0),
    )


def create_delete_task(
    index_dir: str,
    query: str,
    start_timestamp: str | None = None,
    end_timestamp: str | None = None,
    search_fields: tuple[str, ...] = (),
) -> DeleteTask:
    """Append a DeleteQuery to the index's durable task queue (one metadata
    commit, no Spark job). The query is parse-validated up front so a bad
    query fails at enqueue time, not at janitor time."""
    parse_query(query)  # fail fast
    manifest = Manifest(index_dir)
    stamped = manifest.append_delete_task(
        {
            "create_timestamp": time.time(),
            "query": query,
            "start_timestamp": start_timestamp,
            "end_timestamp": end_timestamp,
            "search_fields": list(search_fields),
            "state": "pending",
        }
    )
    return _task_from_dict(stamped)


def list_delete_tasks(index_dir: str) -> list[DeleteTask]:
    tasks = Manifest(index_dir).delete_tasks()
    return sorted(
        (_task_from_dict(t) for t in tasks.values()), key=lambda t: t.opstamp
    )


def get_delete_task(index_dir: str, opstamp: int) -> DeleteTask:
    tasks = Manifest(index_dir).delete_tasks()
    d = tasks.get(str(opstamp))
    if d is None:
        raise KeyError(f"no delete task with opstamp {opstamp}")
    return _task_from_dict(d)


def run_pending_delete_tasks(
    spark: SparkSession, index_dir: str
) -> list[DeleteTask]:
    """Janitor pass: execute every pending delete task in opstamp order
    (the reference applies them oldest-first so split delete_opstamps stay
    monotonic) and mark each done with its outcome. Returns the executed
    tasks with updated state."""
    manifest = Manifest(index_dir)
    done: list[DeleteTask] = []
    for task in list_delete_tasks(index_dir):
        if task.state != "pending":
            continue
        m = delete_by_query(
            spark,
            index_dir,
            task.query,
            start_timestamp=task.start_timestamp,
            end_timestamp=task.end_timestamp,
            search_fields=task.search_fields,
        )
        manifest.update_delete_task(
            task.opstamp,
            state="done",
            rewritten_splits=m.rewritten_splits,
            dropped_splits=m.dropped_splits,
            matched_docs=m.matched_docs,
        )
        done.append(get_delete_task(index_dir, task.opstamp))
    return done
