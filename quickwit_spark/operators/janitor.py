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
merges re-base correctly). Postings are rebuilt with the batch build's
per-split postings encoder (``_encode_arrow_split``, fed pre-tokenized lists
by ``_make_arrow_stream_kernel``), using the TOKENIZER AND RECORD OPTION
persisted in the index config — a chinese_compatible or en_stem index must
not be re-tokenized with the default analyzer.

Scale shape: ALL affected splits are rewritten by THREE cluster jobs total
(docstore rewrite, postings rebuild, stats), regardless of how many splits
matched — not a driver loop of per-split jobs. Each rewrite task is bounded
by one split's docs, the same memory bound as the build.
"""

from __future__ import annotations

import hashlib
import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from quickwit_spark.functions.tokenize import analyzer_expr
from quickwit_spark.index.manifest import Manifest, SplitMetadata
from quickwit_spark.operators.build import (
    ENC_SCHEMA,
    FIELD_SEP,
    _make_arrow_stream_kernel,
)
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
    tokenizer = icfg.get("tokenizer", "default")
    with_pos = icfg.get("record", "freq") == "position"
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

    # (old split_id, new split_id, dense task key) mapping — broadcastable
    map_df = F.broadcast(
        local_rows_df(
            spark,
            [(sid, nid, i) for i, (sid, nid) in enumerate(sorted(rewrite.items()))],
            "split_id string, new_split_id string, tmp_pid int",
        )
    )
    store_base = f"{index_dir}/docstore"
    post_base = f"{index_dir}/postings"
    remaining = (
        spark.read.option("basePath", store_base)
        .parquet(*[f"{store_base}/split_id={sid}" for sid in rewrite])
        .join(matches, ["split_id", "docid"], "left_anti")
        .join(map_df, "split_id")
        .cache()
    )

    # --- job 1: all rewritten docstores in one dynamic-partition overwrite
    (
        remaining.drop("split_id", "tmp_pid")
        .withColumnRenamed("new_split_id", "split_id")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("split_id")
        .parquet(store_base)
    )

    # --- job 2: all rewritten postings in one pass of the build kernel
    # (one task holds >= one split's survivors — the build's memory bound)
    def _field_enc(source_col: str, ns_prefix: str | None):
        ex = (
            remaining.select(
                F.col("tmp_pid").alias("partition_id"),
                "docid",
                analyzer_expr(F.col(source_col), tokenizer).alias("tokens"),
            )
            .repartition(len(rewrite), "partition_id")
            .sortWithinPartitions("partition_id", "docid")
        )
        e = ex.mapInArrow(_make_arrow_stream_kernel(with_pos), ENC_SCHEMA)
        if ns_prefix:
            e = e.withColumn("term", F.concat(F.lit(ns_prefix), F.col("term")))
        return e

    enc = _field_enc("text", None)
    for f_ in extra_text_fields:
        enc = enc.unionByName(_field_enc(f_, f_ + FIELD_SEP))
    (
        enc.join(map_df, enc["partition_id"] == map_df["tmp_pid"])
        .select(
            F.col("new_split_id").alias("split_id"),
            "term",
            "doc_freq",
            "sum_tf",
            "blocks",
            "pos_blocks",
        )
        .repartition("split_id")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("split_id")
        .parquet(post_base)
    )

    # --- job 3: per-split stats for the new manifest rows
    has_ts = "ts" in remaining.columns
    has_tag = "tag" in remaining.columns
    aggs = [
        F.count(F.lit(1)).alias("num_docs"),
        F.sum("doc_len").alias("total_tokens"),
        F.sum(F.length("text")).alias("bytes"),
        F.max("docid").alias("max_docid"),
    ]
    aggs += [
        F.sum(f"doc_len__{f_}").alias(f"_ftt__{f_}") for f_ in extra_text_fields
    ]
    if has_ts:
        aggs += [F.min("ts").alias("ts_min"), F.max("ts").alias("ts_max")]
    if has_tag:
        aggs.append(F.collect_set("tag").alias("tags"))
    stats = {
        r["new_split_id"]: r
        for r in remaining.groupBy("new_split_id").agg(*aggs).collect()
    }

    for split_id, new_id in sorted(rewrite.items()):
        meta = published[split_id]
        row = stats[new_id]
        new_meta = SplitMetadata(
            split_id=new_id,
            index_id=meta.index_id,
            partition_id=meta.partition_id,
            num_docs=row["num_docs"],
            uncompressed_docs_size_in_bytes=row["bytes"],
            total_tokens=row["total_tokens"],
            time_range_start=(
                row["ts_min"].isoformat()
                if has_ts and row["ts_min"] is not None
                else None
            ),
            time_range_end=(
                row["ts_max"].isoformat()
                if has_ts and row["ts_max"] is not None
                else None
            ),
            tags=sorted(row["tags"]) if has_tag else [],
            num_merge_ops=meta.num_merge_ops,
            generation=meta.generation,
            source_fingerprint=meta.source_fingerprint,
            max_docid=row["max_docid"],
            field_total_tokens=(
                {f_: row[f"_ftt__{f_}"] for f_ in extra_text_fields}
                if extra_text_fields
                else None
            ),
            record="position" if with_pos else "freq",
            config_generation=meta.config_generation,
            # deletion only removes rows: the source split's column stats
            # stay a sound (if no longer tight) over-approximation
            field_ranges=meta.field_ranges,
        )
        manifest.stage(new_meta)
        manifest.publish([new_meta], replaced=[split_id])
        metrics.rewritten_splits.append(new_id)

    remaining.unpersist()
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
