"""Split manifest / metastore.

The Spark analog of the reference metastore (SplitMetadata fields from
quickwit-metastore/src/split_metadata.rs:63-129; atomic publish from
quickwit-indexing/src/actors/publisher.rs:108-175): one JSON file per split
under ``<index_dir>/manifest/``, written staged-then-renamed so a publish is
atomic at the filesystem level. The manifest is the unit of:

- **pruning**   — time-range + tag filtering before any scan is planned
  (quickwit-search/src/lib.rs:117-141),
- **merge planning** — the StableLog policy consumes these rows only,
- **checkpoint lineage** — ``source_fingerprint`` + ``input_partition`` let a
  re-run skip partitions whose split is already Published (exactly-once
  publish semantics of checkpoint deltas, quickwit-metastore/src/checkpoint.rs).

Driver-side metadata logic on purpose: like the reference, pruning and merge
planning are metadata operations over thousands of rows, not data operations —
no reason to involve the cluster.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import asdict, dataclass, field

from quickwit_spark.index.txnlog import TransactionLog


@dataclass
class SplitMetadata:
    split_id: str
    index_id: str
    partition_id: int
    num_docs: int
    uncompressed_docs_size_in_bytes: int
    total_tokens: int  # sum of doc_len -> avgdl = total_tokens / num_docs
    time_range_start: str | None  # isoformat
    time_range_end: str | None
    create_timestamp: float = 0.0
    # last state-transition time (stage / publish / mark-for-deletion) — the
    # GC grace periods key off this, like the reference metastore's
    # update_timestamp (split_metadata.rs:63-129, garbage_collection.rs:92-98).
    # Rows predating the field read back 0.0 = "older than any grace period".
    update_timestamp: float = 0.0
    tags: list[str] = field(default_factory=list)
    num_merge_ops: int = 0
    state: str = "Staged"  # Staged | Published | MarkedForDeletion
    source_fingerprint: str = ""  # checkpoint lineage: identifies the input
    generation: int = 0
    # docid ceiling: the largest docid present in the split. Delete rewrites
    # keep survivors' ORIGINAL docids (with gaps), so max_docid can exceed
    # num_docs - 1 — merges must re-base by (max_docid + 1), never num_docs.
    max_docid: int | None = None
    # per-extra-text-field token totals (avgdl per field = v / num_docs);
    # the default field's total lives in total_tokens
    field_total_tokens: dict | None = None
    # indexing record option this split was built with ("position" | "freq");
    # a merge of mixed sources degrades to "freq", and phrase queries take
    # the positions path only when EVERY pruned split has them. The default
    # covers split rows that PREDATE this field — those were built without
    # positions, so the safe (fallback) direction is "freq"
    record: str = "freq"
    # index-config generation this split was built under: leaf queries are
    # planned against the split's OWN config (tokenizer, record, field set),
    # the reference's per-split DocMapper (doc_mapper.rs:85-93). Splits
    # predating the field carry generation 0 (the initial config).
    config_generation: int = 0
    # per-numeric-fast-field [min, max] over the split's NON-NULL values —
    # the Iceberg column-stats analog for sound range-query split pruning
    # (timestamps as epoch micros). A field is omitted when its stats are
    # unavailable (legacy rows, all-null columns, NaN-bearing floats), and
    # an omitted field is never pruned on. Delete rewrites keep the
    # original ranges (rows only shrink — a stale range stays sound).
    field_ranges: dict | None = None

    def field_avgdl(self, field_name: str | None) -> float:
        if field_name and self.field_total_tokens and field_name in self.field_total_tokens:
            return (
                self.field_total_tokens[field_name] / self.num_docs
                if self.num_docs
                else 0.0
            )
        return self.avgdl

    @property
    def docid_ceiling(self) -> int:
        """Exclusive upper bound on docids in this split."""
        return (self.max_docid + 1) if self.max_docid is not None else self.num_docs

    @property
    def avgdl(self) -> float:
        return self.total_tokens / self.num_docs if self.num_docs else 0.0


class Manifest:
    """Metastore for one index, backed by the transaction log
    (``index/txnlog.py``): every mutation is ONE atomic commit, and listing
    is checkpoint + bounded tail replay instead of O(splits) file reads —
    the two scale gaps of the per-split-file backend this replaces
    (metastore/mod.rs:304-390 publish transaction analog).

    Indexes written by the old backend (one ``<split_id>.json`` per split +
    ``_lineage_g*.json`` + ``_index_config.json`` sidecars) are migrated
    into the log on first open; the migration commit is idempotent under a
    two-writer race because replay is last-writer-wins on identical rows."""

    def __init__(self, index_dir: str, store=None):
        """``store`` overrides the transaction log's claim backend. When
        omitted it is resolved from the index root's storage marker
        (index/storage.py): POSIX hard-link claims by default, S3-style
        conditional-PUT claims for object-store indexes — so every opener
        (build, searcher, merge, janitor, CLI) lands on the same commit
        protocol without threading a handle through each call site."""
        self.index_dir = index_dir
        self.dir = os.path.join(index_dir, "manifest")
        os.makedirs(self.dir, exist_ok=True)
        if store is None:
            from quickwit_spark.index.storage import get_storage

            store = get_storage(index_dir).log_store("manifest/_txn")
        self.log = TransactionLog(os.path.join(self.dir, "_txn"), store=store)
        # MVCC pin: when set, READ methods (get / list_* / load_index_config
        # / config_generations) replay the log only up to this version, so a
        # reader sees one consistent split set for its whole lifetime even
        # while merges, deletes and GC commit behind it — the reference root
        # plans a whole scatter-gather against one metastore snapshot the
        # same way. Writes always go to the tip.
        self.pinned_version: int | None = None
        self._migrate_legacy()

    def pin(self, version: int | None = None) -> int:
        """Pin reads to ``version`` (default: the current tip). Returns the
        pinned version. Files of splits retired after the pin stay readable
        for the GC deletion-grace window (operators/merge.py
        garbage_collect), which is what bounds how long a pin should live."""
        self.pinned_version = (
            self.log.latest_version() if version is None else version
        )
        return self.pinned_version

    def unpin(self) -> None:
        self.pinned_version = None

    def _read_state(self) -> dict:
        return self.log.state(self.pinned_version)

    # -- legacy migration ---------------------------------------------------
    def _migrate_legacy(self) -> None:
        if self.log.latest_version() > 0:
            return
        actions: list[dict] = []
        legacy_files: list[str] = []
        for name in sorted(os.listdir(self.dir)):
            path = os.path.join(self.dir, name)
            if name.endswith(".json") and not name.startswith("_"):
                with open(path) as f:
                    actions.append({"op": "upsert", "meta": json.load(f)})
                legacy_files.append(path)
            elif name.startswith("_lineage_g") and name.endswith(".json"):
                gen = int(name[len("_lineage_g") : -len(".json")])
                with open(path) as f:
                    actions.append(
                        {"op": "lineage", "generation": gen, "set": json.load(f)}
                    )
                legacy_files.append(path)
            elif name == "_index_config.json":
                with open(path) as f:
                    actions.append({"op": "config", "config": json.load(f)})
                legacy_files.append(path)
        if not actions:
            return
        self.log.commit(actions)
        for path in legacy_files:
            try:
                os.unlink(path)
            except OSError:
                pass

    # -- write path ---------------------------------------------------------
    def stage(self, meta: SplitMetadata) -> None:
        self.stage_many([meta])

    def stage_many(self, metas: list[SplitMetadata]) -> None:
        """Stage a batch in ONE commit (a build stages every split of the
        run together — per-split commits would cost O(splits) log appends)."""
        now = time.time()
        for meta in metas:
            meta.state = "Staged"
            meta.create_timestamp = meta.create_timestamp or now
            meta.update_timestamp = now
        self.log.commit(
            [{"op": "upsert", "meta": asdict(m)} for m in metas]
        )

    def publish(
        self, new: list[SplitMetadata], replaced: list[str] | None = None
    ) -> None:
        """Atomic publish: ONE log commit marks replaced splits for deletion,
        flips the new splits to Published, and records checkpoint lineage
        (publisher.rs:129-140 + checkpoint.rs semantics — a reader observes
        all of it or none of it; the per-file backend could tear here)."""
        actions: list[dict] = []
        state = self.log.state()
        now = time.time()
        for split_id in replaced or []:
            d = state["splits"].get(split_id)
            if d is not None:
                d = dict(d)
                d["state"] = "MarkedForDeletion"
                d["update_timestamp"] = now
                actions.append({"op": "upsert", "meta": d})
        for meta in new:
            meta.state = "Published"
            meta.update_timestamp = now
            actions.append({"op": "upsert", "meta": asdict(meta)})
        # durable checkpoint lineage: (generation, partition) -> fingerprint
        # for original (never-merged) splits, surviving merge/retention/GC —
        # exactly-once replay must not depend on gen-0 splits staying alive
        lineage_new = [
            m for m in new if m.num_merge_ops == 0 and m.source_fingerprint
        ]
        for gen in sorted({m.generation for m in lineage_new}):
            actions.append(
                {
                    "op": "lineage",
                    "generation": gen,
                    "set": {
                        str(m.partition_id): m.source_fingerprint
                        for m in lineage_new
                        if m.generation == gen
                    },
                }
            )
        if actions:
            self.log.commit(actions)

    def remove_split(self, split_id: str) -> None:
        """Drop a split row entirely (GC of MarkedForDeletion splits)."""
        self.log.commit([{"op": "remove", "split_id": split_id}])

    def _load_lineage(self, generation: int) -> dict[str, str]:
        return dict(self.log.state()["lineage"].get(str(generation), {}))

    def record_lineage(
        self, generation: int, partition_id: int, fingerprint: str
    ) -> None:
        """Record one (generation, partition) -> fingerprint row directly —
        used for partitions whose (re)build produced no split (empty input
        slice) but which are nonetheless done."""
        self.log.commit(
            [
                {
                    "op": "lineage",
                    "generation": generation,
                    "set": {str(partition_id): fingerprint},
                }
            ]
        )

    def drop_lineage(self, generation: int, partition_id: int) -> None:
        """Forget one (generation, partition) lineage row — forces the next
        resume to re-index that partition (manual re-index escape hatch)."""
        self.log.commit(
            [
                {
                    "op": "lineage",
                    "generation": generation,
                    "drop": [str(partition_id)],
                }
            ]
        )

    def _write(self, meta: SplitMetadata) -> None:
        """Upsert one split row as-is (compat shim for direct state edits)."""
        self.log.commit([{"op": "upsert", "meta": asdict(meta)}])

    # -- clear (the reference's `index clear`: drop all splits AND reset the
    # source checkpoint so the next ingest re-processes from scratch)
    def clear(self) -> list[str]:
        state = self.log.state()
        published = [
            sid
            for sid, d in state["splits"].items()
            if d.get("state") == "Published"
        ]
        actions: list[dict] = []
        now = time.time()
        for sid in published:
            d = dict(state["splits"][sid])
            d["state"] = "MarkedForDeletion"
            d["update_timestamp"] = now
            actions.append({"op": "upsert", "meta": d})
        for gen, rec in (state.get("lineage") or {}).items():
            actions.append(
                {"op": "lineage", "generation": int(gen), "drop": list(rec)}
            )
        if actions:
            self.log.commit(actions)  # one atomic clear
        return published

    def reset_checkpoints(self) -> None:
        """Forget ALL consumption positions without dropping data: the next
        ingest of the same source re-processes it, and the (generation,
        partition) retirement rule REPLACES the old splits — the `source
        reset-checkpoint` semantics. Positions live in two places, both
        cleared in one atomic commit: the lineage sidecar, and the
        source_fingerprint carried on live original splits (the
        published_fingerprints fallback)."""
        state = self.log.state()
        actions = [
            {"op": "lineage", "generation": int(g), "drop": list(rec)}
            for g, rec in (state.get("lineage") or {}).items()
            if rec
        ]
        for d in state["splits"].values():
            if (
                d.get("state") == "Published"
                and not d.get("num_merge_ops")
                and d.get("source_fingerprint")
            ):
                actions.append(
                    {"op": "upsert", "meta": {**d, "source_fingerprint": None}}
                )
        if actions:
            self.log.commit(actions)

    # -- source-config registry (rest-api.md "Create a source" /
    # quickwit-config/src/source_config.rs: named per-index source configs
    # kept in the metastore; enable/disable toggles consumption)
    def add_source(self, source: dict) -> dict:
        sid = source.get("source_id")
        if not sid:
            raise ValueError("source config requires source_id")
        if not source.get("source_type"):
            raise ValueError("source config requires source_type")
        src = {"enabled": True, **source}
        self.log.commit([{"op": "source", "source": src}])
        return src

    def list_sources(self) -> "dict[str, dict]":
        return dict(self.log.state().get("sources") or {})

    def get_source(self, source_id: str) -> dict:
        src = self.list_sources().get(source_id)
        if src is None:
            raise KeyError(f"no source {source_id!r}")
        return src

    def remove_source(self, source_id: str) -> None:
        self.get_source(source_id)  # raise on unknown
        self.log.commit([{"op": "source_remove", "source_id": source_id}])

    def set_source_enabled(self, source_id: str, enabled: bool) -> dict:
        src = {**self.get_source(source_id), "enabled": enabled}
        self.log.commit([{"op": "source", "source": src}])
        return src

    # -- delete-task queue (the reference appends DeleteQuery tasks to the
    # metastore and the janitor executes them eventually — rest-api.md
    # "Create a delete task"; opstamp = the claiming commit's version)
    def append_delete_task(self, task: dict) -> dict:
        v = self.log.commit(
            [{"op": "delete_task", "task": {**task, "opstamp": None}}]
        )
        return {**task, "opstamp": v}

    def delete_tasks(self) -> "dict[str, dict]":
        return dict(self.log.state().get("delete_tasks") or {})

    def update_delete_task(self, opstamp: int, **changes) -> None:
        self.log.commit(
            [{"op": "delete_task_update", "opstamp": opstamp, "set": changes}]
        )

    # -- index-level config (the reference keeps IndexConfig/DocMapper in the
    # metastore; searchers must use the index's own tokenizer and fields) ---
    def save_index_config(self, cfg: dict) -> None:
        self.log.commit([{"op": "config", "config": cfg}])

    def load_index_config(self, generation: int | None = None) -> dict:
        """Latest config, or the config a given generation's splits were
        built under (falls back to latest for pre-versioning logs)."""
        state = self._read_state()
        if generation is not None:
            hist = state.get("configs") or {}
            if str(generation) in hist:
                return dict(hist[str(generation)])
        return dict(state["config"])

    def config_generations(self) -> list[int]:
        """All config generations the log has seen (>=1 entry once any
        config was saved; empty for a bare log)."""
        state = self._read_state()
        hist = state.get("configs") or {}
        if hist:
            return sorted(int(g) for g in hist)
        return [0] if state.get("config") else []

    # keys that define the physical LAYOUT of existing splits: evolving them
    # in place would orphan or mis-route already-published data
    _LAYOUT_KEYS = (
        "index_id", "text_field", "doc_key", "tag_field", "timestamp_field",
        "routing_col", "num_splits", "split_num_docs_target",
        "split_memory_budget_bytes",
    )

    def update_index_config(self, new_cfg: dict) -> int:
        """Schema evolution (doc_mapping update): bump the config generation
        so NEW splits build under ``new_cfg`` while existing splits keep
        being queried under the config they were built with. Layout keys
        must not change (rebuild into a fresh index for that); the evolvable
        surface is tokenizer, record, extra_text_fields, store_fields,
        ip_fields and default_search_fields. Returns the new generation."""
        cur = self.load_index_config()
        if not cur:
            raise ValueError("no existing index config to update")
        for k in self._LAYOUT_KEYS:
            if k in cur and k in new_cfg and cur[k] != new_cfg[k]:
                raise ValueError(
                    f"config update may not change layout key {k!r}: "
                    f"{cur[k]!r} -> {new_cfg[k]!r}"
                )
        gen = int(cur.get("config_generation", 0)) + 1
        out = dict(new_cfg)
        out["config_generation"] = gen
        self.save_index_config(out)
        return gen

    def get(self, split_id: str) -> SplitMetadata | None:
        d = self._read_state()["splits"].get(split_id)
        return SplitMetadata(**d) if d is not None else None

    def list_all(self) -> list[SplitMetadata]:
        return [
            SplitMetadata(**d)
            for _, d in sorted(self._read_state()["splits"].items())
        ]

    # -- pruning (the reference's list_relevant_splits) --------------------
    def list_published(
        self,
        start_ts: str | None = None,
        end_ts: str | None = None,
        tags: set[str] | None = None,
    ) -> list[SplitMetadata]:
        """Published splits overlapping the semi-open ``[start_ts, end_ts)``
        window and (if given) carrying at least one of ``tags``. Mirrors
        metastore list_splits + tag pruning (sound over-approximation:
        splits with no recorded tags are never pruned)."""
        out = []
        for m in self.list_all():
            if m.state != "Published":
                continue
            if start_ts is not None and m.time_range_end is not None:
                if m.time_range_end < start_ts:
                    continue
            if end_ts is not None and m.time_range_start is not None:
                if m.time_range_start >= end_ts:
                    continue
            if tags and m.tags and not (set(m.tags) & tags):
                continue
            out.append(m)
        return out

    def published_fingerprints(self, generation: int = 0) -> dict[int, str]:
        """partition_id -> source_fingerprint for one build generation (a
        batch build is generation >= 0, default 0; streaming micro-batch b is
        generation -1 - b). Resume skips matching partitions.

        Read from the durable lineage sidecar first — a batch whose splits
        were since merged/retired must still be recognized as done on replay —
        then union in any live original splits (covers indexes written before
        the sidecar existed)."""
        out = {
            int(p): fp for p, fp in self._load_lineage(generation).items()
        }
        for m in self.list_all():
            if (
                m.state == "Published"
                and m.num_merge_ops == 0
                and m.generation == generation
                and m.partition_id not in out
            ):
                out[m.partition_id] = m.source_fingerprint
        return out

    def to_dataframe(self, spark):
        """The ``index_splits`` metastore relation as a DataFrame — for
        cluster-side planning joins (e.g. pruning a huge split list with a
        distributed filter instead of a driver loop) and for snapshotting.

        Production-scale note (north_star "Iceberg tables"): this sandbox
        backend is one JSON file per split with write-then-rename, which is
        atomic for the single-driver sandbox. On object storage with many
        writers, back this class with an Iceberg/Delta table instead: stage =
        append with state=Staged; publish = ONE transactional commit that
        flips new rows to Published and replaced rows to MarkedForDeletion
        (or a conditional-put on a manifest pointer object). Every consumer
        in this repo goes through Manifest's methods, so the backend swap is
        localized here."""
        import json as _json

        rows = [
            (
                m.split_id,
                m.index_id,
                m.partition_id,
                m.num_docs,
                m.uncompressed_docs_size_in_bytes,
                m.total_tokens,
                m.time_range_start,
                m.time_range_end,
                m.create_timestamp,
                m.tags,
                m.num_merge_ops,
                m.state,
                m.source_fingerprint,
                m.generation,
                m.max_docid,
                _json.dumps(m.field_total_tokens) if m.field_total_tokens else None,
            )
            for m in self.list_all()
        ]
        return spark.createDataFrame(
            rows,
            "split_id string, index_id string, partition_id long, num_docs long,"
            " uncompressed_docs_size_in_bytes long, total_tokens long,"
            " time_range_start string, time_range_end string,"
            " create_timestamp double, tags array<string>, num_merge_ops long,"
            " state string, source_fingerprint string, generation long,"
            " max_docid long, field_total_tokens string",
        )

    def export_snapshot(self, spark, path: str) -> None:
        """Write an index_splits parquet snapshot (read-only mirror for
        downstream planners / audits)."""
        self.to_dataframe(spark).write.mode("overwrite").parquet(path)

    def stats(self) -> dict[str, dict]:
        """split_id -> {num_docs, avgdl, ...} for Published splits (broadcast
        to the scorer: per-split BM25 stats, see SURVEY §7.4).
        ``create_timestamp`` versions a split id for the executor caches (a
        rebuild can reuse the id); ``uncompressed_docs_size_in_bytes`` sizes
        the leaf kernel's tasks."""
        return {
            m.split_id: {
                "num_docs": m.num_docs,
                "avgdl": m.avgdl,
                "create_timestamp": m.create_timestamp,
                "uncompressed_docs_size_in_bytes": (
                    m.uncompressed_docs_size_in_bytes
                ),
                "num_merge_ops": m.num_merge_ops,
                "field_total_tokens": m.field_total_tokens,
                "record": m.record,
                "config_generation": m.config_generation,
            }
            for m in self.list_all()
            if m.state == "Published"
        }
