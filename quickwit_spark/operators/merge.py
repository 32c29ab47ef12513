"""Merge executor: turn N published splits into one, on the cluster.

The reference downloads split files and lets tantivy merge segments
(quickwit-indexing/src/actors/merge_executor.rs:283-318, attrs :195-258),
then hands the one merged split to the packager and uploader. Here a merge
is ONE Spark job with ONE task, the same shape as a build task writing its
split (operators/build.py):

- docids are **re-based**: splits are ordered by split_id (deterministic), and
  split *i*'s docids shift by the cumulative docid ceiling of splits 0..i —
  the exact analog of tantivy's segment concatenation docid mapping;
- the task reads every source's docstore and postings with pyarrow,
  concatenates the docstores with shifted docids, and merges the whole
  ``(term, _off)``-sorted postings table in one vectorized pass
  (``_merge_table``: per term, decode each source's blocks, apply the docid
  offset, concatenate in split order, re-encode);
- both artifacts are written through the storage seam (index/storage.py):
  one object each, no Spark writer, no shuffle;
- merged metadata: num_docs/bytes/tokens summed, time-range unioned, tags
  unioned, ``num_merge_ops = max + 1``, partition_id = Boost-hash-combine of
  the sources (merge_executor.rs:210-226), then an atomic publish that
  replaces the sources (publisher.rs:129-140 semantics).

At 100 TB scale, merge work per operation is bounded (<= 12 splits, <= 10M
docs each, one task — the reference's one merge executor per operation),
merges for different operations are independent Spark jobs, and the
planner only reads manifest rows — the same scaling story as the
reference's merge pipeline.
"""

from __future__ import annotations

import hashlib
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import SparkSession

from quickwit_spark.index.codec import (
    binary_np,
    decode_blocks_ragged,
    decode_struct_blocks,
)
from quickwit_spark.index.manifest import Manifest, SplitMetadata
from quickwit_spark.index.merge_policy import (
    MergeOperation,
    StableLogMergePolicy,
    combine_partition_ids,
)
from quickwit_spark.index.storage import get_storage
from quickwit_spark.operators.build import (
    PA_POS_BLOCK,
    PA_POSTINGS_SCHEMA,
    _assemble_blocks,
)


def _merge_table(tbl: "pa.Table"):
    """Complete term runs (Arrow table sorted by (term, _off)) -> encoded
    RecordBatches, fully vectorized:

    - every source block of the batch decodes in ONE width-grouped batched
      bit-unpack (codec.decode_struct_blocks / decode_blocks_ragged) straight
      off the parquet buffers — no struct->dict conversion, no per-block
      python (rb.to_pylist + per-row decode_postings used to dominate);
    - docid re-base is one vectorized add of the per-row _off;
    - positions need NO absolute-value round trip: the stored pos payload is
      already the delta-with-posting-start-reset form `_assemble_blocks`
      consumes, and that form is invariant under re-blocking, so merged
      positions are a pure gather-concat of decoded payload values;
    - a term stores positions in the merged split iff EVERY source row has
      them (a mixed-record merge degrades that term, like the reference
      merging a segment without positions).
    """
    batch = tbl.combine_chunks().to_batches()[0]
    names = batch.schema.names
    term_col = batch.column(names.index("term"))
    off = batch.column(names.index("_off")).to_numpy().astype(np.int64)
    bls = batch.column(names.index("blocks"))
    pls = batch.column(names.index("pos_blocks"))
    n = batch.num_rows
    enc_t = pc.dictionary_encode(term_col)
    codes = enc_t.indices.to_numpy().astype(np.int64)
    row_bounds = np.concatenate(
        [[0], np.flatnonzero(codes[1:] != codes[:-1]) + 1, [n]]
    )

    loffs = bls.offsets.to_numpy().astype(np.int64)
    row_off = loffs - loffs[0]
    bl = bls.flatten()
    docids, tfs, cnt = decode_struct_blocks(bl, need_tf=True)
    nblocks_per_row = np.diff(row_off)
    blk_row = np.repeat(np.arange(n, dtype=np.int64), nblocks_per_row)
    per_row_posts = np.zeros(n + 1, dtype=np.int64)
    np.add.at(per_row_posts, blk_row + 1, cnt)
    row_post_off = np.cumsum(per_row_posts)
    ud_all = docids + np.repeat(off, np.diff(row_post_off))
    tf_all = tfs

    # positions: decode every pos-bearing row's payload values (g-form)
    valid = np.asarray(pls.is_valid(), dtype=bool)
    ploffs = pls.offsets.to_numpy().astype(np.int64)
    prow_off = ploffs - ploffs[0]
    pbl = pls.flatten()
    occ_off = np.zeros(n + 1, dtype=np.int64)
    g_flat = np.zeros(0, dtype=np.int64)
    if len(pbl):
        pws = pbl.field("pos_bits").to_numpy().astype(np.int64)
        nps = pbl.field("n_pos").to_numpy().astype(np.int64)
        pdata, poffs = binary_np(pbl.field("positions"))
        g_flat = decode_blocks_ragged(pws, nps, pdata, poffs)
        # occurrences per row (0 for pos-less rows): segmented sum of n_pos
        npb_per_row = np.diff(prow_off) * valid  # null rows: 0 blocks
        pblk_row = np.repeat(np.arange(n, dtype=np.int64), npb_per_row)
        per_row_occ = np.zeros(n + 1, dtype=np.int64)
        np.add.at(per_row_occ, pblk_row + 1, nps)
        occ_off = np.cumsum(per_row_occ)

    # term groups by positions availability
    term_haspos = np.array(
        [
            bool(valid[a:b].all())
            for a, b in zip(row_bounds[:-1], row_bounds[1:])
        ],
        dtype=bool,
    ) if len(pbl) else np.zeros(len(row_bounds) - 1, dtype=bool)

    def _gather_ranges(starts: np.ndarray, ends: np.ndarray) -> np.ndarray:
        lens = ends - starts
        tot = int(lens.sum())
        if tot == 0:
            return np.zeros(0, dtype=np.int64)
        pos = np.arange(tot, dtype=np.int64) - np.repeat(
            np.concatenate([[0], np.cumsum(lens)[:-1]]), lens
        )
        return np.repeat(starts, lens) + pos

    for want_pos in (True, False):
        tsel = np.flatnonzero(term_haspos == want_pos)
        if not len(tsel):
            continue
        # posting index ranges per selected term (contiguous in row order)
        p_starts = row_post_off[row_bounds[tsel]]
        p_ends = row_post_off[row_bounds[tsel + 1]]
        gidx = _gather_ranges(p_starts, p_ends)
        ud = ud_all[gidx]
        tf = tf_all[gidx]
        term_lens = p_ends - p_starts
        bounds = np.concatenate([[0], np.cumsum(term_lens)])
        g_all = None
        if want_pos:
            # occurrence ranges per selected term, gathered row-by-row
            o_starts = occ_off[row_bounds[tsel]]
            o_ends = occ_off[row_bounds[tsel + 1]]
            g_all = g_flat[_gather_ranges(o_starts, o_ends)]
        dfs, sums, blocks_arr, pos_arr = _assemble_blocks(ud, tf, bounds, g_all)
        if pos_arr is None:
            pos_arr = pa.array([None] * len(tsel), type=pa.list_(PA_POS_BLOCK))
        yield pa.RecordBatch.from_arrays(
            [
                pc.take(
                    enc_t.dictionary,
                    pa.array(codes[row_bounds[tsel]], type=pa.int64()),
                ).cast(pa.string()),
                pa.array(dfs, type=pa.int64()),
                pa.array(sums, type=pa.int64()),
                blocks_arr,
                pos_arr,
            ],
            schema=PA_POSTINGS_SCHEMA,
        )


def _ts_type(t: "pa.DataType") -> "pa.DataType":
    """The split writer's timestamp type for a source column's type.
    Spark's parquet writer stored TimestampType as INT96, which pyarrow
    reads back as naive nanoseconds of UTC instants; the build writes
    microseconds with a zone. Naive microseconds (TimestampNTZ) stay
    naive."""
    if t.tz is None and t.unit != "ns":
        return pa.timestamp("us")
    return pa.timestamp("us", tz="UTC")


def _concat_sources(tables: list) -> "pa.Table":
    """Concatenate the sources' tables under the first source's column
    order, with every timestamp column cast to the writer's type — sources
    written by Spark and by the split writer differ in physical schema."""
    schema = pa.schema(
        [
            pa.field(f.name, _ts_type(f.type)) if pa.types.is_timestamp(f.type)
            else f
            for f in tables[0].schema
        ]
    )
    return pa.concat_tables(
        [t.select(schema.names).cast(schema) for t in tables]
    )


def _write_merged_split(
    index_dir: str, storage, new_id: str, offsets: dict[str, int]
) -> None:
    """The merge task: read every source split with pyarrow, re-base its
    docids by ``offsets``, and write the merged docstore and postings
    through ``storage`` (one object each)."""
    import pyarrow.parquet as pq

    try:
        pa.set_cpu_count(1)
        pa.set_io_thread_count(1)
    except Exception:  # noqa: BLE001
        pass
    stores, posts = [], []
    for sid, off in offsets.items():
        ds = pq.read_table(f"{index_dir}/docstore/split_id={sid}")
        i = ds.schema.get_field_index("docid")
        # int32 like the build-time docid; a merged split holds <=
        # max_merge_factor * split_num_docs_target = 120M docs
        docid = pc.add(ds.column(i).cast(pa.int64()), off).cast(pa.int32())
        stores.append(ds.set_column(i, "docid", docid))
        p = pq.read_table(f"{index_dir}/postings/split_id={sid}")
        if "pos_blocks" not in p.column_names:
            # built before positions existed: the merged term degrades to
            # positions-less
            p = p.append_column(
                "pos_blocks", pa.nulls(p.num_rows, pa.list_(PA_POS_BLOCK))
            )
        posts.append(
            p.select(PA_POSTINGS_SCHEMA.names).append_column(
                "_off", pa.array(np.full(p.num_rows, off, dtype=np.int64))
            )
        )
    post = _concat_sources(posts)
    merged = PA_POSTINGS_SCHEMA.empty_table()
    if post.num_rows:
        # a term's <= 12 source rows sort contiguous and in split order, so
        # concatenating them keeps docids ascending; the final term sort
        # keeps the file's min/max term stats tight (a mixed-record merge
        # emits positions-bearing terms before degraded ones)
        merged = pa.Table.from_batches(
            _merge_table(
                post.sort_by([("term", "ascending"), ("_off", "ascending")])
            ),
            schema=PA_POSTINGS_SCHEMA,
        ).sort_by("term")
    storage.write_parquet(f"docstore/split_id={new_id}", _concat_sources(stores))
    storage.write_parquet(f"postings/split_id={new_id}", merged)


@dataclass
class MergeMetrics:
    num_ops: int = 0
    splits_merged: int = 0
    docs_merged: int = 0
    elapsed_sec: float = 0.0
    new_splits: list[str] = field(default_factory=list)


def merged_split_id(index_id: str, source_split_ids: list[str]) -> str:
    """Deterministic id for the merged split (reference uses a fresh ULID;
    determinism is required here for resumable, reproducible merges)."""
    h = hashlib.sha256("|".join(sorted(source_split_ids)).encode()).hexdigest()
    return f"{index_id}-m-{h[:16]}"


def _docid_offsets(metas: list[SplitMetadata]) -> dict[str, int]:
    """split_id -> docid shift, in deterministic split_id order.

    Shift by each source's docid CEILING (max_docid + 1), not num_docs:
    delete rewrites keep survivors' original docids with gaps, so num_docs
    can undercount the docid range — offsetting by it would make two docs
    collide on one merged docid and feed non-ascending ids to the codec."""
    offsets: dict[str, int] = {}
    acc = 0
    for m in sorted(metas, key=lambda m: m.split_id):
        offsets[m.split_id] = acc
        acc += m.docid_ceiling
    return offsets


def execute_merge(
    spark: SparkSession,
    index_dir: str,
    op: MergeOperation,
    index_id: str | None = None,
) -> SplitMetadata:
    """Run one merge operation and publish the result."""
    manifest = Manifest(index_dir)
    metas = op.splits
    index_id = index_id or metas[0].index_id
    new_id = merged_split_id(index_id, op.split_ids)
    offsets = _docid_offsets(metas)
    # ONE job, ONE task: the operation's sources are read, merged and
    # written by one task, like a build task writing its split
    storage = get_storage(index_dir)
    spark.sparkContext.parallelize([0], 1).foreach(
        lambda _: _write_merged_split(index_dir, storage, new_id, offsets)
    )

    # --- merged metadata + atomic publish-and-replace
    field_tt: dict[str, int] | None = None
    if any(m.field_total_tokens for m in metas):
        field_tt = {}
        for m in metas:
            for f_, v in (m.field_total_tokens or {}).items():
                field_tt[f_] = field_tt.get(f_, 0) + v
    tags = sorted({t for m in metas for t in m.tags})
    # merged column stats: per field, min of mins / max of maxes — only
    # when EVERY source records the field (a missing range means "unknown",
    # and unknown ∪ known = unknown)
    franges: "dict | None" = None
    if all(m.field_ranges for m in metas):
        shared = set(metas[0].field_ranges)
        for m in metas[1:]:
            shared &= set(m.field_ranges)
        franges = {
            f_: [
                min(m.field_ranges[f_][0] for m in metas),
                max(m.field_ranges[f_][1] for m in metas),
            ]
            for f_ in sorted(shared)
        } or None
    starts = [m.time_range_start for m in metas if m.time_range_start]
    ends = [m.time_range_end for m in metas if m.time_range_end]
    meta = SplitMetadata(
        split_id=new_id,
        index_id=index_id,
        partition_id=combine_partition_ids([m.partition_id for m in metas]),
        num_docs=sum(m.num_docs for m in metas),
        uncompressed_docs_size_in_bytes=sum(
            m.uncompressed_docs_size_in_bytes for m in metas
        ),
        total_tokens=sum(m.total_tokens for m in metas),
        time_range_start=min(starts) if starts else None,
        time_range_end=max(ends) if ends else None,
        tags=tags,
        num_merge_ops=max(m.num_merge_ops for m in metas) + 1,
        generation=max(m.generation for m in metas) + 1,
        # last source's offset + its ceiling = exclusive bound of merged ids
        max_docid=sum(m.docid_ceiling for m in metas) - 1,
        field_total_tokens=field_tt,
        # a mixed-source merge wrote positions-less terms: degrade the whole
        # split so phrase queries fall back rather than hit null payloads
        record=(
            "position"
            if all(m.record == "position" for m in metas)
            else "freq"
        ),
        # the planner only groups same-config-generation splits, so the
        # merged split inherits its sources' (shared) config generation
        config_generation=metas[0].config_generation,
        field_ranges=franges,
    )
    manifest.stage(meta)
    manifest.publish([meta], replaced=op.split_ids)
    return meta


def garbage_collect(
    index_dir: str,
    deletion_grace_secs: float = 120.0,
    staged_grace_secs: float = 86_400.0,
    now: float | None = None,
) -> list[str]:
    """The janitor's GC pass (quickwit-janitor/src/garbage_collection.rs,
    actors/garbage_collector.rs:39-46):

    1. Staged splits whose last update is older than ``staged_grace_secs``
       (reference: 24 h) are dangling debris of a crashed build — mark them
       for deletion. A live build always publishes (or re-stages) well
       inside the grace window.
    2. MarkedForDeletion splits older than ``deletion_grace_secs``
       (reference: 120 s) have their files deleted and manifest rows
       dropped. The grace period is what makes GC safe under concurrent
       readers: a search plans against a manifest snapshot, so a split
       replaced by a merge *after* that snapshot must keep its files until
       every in-flight query over the old snapshot has drained — the
       reference bounds that by DELETION_GRACE_PERIOD rather than tracking
       readers (garbage_collector.rs:38-46 comment).

    Pass ``deletion_grace_secs=0`` for immediate reclaim (tests, `index
    clear`). Returns the split ids whose files were deleted."""
    import time as _time

    from quickwit_spark.index.storage import get_storage

    t_now = _time.time() if now is None else now
    storage = get_storage(index_dir)
    manifest = Manifest(index_dir)
    stale_staged = [
        m.split_id
        for m in manifest.list_all()
        if m.state == "Staged"
        and m.update_timestamp <= t_now - staged_grace_secs
    ]
    if stale_staged:
        # one atomic commit marks the whole stale set; they become
        # deletable once deletion_grace_secs passes
        manifest.publish([], replaced=stale_staged)
    removed: list[str] = []
    for m in manifest.list_all():
        if m.state != "MarkedForDeletion":
            continue
        if m.update_timestamp > t_now - deletion_grace_secs:
            continue  # inside the grace window: in-flight readers may hold it
        for sub in ("docstore", "postings"):
            # prefix delete through the storage seam: rmtree on POSIX,
            # LIST+DELETE on object stores (garbage_collection.rs analog)
            storage.delete_prefix(f"{sub}/split_id={m.split_id}")
        manifest.remove_split(m.split_id)
        removed.append(m.split_id)
    return removed


def run_merge_pipeline(
    spark: SparkSession,
    index_dir: str,
    policy: StableLogMergePolicy | None = None,
    max_rounds: int = 10,
) -> MergeMetrics:
    """Plan-and-execute loop: the MergePlanner feedback cycle
    (actors/merge_planner.rs:99-199) — re-plan after each round until the
    policy finds nothing further to merge."""
    policy = policy or StableLogMergePolicy()
    manifest = Manifest(index_dir)
    metrics = MergeMetrics()
    t0 = time.time()
    for _ in range(max_rounds):
        splits = manifest.list_published()
        # never merge across config generations: splits built under
        # different doc-mapper configs (tokenizer/record/field set) are not
        # re-encodable into one split without re-analyzing — plan each
        # generation's pool independently (the reference merge planner
        # groups by doc-mapping version the same way)
        by_gen: dict[int, list] = {}
        for m in splits:
            by_gen.setdefault(m.config_generation, []).append(m)
        ops = []
        for pool in by_gen.values():
            gops, _ = policy.operations(pool)
            ops.extend(gops)
        if not ops:
            break
        for op in ops:
            meta = execute_merge(spark, index_dir, op)
            metrics.num_ops += 1
            metrics.splits_merged += len(op.splits)
            metrics.docs_merged += meta.num_docs
            metrics.new_splits.append(meta.split_id)
    metrics.elapsed_sec = time.time() - t0
    return metrics
